"""Turns the harness's raw result into checked metrics.

`summarize` returns the result line the benchmark prints (`result`: correct,
attempted, failed, metrics) and a human report with every figure under the
names the design uses (`report`), including the ones that are not gated.
"""
import json
import math
import statistics

import oracle

WINDOW = ("2024-05-01T00:00:00Z", "2024-05-02T23:59:59Z")

END_TO_END = {  # name -> unit; printed with --trace 0
    "setup_s": "s", "p50_ms": "ms", "throughput": "1/s", "heap_retained_mb": "MiB"}

PER_LAYER = {  # name -> unit; printed with --trace 1, per epoch or per operation
    "streaming.wal_ms": "ms", "streaming.overhead_ms": "ms",
    "catalyst.plan_ms": "ms", "catalyst.executions": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_gap_ms": "ms", "spark.task_ms": "ms", "spark.gc_ms": "ms",
    "spark.shuffle_bytes": "bytes",
    "pipeline.ms": "ms", "pipeline.jobs": "count", "sources.ms": "ms",
    "sinks.check_ms": "ms", "sinks.commit_ms": "ms", "sinks.truncate_ms": "ms",
    "sinks.read_ms": "ms", "sinks.jobs": "count",
    "fs.creates": "count", "fs.renames": "count", "fs.deletes": "count",
    "fs.lists": "count", "fs.opens": "count", "fs.status": "count",
    "fs.write_amplification": "ratio",
    "connector.rows_read_per_row_returned": "ratio",
    "connector.ms": "ms", "connector.files_opened": "count",
    "connector.scan_task_ms": "ms", "plans.ms": "ms", "plans.dml_jobs": "count", "plans.dml_bytes_written": "bytes",
    "plans.dml_files_written": "count",
    "trace.p50_ms": "ms", "trace.overhead_ms": "ms"}


def tail(values):
    """The highest percentile with at least ten samples beyond it, as
    {value, percentile, n}; value and percentile are None below 11 samples."""
    n = len(values)
    if n < 11:
        return {"value": None, "percentile": None, "n": n}
    k = n - 11  # sorted index with exactly ten values above it
    return {"value": sorted(values)[k], "percentile": round(100.0 * (k + 1) / n, 1),
            "n": n}


def error_rate(outcomes):
    """outcomes: one entry per attempted epoch or operation, each "ok",
    "wrong" or "failed". Both kinds of failure count; none is dropped."""
    attempted = len(outcomes)
    failed = sum(1 for o in outcomes if o != "ok")
    return attempted, failed, (failed / attempted if attempted else 1.0)


def _metrics(values, units):
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


def _epoch_outcomes(inputs, res):
    """Per planned epoch: committed and correct ("ok"), committed with wrong
    content ("wrong"), or never committed ("failed")."""
    rows, b = res["pool_rows"], res["batch_rows"]
    planned = math.ceil(rows / b)
    want = oracle.expected_log_rows(inputs, rows, b, WINDOW)
    got = {int(k): v for k, v in res["committed_rows"].items()}
    bad = {e for e in range(1, planned + 1) if got.get(e, 0) != want.get(e, 0)}
    check = {"expected_rows": None, "hash": None, "diff": []}
    if res["snapshot"]:
        wrong, n, digest, diff = oracle.check_snapshot(
            inputs, res["snapshot"] + "/*.parquet", rows, b, WINDOW)
        bad |= set(wrong)
        check = {"expected_rows": n, "hash": digest, "diff": [str(d) for d in diff]}
    else:
        bad |= set(range(1, planned + 1))
    outcomes = ["ok" if e not in bad else ("wrong" if e in got else "failed")
                for e in range(1, planned + 1)]
    return outcomes, check


def _serve_outcomes(inputs, res):
    with open(f"{inputs}/expected.json") as f:
        expected = json.load(f)
    outcomes, diffs = [], []
    for op in res["ops"]:
        if op["error"] is not None:
            outcomes.append("failed")
            diffs.append({"i": op["i"], "error": op["error"][:300]})
        elif op["result"] != expected[op["i"]]:
            outcomes.append("wrong")
            diffs.append({"i": op["i"], "got": op["result"][:200],
                          "want": expected[op["i"]][:200]})
        else:
            outcomes.append("ok")
    return outcomes, {"diff": diffs[:5]}


def _layers(c, units, wall_ms, input_bytes, dml_ops, lookup):
    per = lambda v: v / units if units else 0.0
    ms = lambda layer: c.get(f"sampled.{layer}", 0) / 1e6
    out = {
        "streaming.wal_ms": per(c.get("streaming.wal_ms", 0)),
        "streaming.overhead_ms": per(c.get("streaming.overhead_ms", 0)),
        "catalyst.plan_ms": per(c.get("catalyst.plan_ms", 0)),
        "catalyst.executions": per(c.get("catalyst.executions", 0)),
        "spark.jobs": per(c.get("spark.jobs", 0)),
        "spark.stages": per(c.get("spark.stages", 0)),
        "spark.tasks": per(c.get("spark.tasks", 0)),
        "spark.driver_gap_ms": per(wall_ms - c.get("spark.job_union_ms", 0)),
        "spark.task_ms": per(c.get("spark.task_ms", 0)),
        "spark.gc_ms": per(c.get("spark.gc_ms", 0)),
        "spark.shuffle_bytes": per(c.get("spark.shuffle_bytes", 0)),
        "pipeline.ms": per(ms("pipeline")),
        "pipeline.jobs": per(c.get("jobs.pipeline", 0)),
        "sources.ms": per(ms("sources")),
        "sinks.check_ms": per(ms("sinks.check")),
        "sinks.commit_ms": per(ms("sinks.commit")),
        "sinks.truncate_ms": per(ms("sinks.truncate")),
        "sinks.read_ms": per(ms("sinks.read")),
        "connector.ms": per(ms("connector")),
        "plans.ms": per(ms("plans")),
        "sinks.jobs": per(sum(c.get(f"jobs.sinks.{k}", 0)
                              for k in ("check", "commit", "truncate"))),
        "fs.write_amplification": (c.get("fs.bytes_written", 0) / input_bytes
                                   if input_bytes else 0.0),
        "connector.rows_read_per_row_returned": (lookup[0] / lookup[1]
                                                 if lookup[1] else 0.0),
        "connector.files_opened": per(c.get("connector.files_opened", 0)),
        "connector.scan_task_ms": per(c.get("connector.scan_task_ms", 0)),
        "plans.dml_jobs": c.get("jobs@dml", 0) / dml_ops if dml_ops else 0.0,
        "plans.dml_bytes_written": (c.get("fs.bytes_written@dml", 0) / dml_ops
                                    if dml_ops else 0.0),
        "plans.dml_files_written": (c.get("fs.files_written@dml", 0) / dml_ops
                                    if dml_ops else 0.0),
    }
    for k in ("creates", "renames", "deletes", "lists", "opens", "status"):
        out[f"fs.{k}"] = per(c.get(f"fs.{k}", 0))
    return out


def summarize(workload, inputs, res, trace):
    rep = {"workload": workload, "setup_s": res["setup_s"],
           "heap_retained_mb": res["heap_retained_mb"]}
    if workload.startswith("epoch_"):
        ms = [e[0] for e in res["epochs"]]
        outcomes, check = _epoch_outcomes(inputs, res)
        committed = sum(res["committed_rows"].values())
        p50 = statistics.median(ms) if ms else None
        throughput = committed / res["stream_wall_s"]
        rep.update({"epoch_p50_s": p50 and p50 / 1000,
                    "epoch_tail_s": tail([m / 1000 for m in ms]),
                    "epochs": len(ms), "epochs_ms": ms, "rows_per_s": throughput,
                    "committed_rows": committed, "stream_wall_s": res["stream_wall_s"],
                    "warm_epochs_ms": res["warm_epochs_ms"], "warm_s": res["warm_s"],
                    "error": res["error"], "check": check})
        units, wall_ms = len(ms), res["stream_wall_s"] * 1000
        dml_ops, lookup = 0, (0, 0)
        ref = res["reference_epochs_ms"]
        untraced_p50 = statistics.median(ref) if ref else None
    else:
        timed = [o for o in res["ops"] if o["timed"]]
        outcomes, check = _serve_outcomes(inputs, res)
        ms = [o["ms"] for o in timed]
        p50 = statistics.median(ms) if ms else None
        throughput = len(timed) / res["timed_s"] if res["timed_s"] else 0.0
        by = lambda cls: [o["ms"] for o in timed if o["class"] == cls]
        med = lambda xs: statistics.median(xs) if xs else None
        rep.update({"scan_p50_ms": med(by("scan")), "lookup_p50_ms": med(by("lookup")),
                    "lookup_tail_ms": tail(by("lookup")), "dml_p50_ms": med(by("dml")),
                    "ops_per_s": throughput, "ops_timed": len(timed),
                    "build_s": res["build_s"], "warm_s": res["warm_s"], "check": check})
        units, wall_ms = len(timed), res["timed_s"] * 1000
        dml_ops = len(by("dml"))
        lookup = (res["lookup_rows_read"], res["lookup_rows_returned"])
        untraced = [o["ms"] for o in res["ops"] if o.get("untraced_ref")]
        untraced_p50 = statistics.median(untraced) if untraced else None
    attempted, failed, rate = error_rate(outcomes)
    rep.update({"error_rate": rate, "attempted": attempted, "failed": failed})
    if trace:
        values = _layers(res["counters"], units, wall_ms, res["input_bytes"],
                         dml_ops, lookup)
        values["trace.p50_ms"] = p50
        values["trace.overhead_ms"] = (p50 - untraced_p50
                                       if p50 and untraced_p50 else 0.0)
        rep["counters"] = res["counters"]
        metrics = _metrics(values, PER_LAYER)
    else:
        metrics = _metrics({"setup_s": res["setup_s"], "p50_ms": p50,
                            "throughput": throughput,
                            "heap_retained_mb": res["heap_retained_mb"]}, END_TO_END)
    result = {"correct": failed == 0 and bool(ms), "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return {"result": result, "report": rep}
