#!/usr/bin/env python3
"""Benchmark of the graft engine: pipeline epochs at reference and backfill
scale, and a warehouse read/DML mix. See README.md.

    python3 perfbench/run.py --workload epoch_stream --seed 1 --seconds 12 --trace 0

Builds the engine and the harness from source (once per source state),
generates the workload's inputs from the seed, runs the harness JVM, checks
every output against an independent expectation, and prints one JSON line:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
STAMP = os.path.join(HERE, "target", "launch.sha256")
# Every run measures a fixed amount of work, `per_second x --seconds` units
# (epochs, or whole cycles of the 12-operation mix; at least `min_units`),
# sized so that a run lasts about --seconds on a 4-core host: the same
# seconds give the same work. `batch_rows` is the timed stream's
# micro-batch admission limit, `warm` the warm-up batches as <count>x<rows>.
WORKLOADS = {
    "epoch_stream": dict(batch_rows=1000, warm="6x1000", per_second=0.4,
                         min_units=4),
    "epoch_backfill": dict(batch_rows=50000, warm="1x1000,1x50000",
                           per_second=0.25, min_units=2),
    "warehouse_serve": dict(batch_rows=0, warm="", per_second=0.1, min_units=1),
}
SERVE_EPOCHS, SERVE_EPOCH_ROWS = 8, 15000
HARNESS_LIMIT_S = 150  # the run, build excluded, must end within 180 s

sys.path.insert(0, HERE)
import gen  # noqa: E402
import report  # noqa: E402


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """sbt compiles the engine (the repo's own build) and the harness, and
    writes the classpath plus the engine's JVM options to target/launch.txt."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no {need} next to {os.path.basename(HERE)}/: the engine's "
                "sources must be in the checkout")
    digest = source_hash()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp}").strip()
    log = os.path.join(HERE, "target", "build.log")
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.forcestart=false", "writeLaunch"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    if p.returncode != 0 or not os.path.exists(LAUNCH):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"build failed (sbt exit {p.returncode}); log in {log}")
    with open(STAMP, "w") as f:
        f.write(digest)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def cpu_times():
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
        return t[7] if len(t) > 7 else 0, sum(t)
    except (OSError, ValueError):
        return None


def units(workload, seconds):
    """Timed epochs, or timed operations."""
    w = WORKLOADS[workload]
    n = max(w["min_units"], round(seconds * w["per_second"]))
    return n * gen.CYCLE_OPS if workload == "warehouse_serve" else n


def inputs(workload, seed, n, d):
    w = WORKLOADS[workload]
    if workload == "warehouse_serve":
        cycles = n // gen.CYCLE_OPS + 1  # and one for a traced run's reference
        gen.write_serve_inputs(d, seed, SERVE_EPOCHS, SERVE_EPOCH_ROWS, cycles)
    else:
        warm = sum(int(k) * int(r) for k, r in (x.split("x") for x in w["warm"].split(",")))
        gen.write_epoch_inputs(d, seed, max(warm, n * w["batch_rows"]))


def harness(args, n, cores, work):
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    cp, opts = lines[0], lines[1:]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + opts + ["-cp", cp, "perfbench.Main",
                     "--workload", args.workload, "--in", os.path.join(work, "in"),
                     "--work", work, "--out", out, "--trace", str(args.trace),
                     "--cores", str(cores), "--units", str(n),
                     "--batch-rows", str(WORKLOADS[args.workload]["batch_rows"]),
                     "--warm", WORKLOADS[args.workload]["warm"]])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, cwd=work)
        try:
            rc = p.wait(timeout=HARNESS_LIMIT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"harness exceeded the time limit; log in {log}")
    if rc != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"harness failed (exit {rc}); log in {log}")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    build()
    setup_start = time.time()
    load_start, cpu_start = loadavg(), cpu_times()
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    n = units(args.workload, args.seconds)
    inputs(args.workload, args.seed, n, os.path.join(work, "in"))
    cores = len(os.sched_getaffinity(0))
    res = harness(args, n, cores, work)
    res["setup_s"] = res["timed_start_ms"] / 1000.0 - setup_start
    cpu_end = cpu_times()
    # CPU time the hypervisor gave to other guests: load loadavg cannot see
    steal = (100.0 * (cpu_end[0] - cpu_start[0]) / max(1, cpu_end[1] - cpu_start[1])
             if cpu_start and cpu_end else None)
    env = {"seed": args.seed, "cores": cores, "master": res["master"],
           "shuffle_partitions": res["shuffle_partitions"],
           "heap_max_mb": res["heap_max_mb"], "loadavg_start": load_start,
           "loadavg_end": loadavg(), "cpu_steal_pct": steal, "trace": args.trace}
    summary = report.summarize(args.workload, os.path.join(work, "in"), res, args.trace)
    summary["env"] = env
    with open(os.path.join(WORK, f"last_{args.workload}.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print("perfbench " + json.dumps({"report": summary["report"], "env": env}))
    print(json.dumps(summary["result"]))


if __name__ == "__main__":
    main()
