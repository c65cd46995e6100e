"""Seeded input generator for the benchmark workloads.

Everything the program reads is written here, from the seed alone:

* the epoch workloads get the four dimension files (JSON arrays, read by
  ``DimLoader``), the analytics facts of three content owners (parquet) and
  a pool of raw videos (parquet, ``ingest_seq`` = arrival order);
* ``warehouse_serve`` gets pipeline-shaped warehouse epochs (all-string
  rows, as a drain commits them), a fixed operation sequence, and the
  answer the generator expects for every read in it.

The fixture follows the c30 battery entry, widened to the reference's
shape: 28 channels plus one unknown id, title codes of every length the
stage-2 rules accept plus the purge cases, and three content owners whose
coverage overlaps (a later owner's rows for an already-served video must be
anti-joined away) and leaves gaps (videos with no metrics at all).
"""
import bisect
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WINDOW_START = "2024-05-01T00:00:00Z"
WINDOW_END = "2024-05-02T23:59:59Z"
OWNERS = ["owner1", "owner2", "owner3"]
OWNER_TYPE = {"owner1": "vod", "owner2": "short", "owner3": "live"}

CHANNELS = [(f"UC{i:02d}", f"Channel {i:02d}") for i in range(28)]
UNKNOWN_CHANNEL = "UCzz"

# main codes the stage-2 rules keep: 3 chars (code = all 3), 4 chars
# (code = first 2), 5 chars (code = first 3); one lowercase letter allowed
VALID_CODES = (["AB%d" % d for d in range(10)] + ["NWx"]
               + ["CDE%d" % d for d in range(10)] + ["SPTa"]
               + ["WXYZ%d" % d for d in range(10)])
# purged: all digits, >1 lowercase, wrong length
PURGED_CODES = ["2024", "12345", "xyzw", "abC", "AB", "ABCDEF", "Q"]

EMPLOYEES = ([("Team %s" % n, str(d)) for d, n in enumerate(
    ["Alpha", "Beta", "Gamma", "Delta", "Echo", "Foxtrot", "Golf"])]
    + [("Team Alpha Old", "0"), ("Team Hotel", "0")]  # last wins for "0"
    + [("Team Lower", "a"), ("Team X", "x")])

SHOWS = ([("AB%d" % d, "Show AB%d" % d, "B%d" % (d % 3),
           "International News" if d < 2 else
           ("Entertainment" if d < 6 else "Sports")) for d in range(8)]
         + [("CD", "Daily Clips", "BC", "News"),
            ("SP", "Sport Desk", "BS", "Sports"),
            ("WXY", "Weekly Review", "BW", "Entertainment"),
            ("NWx", "Night Watch", "BN", "News")])

CPM_CATEGORIES = [("Show AB0", "ShouldNotAppear"), ("Show AB2", "Premium"),
                  ("Show AB3", "Standard"), ("Show AB6", "Premium"),
                  ("Daily Clips", "News Basic"), ("Weekly Review", "Standard"),
                  ("Sport Desk", "Sports Plus"), ("Sport Desk", "Sports Max")]

WORDS = ["Show", "Clip", "Ep", "Talk", "News", "Live", "Recap", "Short"]


def _write_json(path, rows, keys):
    with open(path, "w") as f:
        json.dump([dict(zip(keys, r)) for r in rows], f, indent=0)


def write_dims(d):
    os.makedirs(d, exist_ok=True)
    chans = CHANNELS + [("UC03", "Channel 03 (renamed)")]  # last wins
    _write_json(f"{d}/channels.json", chans, ["channel_id", "channel_name"])
    _write_json(f"{d}/employees.json", EMPLOYEES, ["team", "employee_code"])
    _write_json(f"{d}/shows.json", SHOWS,
                ["code", "show_name", "broadcaster", "category"])
    _write_json(f"{d}/cpm_categories.json", CPM_CATEGORIES,
                ["shows_name", "cpm_category"])


def videos(rng, n):
    """`n` raw video rows in arrival order. About 3% are re-fetches of an
    earlier video (same id, higher ingest_seq), some with a new title, and
    about 2% fall outside the ingest window."""
    uniq = rng.permutation(4 * n)[:n]
    ids = np.array(["v%09d" % u for u in uniq], dtype=object)
    refetch = rng.random(n) < 0.03
    back = np.maximum(0, np.arange(n) - rng.integers(1, 3000, n))
    ids[refetch] = ids[back[refetch]]
    codes = np.array(VALID_CODES + PURGED_CODES, dtype=object)
    pcode = np.where(rng.random(n) < 0.85,
                     rng.integers(0, len(VALID_CODES), n),
                     len(VALID_CODES) + rng.integers(0, len(PURGED_CODES), n))
    word = rng.integers(0, len(WORDS), n)
    num = rng.integers(1, 100000, n)
    shape = rng.integers(0, 3, n)
    titles = np.empty(n, dtype=object)
    for i in range(n):
        c = codes[pcode[i]]
        w = WORDS[word[i]]
        s = shape[i]
        titles[i] = (f"{w} {num[i]} | {c}" if s == 0 else
                     f"{w} | {num[i]} | {c}" if s == 1 else f"{w} {num[i]} {c}")
    secs = rng.integers(0, 2 * 86400, n)
    secs[rng.random(n) < 0.02] = 2 * 86400 + 3600  # outside the window
    base = np.datetime64("2024-05-01T00:00:00")
    pub = np.datetime_as_string(base + secs.astype("timedelta64[s]"), unit="s")
    pub = np.char.add(pub.astype(str), "Z")
    ch = rng.integers(0, len(CHANNELS) + 1, n)
    chan = np.array([c for c, _ in CHANNELS] + [UNKNOWN_CHANNEL],
                    dtype=object)[ch]
    return pa.table({
        "video_id": pa.array(ids, pa.string()),
        "video_title": pa.array(titles, pa.string()),
        "published_at": pa.array(pub, pa.string()),
        "channel_id": pa.array(chan, pa.string()),
        "ingest_seq": pa.array(np.arange(n, dtype=np.int64)),
    })


def facts(rng, video_ids):
    """Analytics facts per (video, owner). Coverage per video: owner1 only
    (1 or 2 rows, summed/averaged by the API aggregate), owner2 only,
    owner3 only, owner1 and owner2 (owner2's rows must lose), owner2 and
    owner3 (owner3's rows must lose), or no owner at all."""
    ids = np.unique(np.asarray(video_ids, dtype=object))
    n = len(ids)
    u = rng.random(n)
    cover = [
        (u < 0.35, ["owner1"]),
        ((u >= 0.35) & (u < 0.55), ["owner2"]),
        ((u >= 0.55) & (u < 0.70), ["owner3"]),
        ((u >= 0.70) & (u < 0.80), ["owner1", "owner2"]),
        ((u >= 0.80) & (u < 0.90), ["owner2", "owner3"]),
    ]
    cols = {k: [] for k in ["video_id", "content_owner_id", "content_type",
                            "views", "minutes_watched", "avg_view_duration_s",
                            "comments", "likes", "shares", "revenue", "cpm",
                            "subs_gained", "subs_lost"]}
    for mask, owners in cover:
        sel = ids[mask]
        for owner in owners:
            reps = 2 if owner == "owner1" else 1
            for j in range(reps):
                if j == 1:  # a second fact row for about half of owner1's
                    sel = sel[rng.random(len(sel)) < 0.5]
                m = len(sel)
                cols["video_id"].append(sel)
                cols["content_owner_id"].append(np.full(m, owner, object))
                cols["content_type"].append(np.full(m, OWNER_TYPE[owner], object))
                cols["views"].append(rng.integers(1, 2000, m))
                cols["minutes_watched"].append(rng.integers(0, 100, m) * 1.5)
                # even durations: the two-row average stays integral
                cols["avg_view_duration_s"].append(rng.integers(0, 1800, m) * 2)
                cols["comments"].append(rng.integers(0, 40, m))
                cols["likes"].append(rng.integers(0, 60, m))
                cols["shares"].append(rng.integers(0, 20, m))
                cols["revenue"].append(rng.integers(4, 200, m) * 2.5)
                cols["cpm"].append(rng.integers(1, 16, m) * 0.5)
                cols["subs_gained"].append(rng.integers(0, 30, m))
                cols["subs_lost"].append(rng.integers(0, 14, m))
    out = {}
    for k, parts in cols.items():
        v = np.concatenate(parts)
        if k in ("video_id", "content_owner_id", "content_type"):
            out[k] = pa.array(v, pa.string())
        elif k in ("minutes_watched", "revenue", "cpm"):
            out[k] = pa.array(v.astype(np.float64))
        else:
            out[k] = pa.array(v.astype(np.int64))
    return pa.table(out)


def write_epoch_inputs(d, seed, pool_rows):
    """Dims, facts and a video pool of `pool_rows` rows under `d`."""
    rng = np.random.default_rng([seed, 1])
    write_dims(f"{d}/dims")
    v = videos(rng, pool_rows)
    pq.write_table(v, f"{d}/videos.parquet")
    pq.write_table(facts(rng, v.column("video_id").to_numpy(zero_copy_only=False)),
                   f"{d}/facts.parquet")


# ---------------------------------------------------------------- serve

STAGING_COLUMNS = [
    "video_id", "video_title", "channel_name", "published_at", "main_code",
    "len", "code", "resource_code", "resource_name", "show_name",
    "broadcaster", "category", "published_date_local", "published_time_local",
    "content_type", "views", "watch_time_hours", "avg_view_duration",
    "comments", "likes", "shares", "estimated_revenue", "cpm",
    "subscribers_gained", "subscribers_lost", "net_subscribers",
    "engagement_rate", "cpv", "rpm", "cpm_category", "ingest_seq"]
CATEGORIES = ["International News", "Entertainment", "Sports", "News", ""]
CHANNEL_NAMES = [n for _, n in CHANNELS] + ["Unknown Channel"]


def cycle(c):
    """Cycle `c` of the operation mix: one snapshot rollup, eight key lookups
    and three key-bound writes (one write per three reads). Successive
    cycles alternate the rollup and the range lookup between the catalog
    SQL and the AtomicWarehouse.read paths. Connector point lookups are the
    largest class, so the median operation of a run is one of them, not a
    boundary between two classes of different cost."""
    via = "sql" if c % 2 == 0 else "read"
    return [f"scan_{via}", "point_sql", "point_read", "point_sql", "update",
            "point_sql", f"range_{via}", "point_read", "delete", "point_sql",
            "point_sql", "merge"]


CYCLE_OPS = len(cycle(0))
ID_SPACE = 4  # ids are drawn from ID_SPACE x the row count


def _strs(ints):
    return pa.compute.cast(pa.array(ints), pa.string())


def _with_nulls(arr, mask):
    return pa.compute.if_else(pa.array(mask), pa.nulls(len(arr), pa.string()), arr)


class Model:
    """The warehouse snapshot as the generator expects it: the newest
    version of every live key, plus per-channel and per-category rollups
    kept up to date as the operations edit it."""

    def __init__(self, rows):
        self.rows = rows  # id -> [title, views or None, channel, category]
        self.keys = sorted(rows)  # live ids
        self.by = {"channel": {}, "category": {}}
        for row in rows.values():
            self._acc(row, +1)

    def _acc(self, row, sign):
        for name, pos in (("channel", 2), ("category", 3)):
            agg = self.by[name].setdefault(row[pos], [0, 0, 0])
            agg[0] += sign
            if row[1] is not None:
                agg[1] += sign * row[1]
                agg[2] += sign  # rows with views, for NULL sums

    def put(self, vid, row):
        old = self.rows.get(vid)
        if old is not None:
            self._acc(old, -1)
        else:
            bisect.insort(self.keys, vid)
        self.rows[vid] = row
        self._acc(row, +1)

    def drop(self, vid):
        self._acc(self.rows.pop(vid), -1)
        del self.keys[bisect.bisect_left(self.keys, vid)]

    def rollup(self, name):
        out = []
        for k, (n, s, nv) in self.by[name].items():
            if n > 0:
                out.append("%s|%d|%s" % ("NULL" if k is None else k, n,
                                         s if nv > 0 else "NULL"))
        return ";".join(sorted(out))

    def point(self, vid):
        r = self.rows.get(vid)
        if r is None:
            return ""
        return "%s|%s" % ("NULL" if r[0] is None else r[0],
                          "NULL" if r[1] is None else r[1])

    def range(self, lo, hi):
        a, b = bisect.bisect_left(self.keys, lo), bisect.bisect_right(self.keys, hi)
        vs = [self.rows[k][1] for k in self.keys[a:b]]
        vs = [v for v in vs if v is not None]
        return "%d|%s" % (b - a, sum(vs) if vs else "NULL")


def _serve_table(rng, d, table, epochs, rows_per_epoch, cycles):
    """One warehouse of `epochs` pipeline-shaped epochs under `d/table`
    (parquet, one file per epoch, all-string columns plus `load_seq`),
    `cycles` repetitions of the operation mix against it, and the expected
    result of each operation, computed by replaying the edits on a
    `Model`."""
    os.makedirs(f"{d}/{table}", exist_ok=True)
    total = epochs * rows_per_epoch
    rows = {}
    ids = rng.permutation(ID_SPACE * total)[:total]
    for e in range(epochs):
        n = rows_per_epoch
        nums = ids[e * n:(e + 1) * n].copy()
        if e > 0:  # about 5% re-version keys of earlier epochs
            again = rng.random(n) < 0.05
            nums[again] = ids[rng.integers(0, e * n, int(again.sum()))]
            nums = np.unique(nums)
        n = len(nums)
        vid = np.array(["v%09d" % x for x in nums], dtype=object)
        chan = np.array(CHANNEL_NAMES, dtype=object)[rng.integers(0, len(CHANNEL_NAMES), n)]
        cat = np.array(CATEGORIES, dtype=object)[rng.integers(0, len(CATEGORIES), n)]
        views = rng.integers(1, 5000, n)
        vnull = rng.random(n) < 0.1
        titles = np.char.add("Title ", rng.integers(0, 10**6, n).astype(str)).astype(object)
        cols = {c: None for c in STAGING_COLUMNS}
        cols["video_id"] = pa.array(vid, pa.string())
        cols["video_title"] = pa.array(titles, pa.string())
        cols["channel_name"] = pa.array(chan, pa.string())
        cols["category"] = pa.array(cat, pa.string())
        cols["views"] = _with_nulls(_strs(views), vnull)
        secs = rng.integers(0, 2 * 86400, n)
        base = np.datetime64("2024-05-01T00:00:00")
        pub = np.datetime_as_string(base + secs.astype("timedelta64[s]"), unit="s")
        cols["published_at"] = pa.array(np.char.add(pub.astype(str), "Z"), pa.string())
        codes = np.array(VALID_CODES + [""], dtype=object)[rng.integers(0, len(VALID_CODES) + 1, n)]
        cols["main_code"] = pa.array(codes, pa.string())
        cols["len"] = _strs(np.array([len(c) for c in codes]))
        for c in ["code", "resource_code", "resource_name", "show_name",
                  "broadcaster", "published_date_local", "published_time_local",
                  "content_type", "avg_view_duration", "cpm_category"]:
            vocab = np.array(["%s_%d" % (c, k) for k in range(12)], dtype=object)
            cols[c] = pa.array(vocab[rng.integers(0, 12, n)], pa.string())
        for c in ["comments", "likes", "shares", "subscribers_gained",
                  "subscribers_lost", "net_subscribers", "ingest_seq"]:
            cols[c] = _with_nulls(_strs(rng.integers(0, 100, n)), vnull)
        for c in ["watch_time_hours", "estimated_revenue", "cpm",
                  "engagement_rate", "cpv", "rpm"]:
            cols[c] = _with_nulls(_strs(rng.integers(0, 10000, n) / 100.0), vnull)
        cols["load_seq"] = pa.array(np.full(n, e + 1, dtype=np.int64))
        pq.write_table(pa.table(cols), f"{d}/{table}/epoch_{e + 1:03d}.parquet")
        for i in range(n):
            rows[vid[i]] = [titles[i], None if vnull[i] else int(views[i]),
                            chan[i], cat[i]]
    model = Model(rows)

    ops, expected = [], []
    fresh = iter(range(ID_SPACE * total, ID_SPACE * total + 10**6))
    span = ID_SPACE * 500  # about 500 keys per range

    def live():
        return model.keys[int(rng.integers(0, len(model.keys)))]

    deleted = []
    for c in range(cycles):
        for kind in cycle(c):
            if kind in ("scan_sql", "scan_read"):
                ops.append([table, kind])
                expected.append(model.rollup("channel" if kind == "scan_sql" else "category"))
            elif kind.startswith("point"):
                # now and then ask for a deleted key: tombstones must hide it
                vid = deleted[-1] if deleted and rng.random() < 0.25 else live()
                ops.append([table, kind, vid])
                expected.append(model.point(vid))
            elif kind.startswith("range"):
                lo = int(live()[1:])
                lo_s, hi_s = "v%09d" % lo, "v%09d" % (lo + span)
                ops.append([table, kind, lo_s, hi_s])
                expected.append(model.range(lo_s, hi_s))
            elif kind == "update":
                vid = live()
                t, v, c, g = model.rows[vid]
                model.put(vid, [None if t is None else t + " *",
                                None if v is None else v + 7, c, g])
                ops.append([table, kind, vid])
                expected.append("OK")
            elif kind == "delete":
                gone = sorted({live(), live()})
                for vid in gone:
                    model.drop(vid)
                deleted.extend(gone)
                ops.append([table, kind, ",".join(gone)])
                expected.append("OK")
            elif kind == "merge":
                src = []
                for vid in sorted({live(), live()}) + ["v%09d" % next(fresh)]:
                    title = "Merged %d" % rng.integers(0, 10**6)
                    views = int(rng.integers(1, 5000))
                    chan = CHANNEL_NAMES[int(rng.integers(0, len(CHANNEL_NAMES)))]
                    old = model.rows.get(vid)
                    model.put(vid, [title, views, old[2], old[3]] if old
                              else [title, views, chan, None])
                    src.append("%s|%s|%d|%s" % (vid, title, views, chan))
                ops.append([table, kind, ";".join(src)])
                expected.append("OK")
    return ops, expected


def write_serve_inputs(d, seed, epochs, rows_per_epoch, cycles):
    """The `videos` warehouse and its operations, after two cycles of
    operations on a small `warm` warehouse of the same shape (warm-up):
    `ops.tsv` lines are `<table>\t<kind>\t<args>`, `expected.json` the
    expected result of each line."""
    rng = np.random.default_rng([seed, 2])
    ops, expected = _serve_table(rng, d, "warm", 3, 2000, 2)
    o, e = _serve_table(rng, d, "videos", epochs, rows_per_epoch, cycles)
    ops, expected = ops + o, expected + e
    with open(f"{d}/ops.tsv", "w") as f:
        f.write("\n".join("\t".join(o) for o in ops) + "\n")
    with open(f"{d}/expected.json", "w") as f:
        json.dump(expected, f)
