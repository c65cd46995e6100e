"""Independent DuckDB replay of the seven pipeline stages, and the check of
a warehouse snapshot against it.

The replay follows the c30 battery entry's declarative oracle
(``Extended60.pipelineOracle``): window filter, keep-last per video,
channel default, title-code rules, employee/show lookups, the three-owner
anti-join metrics loop, H:MM:SS rendering, the +05:00 local split, the rate
derivations with Spark's string-based HALF_UP rounding, the International
News cpm override, and the all-string warehouse edge. Values compare the
way ``tools/check.py`` canonicalizes them: numeric strings as doubles
rounded to 9 digits, everything else as text.
"""
import json

import duckdb

NUMERIC = ["len", "views", "watch_time_hours", "comments", "likes", "shares",
           "estimated_revenue", "cpm", "subscribers_gained", "subscribers_lost",
           "net_subscribers", "engagement_rate", "cpv", "rpm", "ingest_seq"]
COLUMNS = ["video_id", "video_title", "channel_name", "published_at",
           "main_code", "len", "code", "resource_code", "resource_name",
           "show_name", "broadcaster", "category", "published_date_local",
           "published_time_local", "content_type", "views", "watch_time_hours",
           "avg_view_duration", "comments", "likes", "shares",
           "estimated_revenue", "cpm", "subscribers_gained", "subscribers_lost",
           "net_subscribers", "engagement_rate", "cpv", "rpm", "cpm_category",
           "ingest_seq", "load_seq"]


def rnd(e, k):
    """Spark rounds a double through its decimal string, HALF_UP."""
    return f"CAST(round(CAST(CAST(({e}) AS VARCHAR) AS DECIMAL(38,18)), {k}) AS DOUBLE)"


def _dim(con, name, path, key, cols):
    """A dimension file with DimLoader's semantics: trimmed key, blank keys
    dropped, last occurrence in file order wins."""
    last = {}
    with open(path) as f:
        rows = json.load(f)
    for row in rows:
        k = row.get(key)
        k = k.strip() if isinstance(k, str) else k
        if k:
            last[k] = {**row, key: k}
    con.execute(f"CREATE TABLE {name} ({', '.join(c + ' VARCHAR' for c in cols)})")
    if last:
        con.executemany(f"INSERT INTO {name} VALUES ({', '.join('?' for _ in cols)})",
                        [[r.get(c) for c in cols] for r in last.values()])


def replay(con, inputs, rows, batch_rows, window):
    """Creates table `expected`: the snapshot the pipeline must leave after
    draining the first `rows` pool videos in batches of `batch_rows`."""
    _dim(con, "ch", f"{inputs}/dims/channels.json", "channel_id",
         ["channel_id", "channel_name"])
    _dim(con, "emp", f"{inputs}/dims/employees.json", "employee_code",
         ["team", "employee_code"])
    _dim(con, "sh", f"{inputs}/dims/shows.json", "code",
         ["code", "show_name", "broadcaster", "category"])
    _dim(con, "cpmc", f"{inputs}/dims/cpm_categories.json", "shows_name",
         ["shows_name", "cpm_category"])
    lo, hi = window
    owner_agg = lambda owner, exclude: f"""
        SELECT video_id AS vid, content_type, sum(views) AS views,
          sum(minutes_watched) AS minutes_watched,
          CAST(trunc(avg(avg_view_duration_s)) AS BIGINT) AS avg_view_duration_s,
          sum(comments) AS comments, sum(likes) AS likes, sum(shares) AS shares,
          sum(revenue) AS revenue, avg(cpm) AS cpm,
          sum(subs_gained) AS subs_gained, sum(subs_lost) AS subs_lost
        FROM f WHERE content_owner_id = '{owner}'
          AND video_id IN (SELECT video_id FROM s3)
          {''.join(f' AND video_id NOT IN (SELECT vid FROM {x})' for x in exclude)}
        GROUP BY video_id, content_type"""
    con.execute(f"""
    CREATE TABLE expected AS
    WITH v AS (
      SELECT * FROM read_parquet('{inputs}/videos.parquet') WHERE ingest_seq < {rows}),
    w AS (SELECT * FROM v WHERE published_at >= '{lo}' AND published_at <= '{hi}'),
    s1 AS (
      SELECT w.video_id, w.video_title, w.published_at, w.ingest_seq,
        coalesce(ch.channel_name, 'Unknown Channel') AS channel_name,
        w.ingest_seq // {batch_rows} + 1 AS load_seq
      FROM w LEFT JOIN ch USING (channel_id)
      QUALIFY row_number() OVER (PARTITION BY w.video_id ORDER BY w.ingest_seq DESC) = 1),
    tc AS (
      SELECT *, regexp_extract(trim(replace(video_title, '|', ' ')), '(\\S+)$', 1) AS last_tok
      FROM s1),
    mcx AS (
      SELECT *, CASE
          WHEN length(last_tok) NOT IN (3, 4, 5) THEN ''
          WHEN regexp_matches(last_tok, '^[0-9]+$') THEN ''
          WHEN length(regexp_replace(last_tok, '[^a-z]', '', 'g')) > 1 THEN ''
          ELSE last_tok END AS main_code
      FROM tc),
    s2 AS (
      SELECT mcx.*, length(main_code) AS len,
        CASE WHEN main_code = '' THEN ''
             WHEN length(main_code) = 4 THEN substr(main_code, 1, 2)
             ELSE substr(main_code, 1, 3) END AS code,
        CASE WHEN main_code = '' THEN ''
             ELSE substr(main_code, length(main_code), 1) END AS resource_code
      FROM mcx),
    s2e AS (
      SELECT s2.*, coalesce(emp.team, '') AS resource_name
      FROM s2 LEFT JOIN emp ON s2.resource_code = emp.employee_code),
    s3 AS (
      SELECT s2e.*, coalesce(sh.show_name, '') AS show_name,
        coalesce(sh.broadcaster, '') AS broadcaster,
        coalesce(sh.category, '') AS category
      FROM s2e LEFT JOIN sh USING (code)),
    f AS (SELECT * FROM read_parquet('{inputs}/facts.parquet')),
    m1 AS ({owner_agg('owner1', [])}),
    m2 AS ({owner_agg('owner2', ['m1'])}),
    m3 AS ({owner_agg('owner3', ['m1', 'm2'])}),
    m AS (SELECT * FROM m1 UNION ALL SELECT * FROM m2 UNION ALL SELECT * FROM m3),
    s5 AS (
      SELECT s3.*, m.content_type, CAST(m.views AS BIGINT) AS views,
        {rnd("m.minutes_watched / 60.0", 2)} AS watch_time_hours,
        CASE WHEN m.vid IS NULL THEN NULL ELSE
          CAST(m.avg_view_duration_s // 3600 AS VARCHAR) || ':' ||
          lpad(CAST((m.avg_view_duration_s % 3600) // 60 AS VARCHAR), 2, '0') || ':' ||
          lpad(CAST(m.avg_view_duration_s % 60 AS VARCHAR), 2, '0') END AS avg_view_duration,
        CAST(m.comments AS BIGINT) AS comments, CAST(m.likes AS BIGINT) AS likes,
        CAST(m.shares AS BIGINT) AS shares, m.revenue AS estimated_revenue, m.cpm,
        CAST(m.subs_gained AS BIGINT) AS subscribers_gained,
        CAST(m.subs_lost AS BIGINT) AS subscribers_lost
      FROM s3 LEFT JOIN m ON s3.video_id = m.vid),
    s6 AS (
      SELECT s5.*,
        strftime(strptime(published_at, '%Y-%m-%dT%H:%M:%SZ') + INTERVAL 5 HOUR,
                 '%Y-%m-%d') AS published_date_local,
        strftime(strptime(published_at, '%Y-%m-%dT%H:%M:%SZ') + INTERVAL 5 HOUR,
                 '%H:%M:%S') AS published_time_local,
        coalesce(subscribers_gained, 0) - coalesce(subscribers_lost, 0) AS net_subscribers,
        {rnd("CASE WHEN coalesce(views, 0) > 0 THEN ((coalesce(comments, 0) + "
             "coalesce(likes, 0) + coalesce(shares, 0)) / views) * 100 ELSE 0.0 END", 2)}
          AS engagement_rate,
        {rnd("CASE WHEN coalesce(views, 0) > 0 THEN "
             "coalesce(estimated_revenue, 0.0) / views ELSE 0.0 END", 6)} AS cpv
      FROM s5),
    s6r AS (SELECT s6.*, {rnd("cpv * 1000", 2)} AS rpm FROM s6)
    SELECT video_id, video_title, channel_name, published_at, main_code,
      CAST(len AS VARCHAR) AS len, code, resource_code, resource_name, show_name,
      broadcaster, category, published_date_local, published_time_local,
      content_type, CAST(views AS VARCHAR) AS views,
      CAST(watch_time_hours AS VARCHAR) AS watch_time_hours, avg_view_duration,
      CAST(comments AS VARCHAR) AS comments, CAST(likes AS VARCHAR) AS likes,
      CAST(shares AS VARCHAR) AS shares,
      CAST(estimated_revenue AS VARCHAR) AS estimated_revenue,
      CAST(cpm AS VARCHAR) AS cpm,
      CAST(subscribers_gained AS VARCHAR) AS subscribers_gained,
      CAST(subscribers_lost AS VARCHAR) AS subscribers_lost,
      CAST(net_subscribers AS VARCHAR) AS net_subscribers,
      CAST(engagement_rate AS VARCHAR) AS engagement_rate,
      CAST(cpv AS VARCHAR) AS cpv, CAST(rpm AS VARCHAR) AS rpm,
      CASE WHEN category = 'International News' THEN show_name
           ELSE coalesce(cpmc.cpm_category, '') END AS cpm_category,
      CAST(ingest_seq AS VARCHAR) AS ingest_seq, load_seq
    FROM s6r LEFT JOIN cpmc ON s6r.show_name = cpmc.shows_name""")


def _canon(table):
    cols = [f"round(TRY_CAST({c} AS DOUBLE), 9) AS {c}" if c in NUMERIC
            else f"CAST({c} AS BIGINT) AS {c}" if c == "load_seq" else c
            for c in COLUMNS]
    return f"SELECT {', '.join(cols)} FROM {table}"


def check_snapshot(inputs, snapshot_glob, rows, batch_rows, window):
    """Compares the pipeline's final snapshot with the replay. Returns
    (wrong epochs as a sorted list of load_seq, expected row count, the
    snapshot's canonical hash, a few differing rows)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    replay(con, inputs, rows, batch_rows, window)
    con.execute(f"CREATE VIEW got AS SELECT * FROM read_parquet('{snapshot_glob}')")
    con.execute(f"CREATE TABLE a AS {_canon('got')}")
    con.execute(f"CREATE TABLE b AS {_canon('expected')}")
    diff = con.execute("""
        SELECT 'extra' AS side, * FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
        UNION ALL
        SELECT 'missing', * FROM (SELECT * FROM b EXCEPT ALL SELECT * FROM a)""").fetchall()
    load_seq = 1 + COLUMNS.index("load_seq")
    wrong = sorted({r[load_seq] for r in diff})
    n = con.execute("SELECT count(*) FROM b").fetchone()[0]
    digest = con.execute(
        "SELECT md5(coalesce(string_agg(r, chr(10) ORDER BY r), '')) "
        "FROM (SELECT CAST(a AS VARCHAR) AS r FROM a)").fetchone()[0]
    return wrong, n, digest, diff[:3]


def expected_log_rows(inputs, rows, batch_rows, window):
    """Rows each epoch commits (load_seq -> count): the batch's windowed
    videos after its own keep-last dedup."""
    lo, hi = window
    con = duckdb.connect()
    got = con.execute(f"""
        SELECT ingest_seq // {batch_rows} + 1 AS load_seq, count(DISTINCT video_id)
        FROM read_parquet('{inputs}/videos.parquet')
        WHERE ingest_seq < {rows} AND published_at >= '{lo}' AND published_at <= '{hi}'
        GROUP BY 1""").fetchall()
    return {int(k): int(v) for k, v in got}
