"""``feed_live``: the paper's path. Debezium change events in,
canonical feed rows visible, per-user pages served.

Set-up drains a week of change history in one wide micro-batch (every
day x 32 user buckets is a sink partition). The measured window then
runs open-loop: a generator thread publishes change files on a fixed
schedule while a reader thread requests pages on a fixed schedule,
both against the same running query. After the window the feed is
compacted and served again, uncached and from a warm ``FeedCache``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import threading
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.harness import Run, pct

# cdc_fixture_json's event_type -> source table mapping ("mystery" is an
# unknown table and must land in the dead letters).
TYPE_TABLE = {
    "purchase": "likes",
    "view": "comments",
    "signup": "shards",
    "click": "followers",
    "error": "mystery",
}
PAGE_LIMIT = 20

# Offered load: one 1000-event change file every 3.5 s keeps the
# pipeline busy about a third of the time on 4 cores. Batches then never
# queue (freshness measures the batch, not a backlog), and most pages
# fall between batches, so the page median does not flip between the
# idle and the contended latency from run to run; p95 is a contended page.
LIVE_FILE_EVERY_S = 3.5
LIVE_FILE_EVENTS = 1000
LIVE_PAGE_EVERY_S = 0.7  # one page request per interval
HISTORY_DAYS = 7
HISTORY_FILES = 8
SERVE_PAGES = 8  # closed-loop pages after the window, per serving form

# Canonical rows a change log should produce, in the style of the
# cdc_canonical_activities oracle. ``changes`` has (event_id, ts_ms,
# user_id, event_type, props).
EXPECTED_SQL = """
    SELECT CAST(user_id AS VARCHAR) AS user_id,
           CASE event_type WHEN 'purchase' THEN 'LIKE_SHARD'
                           WHEN 'view' THEN 'COMMENT_SHARD'
                           WHEN 'signup' THEN 'CREATE_SHARD'
                           WHEN 'click' THEN 'FOLLOW_USER' END AS activity_type,
           ts_ms,
           CASE event_type
                WHEN 'click' THEN CAST(user_id + 1 AS VARCHAR)
                WHEN 'signup' THEN CAST(event_id AS VARCHAR)
                ELSE json_extract_string(props, '$.k') END AS target_id,
           CASE event_type WHEN 'click' THEN 'user' ELSE 'shard' END AS target_type,
           CAST(event_id AS VARCHAR) AS pk
    FROM changes
    WHERE event_type <> 'error' AND event_id % 10 NOT IN (0, 5)
"""
FEED_SQL = """
    SELECT user_id, activity_type, epoch_ms(event_timestamp) AS ts_ms, target_id,
           target_type, metadata['primary_key_value'][1] AS pk
    FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true)
"""
DEAD_LETTER_SQL = """
    SELECT CASE WHEN event_type = 'error' THEN 'unknown_table'
                ELSE 'non_create_op' END AS reason, count(*) AS n
    FROM changes
    WHERE event_type = 'error' OR event_id % 10 IN (0, 5)
    GROUP BY 1
"""


def change_record(event_id: int, event_type: str, user_id: int, props: str, ts_ms: int) -> str:
    """One Debezium-shaped JSON line, as cdc_fixture_json maps an event."""
    op = "u" if event_id % 10 == 0 else "d" if event_id % 10 == 5 else "c"
    table = TYPE_TABLE[event_type]
    k = json.loads(props)["k"]
    uid = str(user_id)
    if table == "likes":
        rec = {"id": event_id, "shard_id": k, "liked_by": uid}
    elif table == "comments":
        rec = {"id": event_id, "message": props, "user_id": uid, "shard_id": k}
    elif table == "shards":
        rec = {"id": event_id, "title": f"shard {event_id}", "user_id": uid,
               "templateType": "react", "mode": "normal", "type": "public"}
    elif table == "followers":
        rec = {"id": event_id, "follower_id": uid, "following_id": str(user_id + 1)}
    else:
        rec = {"id": event_id}
    rec.update({"__op": op, "__table": table, "__source_ts_ms": ts_ms, "__source_table": table})
    return json.dumps(rec)


def publish(src_dir: str, name: str, lines: list[str]) -> None:
    """Atomic publish: the file source ignores dot-prefixed names."""
    tmp = os.path.join(src_dir, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.rename(tmp, os.path.join(src_dir, name))


def zipf_users(rng: np.random.Generator, users: list[str], n: int, s: float = 1.1) -> list[str]:
    ranks = np.arange(1, len(users) + 1, dtype=np.float64)
    p = ranks ** -s
    order = rng.permutation(len(users))
    picks = rng.choice(len(users), size=n, p=p / p.sum())
    return [users[order[i]] for i in picks]


def page_offsets(rng: np.random.Generator, n: int) -> list[int]:
    """Page offsets in a fixed mix, shuffled: 70% first pages, the rest
    the second or third page. A fixed mix keeps the latency median from
    drifting between the offset-0 and the windowed offset>0 plan."""
    n_deep = (3 * n) // 10
    offsets = [0] * (n - n_deep) + [PAGE_LIMIT * (1 + i % 2) for i in range(n_deep)]
    return [int(x) for x in rng.permutation(offsets)]


def event_users(run: Run, data_dir: str) -> list[str]:
    """Distinct users of ``events``, read through the engine's table loader."""
    from pyspark.sql import functions as F
    from user_feed_cdc_spark.sources.tables import load_table

    t0 = time.perf_counter()
    with run.tracer.span("tables.load_table"):
        rows = (
            load_table(run.spark, data_dir, "events")
            .select(F.col("user_id").cast("string").alias("u")).distinct().collect()
        )
    run.layer("tables.load_table_s", time.perf_counter() - t0)
    return sorted(r.u for r in rows)


def timed_page(run: Run, read, user: str, offset: int) -> tuple[list, float, float]:
    """One page: build the DataFrame, then collect it. Returns rows and
    the build and collect times in seconds."""
    with run.tracer.span("cdc_pipeline.serve.page"):
        t0 = time.perf_counter()
        with run.tracer.span("cdc_pipeline.serve.build"):
            df = read(user, offset)
        t1 = time.perf_counter()
        with run.tracer.span("cdc_pipeline.serve.exec"):
            rows = df.collect()
        t2 = time.perf_counter()
    return rows, t1 - t0, t2 - t1


def page_ok(rows, user: str, expect_ms: list[int] | None) -> bool:
    """Rows belong to ``user``, newest first, and (when known) carry the
    expected event timestamps."""
    if len(rows) > PAGE_LIMIT or any(r.user_id != user for r in rows):
        return False
    got = [_ms(r.event_timestamp) for r in rows]
    if got != sorted(got, reverse=True):
        return False
    return expect_ms is None or got == expect_ms


def _ms(ts: dt.datetime) -> int:
    """Epoch ms of a collected timestamp (naive UTC: the run pins TZ=UTC)."""
    return round(ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)


def check_feed(run: Run, con, feed_path: str) -> None:
    """The feed table equals the canonical rows of ``changes``, each once."""
    con.execute(f"CREATE OR REPLACE VIEW feed AS {FEED_SQL.format(path=feed_path)}")
    con.execute(f"CREATE OR REPLACE VIEW want AS {EXPECTED_SQL}")
    missing, extra, n_want = con.execute(
        "SELECT (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM feed)),"
        " (SELECT count(*) FROM (SELECT * FROM feed EXCEPT ALL SELECT * FROM want)),"
        " (SELECT count(*) FROM want)"
    ).fetchone()
    run.check(n_want > 0, "no valid creates were generated")
    run.mismatches(missing, "valid creates missing from the feed table")
    run.mismatches(extra, "feed rows not produced by exactly one valid create")
    run.attempted += n_want - missing


def check_dead_letters(run: Run, con, dl_path: str) -> None:
    want = dict(con.execute(DEAD_LETTER_SQL).fetchall())
    got = dict(con.execute(
        f"SELECT reason, count(*) FROM read_parquet('{dl_path}/**/*.parquet', "
        "hive_partitioning = true) GROUP BY 1").fetchall())
    for reason in sorted(set(want) | set(got)):
        run.layer(f"cdc_pipeline.ingest.dead_letters.{reason}", got.get(reason, 0))
        run.mismatches(abs(got.get(reason, 0) - want.get(reason, 0)),
                       f"dead letters '{reason}' differ from the generator")
    run.attempted += sum(want.values())


def progress_layers(run: Run, progress: list[dict], window_s: float) -> None:
    """Per-batch phases of cdc_pipeline.ingest from the query's progress events."""
    batches = [p for p in progress if p["numInputRows"] > 0]
    if not batches:
        return
    dur = lambda key: [p["durationMs"].get(key, 0) for p in batches]  # noqa: E731
    trigger = dur("triggerExecution")
    rows = [p["numInputRows"] for p in batches]
    run.layer("cdc_pipeline.ingest.batches", len(batches))
    run.layer("cdc_pipeline.ingest.rows_per_batch_p50", statistics.median(rows))
    run.layer("cdc_pipeline.ingest.busy_frac", min(1.0, sum(trigger) / 1000.0 / window_s))
    run.layer("cdc_pipeline.ingest.processed_rows_per_s", sum(rows) / (sum(trigger) / 1000.0))
    run.layer("cdc_pipeline.ingest.trigger_ms_p50", pct(trigger, 50))
    run.layer("cdc_pipeline.ingest.trigger_ms_p95", pct(trigger, 95))
    for key in ("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets"):
        run.layer(f"cdc_pipeline.ingest.{key}_ms_p50", pct(dur(key), 50))


def batch_end_ms(progress: list[dict]) -> dict[int, float]:
    """Batch id -> wall-clock end: progress timestamp + triggerExecution."""
    out = {}
    for p in progress:
        start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        start_ms = start.replace(tzinfo=dt.timezone.utc).timestamp() * 1000.0
        out[p["batchId"]] = start_ms + p["durationMs"]["triggerExecution"]
    return out


def file_batches(checkpoint: str) -> dict[str, int]:
    """File name -> batch id, from the checkpoint's file-source log."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out = {}
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = rec["batchId"]
    return out


def sink_layers(run: Run, feed_path: str) -> None:
    """Files and bytes the partitioned sink wrote, per micro-batch."""
    per_batch: dict[str, list[int]] = {}
    total = 0
    for dirpath, _, files in os.walk(feed_path):
        parts = [p for p in dirpath.split(os.sep) if p.startswith("_batch_id=")]
        for f in files:
            if f.endswith(".parquet"):
                total += 1
                if parts:
                    per_batch.setdefault(parts[-1], []).append(
                        os.path.getsize(os.path.join(dirpath, f)))
    run.layer("cdc_pipeline.ingest.feed_files_total", total)
    if per_batch:
        run.layer("cdc_pipeline.ingest.sink_files_per_batch",
                  statistics.median(len(v) for v in per_batch.values()))
        run.layer("cdc_pipeline.ingest.sink_bytes_per_batch",
                  statistics.median(sum(v) for v in per_batch.values()))


def count_parquet(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, files in os.walk(path) for f in files)


def serve_layers(run: Run, builds: list[float], execs: list[float]) -> None:
    run.layer("cdc_pipeline.serve.build_ms_p50", pct(builds, 50) * 1000)
    run.layer("cdc_pipeline.serve.exec_ms_p50", pct(execs, 50) * 1000)


def eventlog_serve_and_ingest(run: Run, feed_path: str, dl_path: str) -> None:
    """Per-page job/task/file counts and sink write time from the event log."""
    log = run.eventlog
    pages = max(1, run.tracer.count("cdc_pipeline.serve.page"))
    descs = ("cdc_pipeline.serve.build", "cdc_pipeline.serve.exec")
    run.layer("cdc_pipeline.serve.jobs_per_page", sum(log.desc(d, "jobs") for d in descs) / pages)
    run.layer("cdc_pipeline.serve.tasks_per_page", sum(log.desc(d, "tasks") for d in descs) / pages)
    run.layer("cdc_pipeline.serve.files_read_per_page",
              sum(log.desc(d, "files_read") for d in descs) / pages)
    run.layer("cdc_pipeline.ingest.feed_write_task_s", log.run_s_writing(feed_path))
    run.layer("cdc_pipeline.ingest.dead_letter_write_task_s", log.run_s_writing(dl_path))


# ---------------------------------------------------------------------------
# feed_live
# ---------------------------------------------------------------------------


class Generator(threading.Thread):
    """Open-loop publisher: one change file every LIVE_FILE_EVERY_S,
    rows drawn cyclically from the seeded ``events`` table under fresh
    event ids (so every valid create must land exactly once), stamped
    with the emission wall clock."""

    def __init__(self, events, src_dir: str, stop_at: float, first_id: int):
        super().__init__(daemon=True)
        self.events = events
        self.src_dir = src_dir
        self.stop_at = stop_at
        self.next_id = first_id
        self.emitted: list[tuple] = []  # (event_id, ts_ms, user_id, event_type, props)
        self.stamps: dict[str, tuple[int, int]] = {}  # file -> (emit ms, rows)
        self.lateness: list[float] = []
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            n_ev = len(self.events["event_id"])
            t0, k = time.time(), 0
            while True:
                due = t0 + k * LIVE_FILE_EVERY_S
                if due >= self.stop_at:
                    return
                time.sleep(max(0.0, due - time.time()))
                self.lateness.append(time.time() - due)
                stamp = int(time.time() * 1000)
                lines = []
                for _ in range(LIVE_FILE_EVENTS):
                    i = self.next_id % n_ev
                    row = (self.next_id, stamp, int(self.events["user_id"][i]),
                           self.events["event_type"][i], self.events["props"][i])
                    self.emitted.append(row)
                    lines.append(change_record(row[0], row[3], row[2], row[4], stamp))
                    self.next_id += 1
                name = f"changes-{k:06d}.jsonl"
                publish(self.src_dir, name, lines)
                self.stamps[name] = (stamp, LIVE_FILE_EVENTS)
                k += 1
        except Exception as e:  # re-raised by the caller after join
            self.error = e


class Reader(threading.Thread):
    """Open-loop page requests: one every LIVE_PAGE_EVERY_S, each timed
    from its due time, so a stalled request delays the ones behind it."""

    def __init__(self, run: Run, feed_path: str, users: list[str], offsets: list[int], stop_at: float):
        super().__init__(daemon=True)
        self.run_ctx = run
        self.feed_path = feed_path
        self.users = users
        self.offsets = offsets
        self.stop_at = stop_at
        self.latency_ms: list[float] = []
        self.builds: list[float] = []
        self.execs: list[float] = []
        self.lateness: list[float] = []
        self.ok = 0
        self.bad: list[str] = []

    def run(self) -> None:
        spark = self.run_ctx.spark
        read = lambda u, o: _read(spark, self.feed_path, u, o)  # noqa: E731
        t0 = time.time()
        for k, (user, offset) in enumerate(zip(self.users, self.offsets)):
            due = t0 + k * LIVE_PAGE_EVERY_S
            if due >= self.stop_at:
                return
            time.sleep(max(0.0, due - time.time()))
            self.lateness.append(time.time() - due)
            try:
                rows, b, e = timed_page(self.run_ctx, read, user, offset)
            except Exception as exc:  # a failed page counts, the loop goes on
                self.bad.append(f"page error: {type(exc).__name__}: {str(exc)[:120]}")
                continue
            self.latency_ms.append((time.time() - due) * 1000.0)
            self.builds.append(b)
            self.execs.append(e)
            if page_ok(rows, user, None):
                self.ok += 1
            else:
                self.bad.append(f"live page for user {user} is not that user's newest-first rows")


def write_change_log(src_dir: str, events: dict, n_files: int) -> list[tuple]:
    """History as change files, each event stamped with its own ``ts``.
    Returns the rows in the generator's (id, ts_ms, user, type, props) form."""
    rows = list(zip(events["event_id"], events["ts_ms"], events["user_id"],
                    events["event_type"], events["props"]))
    bounds = np.linspace(0, len(rows), n_files + 1).astype(int)
    for f in range(n_files):
        publish(src_dir, f"history-{f:03d}.jsonl", [
            change_record(int(r[0]), r[3], int(r[2]), r[4], int(r[1]))
            for r in rows[bounds[f]:bounds[f + 1]]
        ])
    return rows


def feed_live(run: Run) -> None:
    from user_feed_cdc_spark.streaming.cdc_pipeline import (
        FeedCache,
        compact_feed,
        run_cdc_pipeline,
    )

    spark = run.start_spark()
    data_dir = run.path("data")

    def generate() -> dict:
        table = datagen.events_table(np.random.default_rng(run.seed), run.scale, HISTORY_DAYS)
        ev = table.to_pydict()
        ev["ts_ms"] = [int(t) for t in table.column("ts").cast(pa.int64()).to_numpy() // 1000]
        return ev

    events = run.timed_setup("generate_s", generate, repeats=3)
    os.makedirs(data_dir, exist_ok=True)
    pq.write_table(pa.table({k: v for k, v in events.items() if k != "ts_ms"}),
                   os.path.join(data_dir, "events.parquet"))
    users = run.timed_setup("load_table_s", lambda: event_users(run, data_dir))
    src, feed, ckpt, dl, compacted = (
        run.path(p) for p in ("src", "feed", "ckpt", "dead", "compact"))
    os.makedirs(src)
    history = run.timed_setup("write_history_s",
                              lambda: write_change_log(src, events, HISTORY_FILES))

    def backfill():
        with run.tracer.span("cdc_pipeline.ingest.backfill"):
            query = run_cdc_pipeline(spark, src, feed, ckpt, available_now=False,
                                     dead_letter_path=dl)
            query.processAllAvailable()
        return query

    query = run.timed_setup("backfill_s", backfill)

    def warm() -> None:
        # JIT of the page path, so the first measured pages do not pay it
        for offset in (0, PAGE_LIMIT):
            _read(spark, feed, users[0], offset).collect()

    run.timed_setup("warm_pages_s", warm)
    backfilled = [dict(p) for p in query.recentProgress if p["numInputRows"] > 0]
    run.calibrate_overhead(lambda: timed_page(
        run, lambda u, o: _read(spark, feed, u, o), users[0], 0))

    rng = np.random.default_rng(run.seed + 1)
    n_req = int(run.seconds / LIVE_PAGE_EVERY_S) + 1
    first_batch = len(query.recentProgress)
    start = time.time()
    stop_at = start + run.seconds
    gen = Generator(events, src, stop_at, len(history))
    reader = Reader(run, feed, zipf_users(rng, users, n_req), page_offsets(rng, n_req), stop_at)
    gen.start()
    reader.start()
    gen.join(run.seconds + 60)
    reader.join(run.seconds + 120)
    window = time.time() - start
    if gen.is_alive() or reader.is_alive():
        raise RuntimeError("load generator did not finish")
    if gen.error is not None:
        raise gen.error
    with run.tracer.span("cdc_pipeline.ingest.drain"):
        query.processAllAvailable()
    progress = [dict(p) for p in query.recentProgress]
    exc = query.exception()
    query.stop()
    run.check(exc is None, f"streaming query failed: {exc}")

    # freshness: emission stamp of each file -> end of the batch that committed it
    ends = batch_end_ms(progress)
    fresh = []
    for name, batch in file_batches(ckpt).items():
        if name in gen.stamps:
            stamp, rows = gen.stamps[name]
            fresh += [(ends[batch] - stamp) / 1000.0] * rows
    run.check(len(fresh) == sum(r for _, r in gen.stamps.values()),
              "some published files were never committed by a batch")
    for msg in reader.bad:
        run.check(False, msg)
    run.attempted += reader.ok
    lat = reader.latency_ms

    # after the window: compact, then serve closed-loop pages checked
    # against DuckDB's per-user top-k over everything published
    con = duckdb.connect()
    con.execute("CREATE TABLE changes (event_id BIGINT, ts_ms BIGINT, user_id BIGINT, "
                "event_type VARCHAR, props VARCHAR)")
    con.executemany("INSERT INTO changes VALUES (?, ?, ?, ?, ?)", history + gen.emitted)
    expect = dict(con.execute(
        f"SELECT user_id, list(ts_ms ORDER BY ts_ms DESC) FROM ({EXPECTED_SQL}) GROUP BY 1"
    ).fetchall())
    t0 = time.perf_counter()
    with run.tracer.span("cdc_pipeline.serve.compact_feed"):
        compact_feed(spark, feed, compacted)
    compact_s = time.perf_counter() - t0
    plat, _ = serve_closed(run, rng, users, expect, "compacted",
                              lambda u, o: _read(spark, compacted, u, o))
    cache = FeedCache(spark, compacted)
    t0 = time.perf_counter()
    with run.tracer.span("cdc_pipeline.serve.cache_cold"):
        cache.page(users[0], PAGE_LIMIT, 0).collect()
    cold_s = time.perf_counter() - t0
    clat, cexecs = serve_closed(run, rng, users, expect, "cached",
                                   lambda u, o: cache.page(u, PAGE_LIMIT, o))
    stored = sum(i.memSize() + i.diskSize()
                 for i in spark.sparkContext._jsc.sc().getRDDStorageInfo())
    cache.invalidate()

    run.e2e.update({
        "request_p50_ms": pct(lat, 50),
        "request_p95_ms": pct(lat, 95),
        "data_path_s": pct(fresh, 50),
    })
    for name, value, unit in (
        ("freshness_p50_s", pct(fresh, 50), "s"),
        ("freshness_p95_s", pct(fresh, 95), "s"),
        ("live_page_p50_ms", pct(lat, 50), "ms"),
        ("live_page_p95_ms", pct(lat, 95), "ms"),
        ("live_pages", len(lat), "count"),
        ("offered_events_per_s", LIVE_FILE_EVENTS / LIVE_FILE_EVERY_S, "1/s"),
        ("generator_lateness_max_s", max(gen.lateness), "s"),
        ("reader_lateness_p50_s", pct(reader.lateness, 50), "s"),
        ("reader_lateness_max_s", max(reader.lateness), "s"),
        ("backfill_events_per_s",
         sum(p["numInputRows"] for p in backfilled) / run.setup_parts["backfill_s"], "1/s"),
        ("backfill_batches", len(backfilled), "count"),
        ("compact_s", compact_s, "s"),
        ("page_p50_ms", pct(plat, 50), "ms"),
        ("page_p95_ms", pct(plat, 95), "ms"),
        ("cached_page_p50_ms", pct(clat, 50), "ms"),
        ("cached_page_p95_ms", pct(clat, 95), "ms"),
    ):
        run.detail_metric(name, value, unit)
    progress_layers(run, progress[first_batch:], window)
    serve_layers(run, reader.builds, reader.execs)
    sink_layers(run, feed)
    run.layer("cdc_pipeline.serve.cache_cold_page_s", cold_s)
    run.layer("cdc_pipeline.serve.cache_warm_exec_ms_p50", pct(cexecs, 50))
    run.layer("cdc_pipeline.serve.cache_stored_bytes", stored)
    run.layer("cdc_pipeline.serve.compact_files_in", count_parquet(feed))
    run.layer("cdc_pipeline.serve.compact_files_out", count_parquet(compacted))

    check_feed(run, con, feed)
    check_dead_letters(run, con, dl)
    run.after_stop = lambda: eventlog_serve_and_ingest(run, feed, dl)


def serve_closed(run: Run, rng, users: list[str], expect: dict, label: str, read):
    """SERVE_PAGES pages from one closed-loop client, each compared with
    the user's expected newest-first timestamps. Returns the page and
    collect latencies in ms."""
    lat, execs = [], []
    for user, offset in zip(zipf_users(rng, users, SERVE_PAGES), page_offsets(rng, SERVE_PAGES)):
        t0 = time.perf_counter()
        try:
            rows, _, e = timed_page(run, read, user, offset)
        except Exception as exc:  # a failed page counts, the loop goes on
            run.check(False, f"{label} page error: {type(exc).__name__}: {str(exc)[:120]}")
            continue
        lat.append((time.perf_counter() - t0) * 1000.0)
        execs.append(e * 1000.0)
        want = expect.get(user, [])[offset:offset + PAGE_LIMIT]
        run.check(page_ok(rows, user, want),
                  f"{label} page for user {user} differs from DuckDB's top-k")
    return lat, execs


def _read(spark, feed_path: str, user: str, offset: int):
    from user_feed_cdc_spark.streaming.cdc_pipeline import read_user_feed

    return read_user_feed(spark, feed_path, user, PAGE_LIMIT, offset)
