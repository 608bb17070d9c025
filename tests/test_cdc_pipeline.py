"""CDC streaming pipeline tests (SURVEY.md §5.2): Debezium-shaped JSONL
fixtures → file stream → canonical feed table, including the drop rules,
dead-letter paths, checkpoint resume, and same-millisecond ordering ties
(FIXTURES.md §B fixture requirements)."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from user_feed_cdc_spark.streaming.cdc_pipeline import (
    dead_letters,
    kafka_source_options,
    normalize_events,
    read_user_feed,
    run_cdc_pipeline,
)

BASE_TS = 1704456000000  # 2024-01-05T12:00:00Z in epoch ms


def _ev(table: str, op: str = "c", ts: int | None = BASE_TS, **payload) -> str:
    d = dict(payload)
    d["__op"] = op
    d["__table"] = table
    if ts is not None:
        d["__source_ts_ms"] = ts
    d["__source_table"] = table
    return json.dumps(d)


def fixture_lines() -> list[str]:
    return [
        # one valid create per table (reference strategy.py transforms T1-T4)
        _ev("likes", id=7, shard_id=3, liked_by="2"),
        _ev("comments", id=8, message="nice", user_id="4", shard_id=3, ts=BASE_TS + 1000),
        _ev("shards", id=9, title="t", user_id="5", templateType="react",
            mode="normal", type="public", ts=BASE_TS + 2000),
        _ev("followers", id=10, follower_id="2", following_id="1", ts=BASE_TS + 3000),
        # non-create ops: dropped (strategy.py:14-17)
        _ev("likes", op="u", id=11, shard_id=3, liked_by="2"),
        _ev("likes", op="d", id=12, shard_id=3, liked_by="2"),
        _ev("likes", op="r", id=13, shard_id=3, liked_by="2"),
        # missing __source_ts_ms: dropped (strategy.py:12-18)
        _ev("likes", id=14, shard_id=3, liked_by="2", ts=None),
        # unknown table: dead-letter (strategy.py:148-149)
        _ev("mystery", id=15),
        # same-user same-millisecond tie (SURVEY.md §7.3.1)
        _ev("likes", id=16, shard_id=4, liked_by="2", ts=BASE_TS + 5000),
        _ev("likes", id=17, shard_id=5, liked_by="2", ts=BASE_TS + 5000),
    ]


def test_normalize_batch_golden(spark):
    """The transforms, batch-mode, against hand-computed golden rows."""
    raw = spark.createDataFrame([(s,) for s in fixture_lines()], ["value"])
    out = normalize_events(raw).collect()
    assert len(out) == 6  # 4 singles + 2 tied likes
    by_type = {}
    for r in out:
        by_type.setdefault(r.activity_type, []).append(r)

    like = min(by_type["LIKE_SHARD"], key=lambda r: int(r.metadata["primary_key_value"]))
    assert like.user_id == "2"
    assert like.target_id == "3"
    assert like.target_type == "shard"
    assert like.event_timestamp.isoformat() == "2024-01-05T12:00:00"
    assert like.metadata == {
        "source_table": "likes",
        "primary_key_value": "7",
        "primary_key_field": "id",
        "primary_key_type": "integer",
    }

    comment = by_type["COMMENT_SHARD"][0]
    assert comment.user_id == "4"
    assert comment.metadata["message"] == "nice"
    assert comment.target_id == "3"

    shard = by_type["CREATE_SHARD"][0]
    assert shard.user_id == "5"
    assert shard.target_id == "9"  # the new post's own pk (strategy.py:90)
    assert shard.metadata["template_type"] == "react"
    assert shard.metadata["title"] == "t"

    follow = by_type["FOLLOW_USER"][0]
    assert follow.user_id == "2"
    assert follow.target_id == "1"
    assert follow.target_type == "user"

    # activity ids are unique even for same-ms ties
    ids = [r.activity_id for r in out]
    assert len(set(ids)) == len(ids)


def test_dead_letters_batch(spark):
    raw = spark.createDataFrame([(s,) for s in fixture_lines()], ["value"])
    dl = {(r.reason) for r in dead_letters(raw).collect()}
    assert dl == {"non_create_op", "missing_source_ts", "unknown_table"}
    counts = {r.reason: r.n for r in
              dead_letters(raw).groupBy("reason").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"non_create_op": 3, "missing_source_ts": 1, "unknown_table": 1}


def test_dead_letters_malformed_json(spark):
    """Garbage bytes on the topic must land in the dead-letter output
    with a reason — never crash the pipeline, never be silently dropped
    (the anti-`except: pass`). PERMISSIVE from_json maps some malformed
    inputs to an all-null struct rather than a null struct, so both
    unparseable_json and missing_source_table are legitimate reasons."""
    lines = fixture_lines() + ["{not json", "", "42", '"just a string"']
    raw = spark.createDataFrame([(s,) for s in lines], ["value"])
    dls = dead_letters(raw).collect()
    bad = [r for r in dls if r.reason in ("unparseable_json", "missing_source_table")]
    assert len(bad) == 4
    # and the canonical output is unaffected
    assert normalize_events(raw).count() == 6


def test_streaming_pipeline_end_to_end(spark, tmp_path):
    """File stream → checkpointed foreachBatch → partitioned feed table,
    then incremental resume: a second file adds only its own rows."""
    src = tmp_path / "cdc_in"
    feed = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    (src / "batch1.jsonl").write_text("\n".join(fixture_lines()) + "\n")

    q = run_cdc_pipeline(spark, str(src), feed, ckpt)
    q.awaitTermination()
    out1 = spark.read.parquet(feed)
    assert out1.count() == 6
    assert "activity_date" in out1.columns  # partition column
    assert set(out1.select("activity_type").distinct().toPandas()["activity_type"]) == {
        "LIKE_SHARD", "COMMENT_SHARD", "CREATE_SHARD", "FOLLOW_USER"
    }

    # resume from checkpoint: only the new file is processed
    time.sleep(1.1)
    (src / "batch2.jsonl").write_text(
        _ev("followers", id=20, follower_id="9", following_id="1", ts=BASE_TS + 9000) + "\n"
    )
    q2 = run_cdc_pipeline(spark, str(src), feed, ckpt)
    q2.awaitTermination()
    out2 = spark.read.parquet(feed)
    assert out2.count() == 7
    assert out2.filter(F.col("user_id") == "9").count() == 1


def test_feed_sink_commits_through_txn_log(spark, tmp_path):
    """The feed sink writing through the lakehouse committer
    (sink_format='txnlog'): (a) the txn-log snapshot read returns
    byte-for-byte the same activities as the dynamic-overwrite parquet
    layout over the same source, (b) the log shows one commit per
    micro-batch with the feed_sink txn watermark, and (c) a replay of
    the same batches (fresh source checkpoint, same app lineage —
    the redelivery case the watermark exists for) changes nothing."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter
    from user_feed_cdc_spark.streaming.cdc_pipeline import (
        file_json_stream,
        read_feed_txnlog,
        write_feed_stream,
    )

    src = tmp_path / "cdc_in"
    src.mkdir()
    (src / "batch1.jsonl").write_text("\n".join(fixture_lines()) + "\n")

    def run(feed, ckpt, fmt):
        acts = normalize_events(file_json_stream(spark, str(src)))
        q = write_feed_stream(
            acts, str(tmp_path / feed), str(tmp_path / ckpt),
            sink_format=fmt,
        )
        q.awaitTermination()

    run("feed_pq", "ck_pq", "parquet")
    run("feed_tx", "ck_tx", "txnlog")

    # activity_id is a per-run uuid; compare the deterministic columns
    key_cols = ["user_id", "activity_type", "event_timestamp", "target_id"]
    pq = spark.read.parquet(str(tmp_path / "feed_pq"))
    tx = read_feed_txnlog(spark, str(tmp_path / "feed_tx"))
    assert sorted(map(tuple, pq.select(*key_cols).collect())) == sorted(
        map(tuple, tx.select(*key_cols).collect())
    )
    assert {"activity_date", "user_bucket"} <= set(tx.columns)

    w = TxnLogWriter(str(tmp_path / "feed_tx"))
    assert w.latest_version() == 0  # one micro-batch -> one commit
    assert w.last_txn("feed_sink") == 0

    # redelivery: fresh checkpoint restarts batch ids at 0; the txn
    # watermark must make the replayed batch a no-op
    run("feed_tx", "ck_tx2", "txnlog")
    assert w.latest_version() == 0
    tx2 = read_feed_txnlog(spark, str(tmp_path / "feed_tx"))
    assert tx2.count() == tx.count()


def test_feed_txnlog_compaction_preserves_snapshot(spark, tmp_path):
    """compact_feed_txnlog: the atomic batch-file fold must leave the
    snapshot byte-identical, swap the live set to the single compacted
    file, keep the old batch files on disk (vacuum's job, not
    compaction's), and conflict if raced by another compaction."""
    import pytest

    from user_feed_cdc_spark.sources.txn_writer import (
        CommitConflict,
        TxnLogWriter,
    )
    from user_feed_cdc_spark.streaming.cdc_pipeline import (
        compact_feed_txnlog,
        file_json_stream,
        read_feed_txnlog,
        write_feed_stream,
    )

    src = tmp_path / "cdc_in"
    src.mkdir()
    (src / "batch1.jsonl").write_text("\n".join(fixture_lines()) + "\n")
    feed = str(tmp_path / "feed_tx")
    acts = normalize_events(file_json_stream(spark, str(src)))
    write_feed_stream(
        acts, feed, str(tmp_path / "ck"), sink_format="txnlog"
    ).awaitTermination()

    key_cols = ["user_id", "activity_type", "event_timestamp", "target_id"]
    before = sorted(
        map(tuple, read_feed_txnlog(spark, feed).select(*key_cols).collect())
    )
    w = TxnLogWriter(feed)
    racing = w.begin()
    for old in w.live_files():
        racing.remove(old)

    name = compact_feed_txnlog(spark, feed)
    assert w.live_files() == [name]
    after = sorted(
        map(tuple, read_feed_txnlog(spark, feed).select(*key_cols).collect())
    )
    assert before == after
    assert os.path.exists(os.path.join(feed, "batch00000"))  # vacuum's job

    with pytest.raises(CommitConflict):
        racing.commit()  # a racing compaction of the same files refuses


def test_upsert_pipeline_lifecycle(spark, tmp_path):
    """Upsert-mode materialization: a row APPEARS on create, CHANGES on
    update, VANISHES on delete — the c→u→d lifecycle the reference's
    create-only consumer drops — while an untouched key persists
    throughout; then a fresh-checkpoint replay of the same files
    reconverges to the identical final state (idempotence)."""
    from user_feed_cdc_spark.streaming.cdc_pipeline import (
        compact_feed_state,
        read_feed_state,
        run_cdc_upsert_pipeline,
    )

    src = tmp_path / "cdc_in"
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    def run():
        q = run_cdc_upsert_pipeline(spark, str(src), state, ckpt)
        q.awaitTermination()
        return {
            r.change_key: r for r in read_feed_state(spark, state).collect()
        }

    # batch 1: like created (+ a bystander follow that must survive)
    (src / "b1.jsonl").write_text(
        _ev("likes", id=7, shard_id=3, liked_by="2") + "\n"
        + _ev("followers", id=10, follower_id="2", following_id="1") + "\n"
    )
    st = run()
    assert set(st) == {"likes:7", "followers:10"}
    assert st["likes:7"].target_id == "3"
    assert st["likes:7"].activity_type == "LIKE_SHARD"

    # batch 2: the like is updated (new shard target, later ts)
    time.sleep(1.1)
    (src / "b2.jsonl").write_text(
        _ev("likes", op="u", id=7, shard_id=4, liked_by="2", ts=BASE_TS + 1000) + "\n"
    )
    st = run()
    assert set(st) == {"likes:7", "followers:10"}
    assert st["likes:7"].target_id == "4"  # changed

    # batch 3: the like is deleted (tombstone with row image, rewrite mode)
    time.sleep(1.1)
    (src / "b3.jsonl").write_text(
        _ev("likes", op="d", id=7, shard_id=4, liked_by="2", ts=BASE_TS + 2000) + "\n"
    )
    st = run()
    assert set(st) == {"followers:10"}  # vanished; bystander intact

    # idempotent replay: fresh checkpoint over the same files converges
    # to the same state (per-file batches to mirror the original runs)
    state2 = str(tmp_path / "state2")
    q = run_cdc_upsert_pipeline(
        spark, str(src), state2, str(tmp_path / "ckpt2"), max_files=1
    )
    q.awaitTermination()
    replay = {r.change_key: r for r in read_feed_state(spark, state2).collect()}
    assert set(replay) == {"followers:10"}
    assert replay["followers:10"].user_id == st["followers:10"].user_id

    # compaction snapshot answers identically without the window
    compacted = str(tmp_path / "state_c")
    compact_feed_state(spark, state, compacted)
    snap = spark.read.parquet(compacted)
    assert {r.change_key for r in snap.collect()} == {"followers:10"}


def test_upsert_same_millisecond_arrival_order(spark, tmp_path):
    """Two changes to one key in the SAME millisecond resolve by arrival
    order (_batch_id, _seq) — the TIMEUUID-tiebreak contract carried
    into upsert mode."""
    from user_feed_cdc_spark.streaming.cdc_pipeline import (
        read_feed_state,
        run_cdc_upsert_pipeline,
    )

    src = tmp_path / "cdc_in"
    src.mkdir()
    state = str(tmp_path / "state")
    # same ts: create then update in one batch — update arrived later
    (src / "b1.jsonl").write_text(
        _ev("likes", id=7, shard_id=3, liked_by="2") + "\n"
        + _ev("likes", op="u", id=7, shard_id=9, liked_by="2") + "\n"
    )
    q = run_cdc_upsert_pipeline(spark, str(src), state, str(tmp_path / "ckpt"))
    q.awaitTermination()
    st = {r.change_key: r for r in read_feed_state(spark, state).collect()}
    assert st["likes:7"].target_id == "9"


def test_feed_table_read_path(spark, tmp_path):
    """Feed query over the materialized feed table: per-user newest-first
    with deterministic tiebreak (the reference read path, main.py:136-168)."""
    src = tmp_path / "cdc_in"
    feed = str(tmp_path / "feed")
    src.mkdir()
    (src / "b.jsonl").write_text("\n".join(fixture_lines()) + "\n")
    q = run_cdc_pipeline(spark, str(src), feed, str(tmp_path / "ck"))
    q.awaitTermination()

    acts = spark.read.parquet(feed)
    user2 = (
        acts.filter(F.col("user_id") == "2")
        .orderBy(F.col("event_timestamp").desc(),
                 F.col("metadata")["primary_key_value"].desc())
        .collect()
    )
    # newest first: the two tied likes (ts+5000) before follow (ts+3000) before like (ts)
    assert [r.metadata["primary_key_value"] for r in user2] == ["17", "16", "10", "7"]


def test_dual_output_pipeline_with_dead_letters(spark, tmp_path):
    """One stream → feed table AND reasoned dead-letter table from a
    single parse (no silent drops in streaming mode — the anti-
    `except: pass`). Counts must partition the input exactly: 11 events
    = 6 canonical + 5 dead-lettered."""
    src = tmp_path / "cdc_in"
    feed = str(tmp_path / "feed")
    dl = str(tmp_path / "dead")
    src.mkdir()
    (src / "b.jsonl").write_text("\n".join(fixture_lines()) + "\n")
    q = run_cdc_pipeline(
        spark, str(src), feed, str(tmp_path / "ck"), dead_letter_path=dl
    )
    q.awaitTermination()
    assert spark.read.parquet(feed).count() == 6
    dls = spark.read.parquet(dl)
    assert dls.count() == 5
    reasons = {r.reason: r.n for r in
               dls.groupBy("reason").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert reasons == {"non_create_op": 3, "missing_source_ts": 1, "unknown_table": 1}


def test_connector_option_plumbing():
    """Cassandra sink + Postgres JDBC source option maps (reference
    deployment shape: cassandra-init.cql:6-15, env.py) — asserted without
    live services."""
    from user_feed_cdc_spark.streaming.cdc_pipeline import (
        cassandra_sink_options,
        jdbc_source_options,
    )

    c = cassandra_sink_options()
    assert c["keyspace"] == "codeshard" and c["table"] == "user_activity"
    j = jdbc_source_options("db:5432/codeshard", "followers")
    assert j["url"] == "jdbc:postgresql://db:5432/codeshard"
    assert j["dbtable"] == "followers"
    assert jdbc_source_options("jdbc:postgresql://x/y", "t")["url"].startswith("jdbc:")


def test_kafka_source_options():
    """The Kafka subscription contract (reference services/kafka.py:8-26,
    main.py:25-31), asserted without a broker — a topic-name typo here
    would otherwise only surface against live Kafka."""
    opts = kafka_source_options("broker:9092")
    assert opts["kafka.bootstrap.servers"] == "broker:9092"
    assert opts["startingOffsets"] == "earliest"
    assert sorted(opts["subscribe"].split(",")) == sorted(
        f"postgres.public.{t}" for t in ("followers", "likes", "comments", "shards")
    )
    assert kafka_source_options("b", "x,y")["subscribe"] == "x,y"


def test_kafka_subscription_round_trips_fixture_topology():
    """Round-trip the subscription against the FIXTURES.md corpus
    (r08 VERDICT item 7): every VALID fixture event routes to a topic
    the default subscription covers, and every subscribed topic is
    exercised by at least one fixture event — so the option map and
    the fixture corpus can't drift apart silently (a renamed table
    would orphan a topic on one side or the other). The unknown-table
    dead-letter fixture must NOT map to a subscribed topic: Debezium
    only publishes topics in the connector's table allowlist
    (debezium-postgres-connector.config.json:12), so 'mystery' rows
    reach the pipeline only through replays/misconfig — which is
    exactly why the dead-letter path, not the subscription, owns them."""
    from user_feed_cdc_spark.schemas import CDC_TABLES, CDC_TOPIC_PREFIX

    subscribed = set(kafka_source_options("b:9092")["subscribe"].split(","))
    fixture_topics = {
        f"{CDC_TOPIC_PREFIX}{json.loads(line)['__source_table']}"
        for line in fixture_lines()
    }
    known = {f"{CDC_TOPIC_PREFIX}{t}" for t in CDC_TABLES}
    assert subscribed == known  # the reference's 4-topic topology
    assert fixture_topics & subscribed == subscribed  # all topics exercised
    # the only unsubscribed fixture topic is the dead-letter probe
    assert fixture_topics - subscribed == {f"{CDC_TOPIC_PREFIX}mystery"}


def test_feed_cache_aside_invalidation(spark, tmp_path):
    """C1 cache-aside analog (reference main.py:142-146/cache.py:5-10):
    pages come from a persisted snapshot; a same-session CDC write
    refreshes the cached relation automatically (Spark refreshByPath —
    no Redis-style staleness window); an OUT-OF-BAND file drop is
    invisible to the snapshot until invalidate()."""
    import shutil
    from pathlib import Path

    from user_feed_cdc_spark.streaming.cdc_pipeline import (
        FeedCache,
        read_user_feed,
    )

    src = tmp_path / "cdc_in"
    feed = str(tmp_path / "feed")
    src.mkdir()
    (src / "batch1.jsonl").write_text("\n".join(fixture_lines()) + "\n")
    run_cdc_pipeline(spark, str(src), feed, str(tmp_path / "ck1")).awaitTermination()

    cache = FeedCache(spark, feed)
    direct = read_user_feed(spark, feed, "9", limit=10).collect()
    cached = cache.page("9", limit=10).collect()
    assert cached == direct
    frame_before = cache._frame
    assert frame_before is not None and frame_before.storageLevel.useMemory

    # same-session write: the sink's refreshByPath updates the cached
    # relation in place — the new user-9 row is visible WITHOUT eviction
    time.sleep(1.1)
    (src / "batch2.jsonl").write_text(
        _ev("followers", id=21, follower_id="9", following_id="3", ts=BASE_TS + 9000)
        + "\n"
    )
    run_cdc_pipeline(spark, str(src), feed, str(tmp_path / "ck2")).awaitTermination()
    after_write = cache.page("9", limit=10).collect()
    assert len(after_write) == len(cached) + 1
    assert cache._frame is frame_before  # same cache entry, refreshed in place

    # out-of-band write (no Spark session involved): duplicate a part
    # file inside an existing partition dir — the snapshot can't see it
    part = next(
        p
        for p in Path(feed).rglob("part-*.parquet")
        if "user_bucket" in str(p.parent)
    )
    shutil.copy(part, part.with_name("part-oob-copy.parquet"))
    assert cache.page("9", limit=10).collect() == after_write  # stale snapshot

    cache.invalidate()
    assert cache._frame is None
    fresh = cache.page("9", limit=10).collect()
    assert fresh == read_user_feed(spark, feed, "9", limit=10).collect()
    assert cache._frame is not frame_before  # rebuilt after eviction


def test_kafka_frame_normalizes_like_file_source(spark):
    """S1 contract: a kafka-shaped record frame (binary key/value +
    topic/partition/offset/timestamp — the exact schema
    spark-sql-kafka's load() emits) pushed through kafka_value_frame →
    normalize_events must produce the SAME canonical rows as the
    file-source path on identical payloads. No broker exists here, but
    this pins the cast/rename and the schema contract so a regression
    in either breaks CI, not production."""
    from pyspark.sql import types as T

    from user_feed_cdc_spark.streaming.cdc_pipeline import kafka_value_frame

    lines = fixture_lines()
    kafka_schema = T.StructType(
        [
            T.StructField("key", T.BinaryType()),
            T.StructField("value", T.BinaryType()),
            T.StructField("topic", T.StringType()),
            T.StructField("partition", T.IntegerType()),
            T.StructField("offset", T.LongType()),
            T.StructField("timestamp", T.TimestampType()),
            T.StructField("timestampType", T.IntegerType()),
        ]
    )
    records = spark.createDataFrame(
        [
            (None, ln.encode("utf-8"), "postgres.public.likes", 0, i, None, 0)
            for i, ln in enumerate(lines)
        ],
        kafka_schema,
    )
    via_kafka = kafka_value_frame(records)
    assert via_kafka.schema.simpleString() == "struct<value:string>"
    via_file = spark.createDataFrame([(ln,) for ln in lines], "value string")

    drop = {"activity_id", "_seq"}  # uuid / source-order id: per-run
    cols = [c for c in normalize_events(via_file).columns if c not in drop]
    got = sorted(map(tuple, normalize_events(via_kafka).select(cols).collect()))
    want = sorted(map(tuple, normalize_events(via_file).select(cols).collect()))
    assert got == want and len(got) == 6


def test_pipeline_status_counters(spark, tmp_path):
    """X1 status surface: after an availableNow run, pipeline_status
    reports the processed-row counters the reference's GET /status
    serves (main.py:79-83)."""
    from user_feed_cdc_spark.streaming.cdc_pipeline import pipeline_status

    src = tmp_path / "cdc_in"
    src.mkdir()
    (src / "batch1.jsonl").write_text("\n".join(fixture_lines()) + "\n")
    q = run_cdc_pipeline(
        spark, str(src), str(tmp_path / "feed"), str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    status = pipeline_status(q)
    assert status["running"] is False
    assert status["n_batches"] >= 1
    assert status["total_input_rows"] == len(fixture_lines())
    assert status["last_batch_id"] is not None
    assert status["exception"] is None
    assert status["query_id"] == str(q.id)


def test_sink_idempotent_replay(spark, tmp_path):
    """Replaying the same micro-batch (fresh checkpoint → same batch id)
    must NOT duplicate feed rows: the dynamic-overwrite-by-_batch_id sink
    replaces its own partitions. This is the §7.3.3 improvement over the
    reference's blind at-least-once append (env.py:14-15)."""
    src = tmp_path / "cdc_in"
    feed = str(tmp_path / "feed")
    src.mkdir()
    (src / "b.jsonl").write_text("\n".join(fixture_lines()) + "\n")

    run_cdc_pipeline(spark, str(src), feed, str(tmp_path / "ck1")).awaitTermination()
    assert spark.read.parquet(feed).count() == 6
    # replay: same input, fresh checkpoint → batch id 0 again, same feed path
    run_cdc_pipeline(spark, str(src), feed, str(tmp_path / "ck2")).awaitTermination()
    out = spark.read.parquet(feed)
    assert out.count() == 6
    dupes = (
        out.groupBy(F.col("metadata")["primary_key_value"])
        .count()
        .filter("count > 1")
        .count()
    )
    assert dupes == 0


def test_read_user_feed_order_pagination_pruning(spark, tmp_path):
    """read_user_feed: (ts, _batch_id, _seq) DESC ordering resolves
    same-millisecond ties deterministically (SURVEY.md §7.3.1 — the
    TIMEUUID-clustering replacement), OFFSET pagination slices correctly
    (reference main.py:137,164), and the user_bucket predicate reaches the
    scan's partition filters (the Cassandra partition-key read path)."""
    src = tmp_path / "cdc_in"
    feed = str(tmp_path / "feed")
    src.mkdir()
    (src / "b.jsonl").write_text("\n".join(fixture_lines()) + "\n")
    run_cdc_pipeline(spark, str(src), feed, str(tmp_path / "ck")).awaitTermination()

    # user "2": likes 7 (ts), 16 & 17 (tied at ts+5000), follow 10 (ts+3000).
    # _seq is input order, so the tie breaks 17 (later line) before 16.
    page = read_user_feed(spark, feed, "2", limit=2)
    assert [r.metadata["primary_key_value"] for r in page.collect()] == ["17", "16"]
    page2 = read_user_feed(spark, feed, "2", limit=2, offset=2).collect()
    assert [r.metadata["primary_key_value"] for r in page2] == ["10", "7"]
    # rerun is deterministic (same files → same _seq assignment)
    assert [r.metadata["primary_key_value"] for r in page.collect()] == ["17", "16"]

    plan = page._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, "scan lost its PartitionFilters section"
    assert "user_bucket" in plan.split("PartitionFilters", 1)[1][:200]


def test_feed_meta_records_and_validates_bucket_count(spark, tmp_path):
    """The feed table records n_user_buckets in a sidecar; reads resolve
    it automatically, and an explicitly contradicting modulus raises
    instead of silently pruning to wrong/empty pages."""
    import pytest as _pytest

    from user_feed_cdc_spark.streaming.cdc_pipeline import (
        compact_feed,
        read_feed_meta,
        read_user_feed,
    )

    src = tmp_path / "cdc_in"
    feed = str(tmp_path / "feed")
    src.mkdir()
    (src / "b.jsonl").write_text("\n".join(fixture_lines()) + "\n")
    run_cdc_pipeline(spark, str(src), feed, str(tmp_path / "ck")).awaitTermination()

    assert read_feed_meta(spark, feed) == 32  # N_USER_BUCKETS recorded
    assert read_user_feed(spark, feed, "2", limit=2).count() == 2  # auto-resolve
    with _pytest.raises(ValueError, match="n_user_buckets=32"):
        read_user_feed(spark, feed, "2", n_user_buckets=8)

    # compaction carries the contract along
    compacted = str(tmp_path / "feed_c")
    compact_feed(spark, feed, compacted)
    assert read_feed_meta(spark, compacted) == 32


def _feed_table(spark, tmp_path, name, **kwargs) -> str:
    """A feed table written by run_cdc_pipeline over the fixture lines."""
    src = tmp_path / f"{name}_in"
    src.mkdir()
    (src / "b.jsonl").write_text("\n".join(fixture_lines()) + "\n")
    feed = str(tmp_path / name)
    run_cdc_pipeline(
        spark, str(src), feed, str(tmp_path / f"{name}_ck"), **kwargs
    ).awaitTermination()
    return feed


def test_user_bucket_of_matches_user_bucket_expr(spark):
    """The driver-side bucket equals the bucket the sink writes
    (user_bucket_expr) for ASCII, empty, negative-looking and non-ASCII
    ids, under two moduli."""
    from user_feed_cdc_spark.streaming.cdc_pipeline import (
        user_bucket_expr,
        user_bucket_of,
    )

    ids = ["2", "user_123", "", " ", "-1", "-9223372036854775808",
           "ünïcødé", "日本語", "😀", "a\u0000b"]
    frame = spark.createDataFrame([(u,) for u in ids], "u string")
    for n in (32, 7):
        rows = frame.select(user_bucket_expr(F.col("u"), n).alias("b")).collect()
        assert [user_bucket_of(spark, u, n) for u in ids] == [r.b for r in rows], n


def test_feed_table_schema_matches_inferred(spark, tmp_path):
    """FEED_TABLE_SCHEMA is what Spark infers from a table written by
    both run_cdc_pipeline arms and by compact_feed (name and type): the
    drift guard for reads that skip inference."""
    from user_feed_cdc_spark.streaming.cdc_pipeline import (
        FEED_TABLE_SCHEMA,
        compact_feed,
    )

    single = _feed_table(spark, tmp_path, "single")
    dual = _feed_table(
        spark, tmp_path, "dual", dead_letter_path=str(tmp_path / "dead")
    )
    compacted = str(tmp_path / "compacted")
    compact_feed(spark, single, compacted)
    want = {f.name: f.dataType for f in FEED_TABLE_SCHEMA.fields}
    for path in (single, dual, compacted):
        inferred = spark.read.parquet(path).schema
        assert {f.name: f.dataType for f in inferred.fields} == want, path


def test_read_user_feed_empty_bucket_is_empty_page(spark, tmp_path):
    """A user whose bucket has no directory gets an empty page with the
    table's columns, at any offset — not PATH_NOT_FOUND."""
    from user_feed_cdc_spark.streaming.cdc_pipeline import (
        FEED_TABLE_SCHEMA,
        user_bucket_of,
    )

    feed = _feed_table(spark, tmp_path, "feed")
    present = {
        int(d.name.split("=", 1)[1])
        for d in (tmp_path / "feed").glob("activity_date=*/user_bucket=*")
    }
    absent = next(
        u for u in (f"absent{i}" for i in range(1000))
        if user_bucket_of(spark, u) not in present
    )
    for offset in (0, 5):
        page = read_user_feed(spark, feed, absent, limit=10, offset=offset)
        assert page.columns == FEED_TABLE_SCHEMA.names
        assert page.collect() == []


def test_read_user_feed_builds_without_jobs(spark, tmp_path):
    """Building a read_user_feed DataFrame launches no Spark job (no
    schema inference, no bucket hash job, no listing job) on either
    layout; collecting it does."""
    from user_feed_cdc_spark.streaming.cdc_pipeline import compact_feed

    feed = _feed_table(spark, tmp_path, "feed")
    compacted = str(tmp_path / "compacted")
    compact_feed(spark, feed, compacted)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        for i, (path, offset) in enumerate(
            [(feed, 0), (feed, 2), (compacted, 0), (compacted, 2)]
        ):
            group = f"read_user_feed_build_{i}"
            sc.setJobGroup(group, "page build")
            page = read_user_feed(spark, path, "2", limit=2, offset=offset)
            assert list(tracker.getJobIdsForGroup(group)) == [], (path, offset)
            assert len(page.collect()) == 2
            assert list(tracker.getJobIdsForGroup(group)), "collect ran no job"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_parse_tolerates_schema_drift(spark):
    """Forward/backward compatibility of the merged-schema parse: an
    upstream producer adding unknown fields must not break or corrupt
    the canonical rows (from_json ignores them), and a missing optional
    field nulls out instead of failing the row — the CDC contract that
    lets producers and the pipeline deploy independently."""
    import json as _json

    from user_feed_cdc_spark.streaming.cdc_pipeline import normalize_events

    extra = _json.dumps(
        {
            "id": 7, "shard_id": 3, "liked_by": "2",
            "__op": "c", "__table": "likes", "__source_ts_ms": BASE_TS,
            "__source_table": "likes",
            "brand_new_field": "ignored", "nested_new": {"a": 1},
        }
    )
    missing_optional = _json.dumps(
        {
            # comments row without its optional message field
            "id": 8, "user_id": "4", "shard_id": 3,
            "__op": "c", "__table": "comments", "__source_ts_ms": BASE_TS,
            "__source_table": "comments",
        }
    )
    raw = spark.createDataFrame([(extra,), (missing_optional,)], "value string")
    acts = {r.activity_type: r for r in normalize_events(raw).collect()}
    assert set(acts) == {"LIKE_SHARD", "COMMENT_SHARD"}
    like = acts["LIKE_SHARD"]
    assert like.user_id == "2" and like.target_id == "3"
    assert "brand_new_field" not in like.metadata
    comment = acts["COMMENT_SHARD"]
    assert comment.metadata.get("message") == ""  # nulled → coalesced empty


def test_pipeline_status_renders_failure():
    """The status surface must REPORT a failed query, not crash on it:
    PySpark 4.x CapturedException has no public .desc, so the exception
    is rendered via str() (caught in review; the happy path alone never
    exercises this)."""
    from user_feed_cdc_spark.streaming.cdc_pipeline import pipeline_status

    class FakeQuery:
        id = "q-1"
        isActive = False
        recentProgress = [{"numInputRows": 5}]
        lastProgress = {"batchId": 3, "numInputRows": 5, "timestamp": "t"}

        def exception(self):
            return RuntimeError("source path vanished")

    status = pipeline_status(FakeQuery())
    assert status["exception"] == "source path vanished"
    assert status["total_input_rows"] == 5 and not status["running"]


def test_kafka_cdc_live_roundtrip(spark, tmp_path):
    """LIVE Kafka e2e for the S1 source — self-certifying the moment an
    environment provides a broker (the transformWithState importorskip
    pattern, r07 VERDICT item 6): produce Debezium-shaped records with
    kafka-python, consume them through kafka_stream → normalize_events
    with an availableNow memory sink, and assert the canonical rows.
    Skipped (not absent) in this sandbox: no broker, no kafka client,
    no spark-sql-kafka jar — set SPARK_GRAFT_KAFKA_BOOTSTRAP to run."""
    bootstrap = os.environ.get("SPARK_GRAFT_KAFKA_BOOTSTRAP")
    if not bootstrap:
        pytest.skip("no Kafka broker: set SPARK_GRAFT_KAFKA_BOOTSTRAP")
    kafka = pytest.importorskip("kafka")  # kafka-python client

    from user_feed_cdc_spark.schemas import CDC_TOPIC_PREFIX
    from user_feed_cdc_spark.streaming.cdc_pipeline import kafka_stream

    producer = kafka.KafkaProducer(bootstrap_servers=bootstrap)
    try:
        for line in fixture_lines():
            table = json.loads(line)["__source_table"]
            producer.send(f"{CDC_TOPIC_PREFIX}{table}", line.encode())
        producer.flush()
    finally:
        producer.close()

    try:
        stream = kafka_stream(spark, bootstrap)
    except Exception as e:  # noqa: BLE001 — classpath probe
        if "kafka" in str(e).lower():
            pytest.skip(f"spark-sql-kafka package not on classpath: {e}")
        raise
    q = (
        normalize_events(stream)
        .writeStream.format("memory")
        .queryName("kafka_live_canonical")
        .option("checkpointLocation", str(tmp_path / "kafka_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM kafka_live_canonical").collect()
    # same drop rules as the file-source golden test: 6 canonical rows
    assert len(out) >= 6
    assert {r.activity_type for r in out} == {
        "LIKE_SHARD", "COMMENT_SHARD", "CREATE_SHARD", "FOLLOW_USER"
    }
