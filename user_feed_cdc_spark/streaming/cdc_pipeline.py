"""CDC change-event pipeline: Debezium-shaped JSON → canonical activity feed.

Re-architecture of the reference's consumer loop (reference:
event_processor.py:36-113, strategy.py, main.py:25-59) as ONE Structured
Streaming query:

    source (kafka | file JSONL) → parse → route (dead-letter reason,
    per-table demux, feed layout) → foreachBatch split → feed and
    dead-letter sinks

Design decisions vs the reference:
- The reference's hand-rolled poll/batch loop (poll(1000), batch_size=1,
  event_processor.py:43-72) is replaced by Spark micro-batches with
  checkpointed offsets — at-least-once like the reference (README.md:4),
  but without its swallow-all error path (event_processor.py:111-113).
- The Strategy/Factory dispatch (strategy.py:137-149) becomes a
  SINGLE-PASS demux (SURVEY.md §7.3.5): one from_json with the merged
  sparse schema, then when/otherwise per canonical column — each event
  parsed exactly once. Unknown tables land in a dead-letter output
  instead of raising ValueError.
- The routing is planned once per query, as one streaming projection
  (route_events); the foreachBatch function only splits each routed
  micro-batch on its dead-letter reason and writes both parts, instead
  of rebuilding the parse/validate/demux plan in Python per batch.
- uuid1() time-ordering (strategy.py:36) is split into uuid() for
  uniqueness + explicit (event_timestamp, _batch_id, _seq) ordering
  (SURVEY.md §7.3.1).
- The feed sink is parquet partitioned by (activity_date, user_bucket,
  _batch_id) with dynamic overwrite per batch — the Cassandra
  (user_id, ts DESC) layout re-expressed for a lake, idempotent under
  replay; the Cassandra connector is a sink_format swap.

Transforms are pure column expressions shared verbatim between batch
and streaming (same function, both paths), and one predicate,
dead_letter_reason, decides feed vs dead letter everywhere, so the batch
oracle check in operators/cdc.py certifies the streaming semantics too.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F, types as T

from user_feed_cdc_spark.schemas import ACTIVITY_SCHEMA, CDC_TABLES, MERGED_CDC_SCHEMA

def _meta_map(payload) -> Column:
    """Common metadata map (reference: strategy.py:39-46,67-75 — every
    transform carries source_table + primary-key provenance)."""
    return F.create_map(
        F.lit("source_table"), F.coalesce(payload["__table"], F.lit("")),
        F.lit("primary_key_value"), payload["id"].cast("string"),
        F.lit("primary_key_field"), F.lit("id"),
        F.lit("primary_key_type"), F.lit("integer"),
    )


def canonical_columns(table: str, payload) -> list[Column]:
    """The four schema-adapter transforms (reference: strategy.py:21-135),
    as pure UNALIASED column expressions over a parsed payload struct, in
    canonical order (user_id, activity_type, event_timestamp, target_id,
    target_type, metadata). The caller aliases them — they're composed
    inside when/otherwise demux branches where embedded aliases are
    illegal. activity_id is excluded (added by the caller so batch
    oracles can substitute a deterministic id)."""
    event_ts = F.timestamp_millis(payload["__source_ts_ms"])
    if table == "likes":  # reference: strategy.py:21-47
        return [
            payload["liked_by"],
            F.lit("LIKE_SHARD"),
            event_ts,
            payload["shard_id"].cast("string"),
            F.lit("shard"),
            _meta_map(payload),
        ]
    if table == "comments":  # reference: strategy.py:49-76
        return [
            payload["user_id"],
            F.lit("COMMENT_SHARD"),
            event_ts,
            payload["shard_id"].cast("string"),
            F.lit("shard"),
            F.map_concat(
                _meta_map(payload),
                F.create_map(F.lit("message"), F.coalesce(payload["message"], F.lit(""))),
            ),
        ]
    if table == "shards":  # reference: strategy.py:78-108
        return [
            payload["user_id"],
            F.lit("CREATE_SHARD"),
            event_ts,
            payload["id"].cast("string"),
            F.lit("shard"),
            F.map_concat(
                _meta_map(payload),
                F.create_map(
                    F.lit("template_type"), F.coalesce(payload["templateType"], F.lit("")),
                    F.lit("mode"), F.coalesce(payload["mode"], F.lit("")),
                    F.lit("type"), F.coalesce(payload["type"], F.lit("")),
                    F.lit("title"), F.coalesce(payload["title"], F.lit("")),
                ),
            ),
        ]
    if table == "followers":  # reference: strategy.py:110-135
        return [
            payload["follower_id"],
            F.lit("FOLLOW_USER"),
            event_ts,
            payload["following_id"],
            F.lit("user"),
            _meta_map(payload),
        ]
    raise ValueError(f"unknown CDC table {table!r}")


VALID_OP = "c"  # creates only (reference: strategy.py:14-17)


def dead_letter_reason(p) -> Column:
    """Why a parsed event `p` (parse_cdc's `_p`) leaves the feed, or NULL
    for a feed row. THE validation predicate (reference: strategy.py:12-18,
    required metadata present and op == 'c'; strategy.py:148-149, unknown
    tables): the stream routes on it, and the batch normalize_events and
    dead_letters filter on it, so the two outputs partition every event."""
    return (
        F.when(p.isNull(), "unparseable_json")
        .when(p["__source_table"].isNull(), "missing_source_table")
        .when(~p["__source_table"].isin(*CDC_TABLES), "unknown_table")
        .when(p["__op"].isNull(), "missing_op")
        .when(p["__source_ts_ms"].isNull(), "missing_source_ts")
        .when(p["__table"].isNull(), "missing_table")
        .when(p["__op"] != VALID_OP, "non_create_op")
    )


_CANONICAL_COL_NAMES = (
    "user_id",
    "activity_type",
    "event_timestamp",
    "target_id",
    "target_type",
    "metadata",
)


def _parsed(raw: DataFrame, value_col: str) -> DataFrame:
    """(value, _p): raw JSON values parsed once by parse_cdc, or a frame
    parse_cdc already produced, as is — so batch callers can parse once
    and share the frame between normalize_events and dead_letters."""
    return raw if "_p" in raw.columns else parse_cdc(raw, value_col)


def _source_seq(raw: DataFrame) -> Column:
    """_seq for rows of `raw`: monotonically_increasing_id in batch, NULL
    on a streaming plan, where that function is illegal and the sink
    assigns _seq per micro-batch (_with_batch_seq)."""
    if raw.isStreaming:
        return F.lit(None).cast("long")
    return F.monotonically_increasing_id()


def _demux_columns(p) -> list[Column]:
    """The single-pass when/otherwise demux: each canonical column picks
    its table's transform expression by __source_table. ONE definition —
    normalize_events, the stream routing and normalize_changes must demux
    identically, and a change here propagates to all of them."""
    per_table = {t: canonical_columns(t, p) for t in CDC_TABLES}
    out_cols = []
    for i, name in enumerate(_CANONICAL_COL_NAMES):
        col = F.when(
            p["__source_table"] == CDC_TABLES[0], per_table[CDC_TABLES[0]][i]
        )
        for t in CDC_TABLES[1:]:
            col = col.when(p["__source_table"] == t, per_table[t][i])
        out_cols.append(col.alias(name))
    return out_cols


def _activity_columns(p, seq: Column) -> list[Column]:
    """Canonical activity columns in ACTIVITY_SCHEMA order, then _seq:
    the demux plus a uuid() activity_id."""
    demuxed = _demux_columns(p)
    return [
        demuxed[0],  # user_id
        F.expr("uuid()").alias("activity_id"),
        *demuxed[1:],
        seq.alias("_seq"),
    ]


def _with_batch_seq(batch_df: DataFrame, batch_id: int) -> DataFrame:
    """foreachBatch _seq/_batch_id assignment, shared by the append and
    upsert sinks: per-batch monotonically_increasing_id (legal again in
    foreachBatch where the frame is batch), coalesced under any _seq the
    batch-mode normalize already assigned."""
    df = batch_df.withColumn("_batch_id", F.lit(batch_id))
    if "_seq" in df.columns:
        return df.withColumn(
            "_seq", F.coalesce(F.col("_seq"), F.monotonically_increasing_id())
        )
    return df.withColumn("_seq", F.monotonically_increasing_id())


def normalize_events(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """value (JSON string) → canonical activity records.

    SINGLE-PASS demux (SURVEY.md §7.3.5): one from_json with the merged
    sparse schema parses every event once, then each canonical column is a
    when/otherwise over __source_table picking that table's transform
    expression (reference: strategy.py:21-135 + factory dispatch
    strategy.py:137-149). Round 1 used normalize-then-union — four
    filtered branches that each re-parsed the source, so a batch run
    re-derived the input ~4-20× (the round-1 bench's dominant cost) and a
    streaming run kept per-branch source scans. One pass, all narrow
    operations, zero shuffles — at 100 TB this runs at source parallelism
    and reads each byte exactly once. An event is kept when
    dead_letter_reason is NULL — the predicate the stream routes on.

    `_seq` is the monotonic tiebreaker standing in for the reference's
    TIMEUUID clustering order (strategy.py:36 uuid1(),
    cassandra-init.cql:14-15; SURVEY.md §7.3.1): feed reads order by
    (event_timestamp DESC, _seq DESC). Kafka deployments should derive it
    from (partition, offset); file/batch sources get
    monotonically_increasing_id — monotone in source order within a
    partition, which is exactly the reference's per-consumer arrival
    order guarantee.
    """
    p = F.col("_p")
    return (
        _parsed(raw, value_col)
        .filter(dead_letter_reason(p).isNull())
        .select(*_activity_columns(p, _source_seq(raw)))
    )


UPSERT_OPS = ("c", "u", "d")


def normalize_changes(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Upsert-mode demux: the same single-pass transform as
    normalize_events, but RETAINING the op for the full c/u/d changelog —
    the mode the reference's Debezium config anticipates (delete
    tombstones kept in rewrite mode, debezium-postgres-connector.
    config.json:17-18) but its create-only consumer never built
    (strategy.py:14-17, non-creates dropped).

    Each change carries its identity `change_key` = (source_table, pk) —
    the upsert key a lake table merges on. Debezium rewrite mode ships
    the full row image on updates AND deletes, so the canonical columns
    are populated for every op; a delete only strictly needs the key +
    ordering columns. Validation matches normalize_events except the op
    set; non-c/u/d ops (snapshot reads) and unknown tables still fall to
    dead_letters."""
    p = F.col("_p")
    valid = _parsed(raw, value_col).filter(
        p["__op"].isNotNull()
        & p["__table"].isNotNull()
        & p["__source_ts_ms"].isNotNull()
        & p["__op"].isin(*UPSERT_OPS)
        & p["__source_table"].isin(*CDC_TABLES)
        & p["id"].isNotNull()
    )
    out_cols = _demux_columns(p)
    return valid.select(
        F.concat(p["__source_table"], F.lit(":"), p["id"].cast("string")).alias(
            "change_key"
        ),
        *out_cols,
        p["__op"].alias("op"),
        _source_seq(raw).alias("_seq"),
    )


def _start_foreach_batch(
    stream: DataFrame, write_batch, checkpoint: str, available_now: bool
):
    """Start `stream` as a checkpointed append query whose micro-batches
    go to `write_batch`; availableNow drains what is there and stops."""
    writer = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_feed_upsert_stream(
    changes: DataFrame,
    state_path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """Upsert-mode feed materialization: each micro-batch lands its
    change rows as a `_batch_id=` partition with dynamic overwrite — the
    same idempotent-replay unit as write_feed_stream — and the CURRENT
    state is the certified upsert window over the changelog
    (read_feed_state). This is merge-on-read, the lake-native shape of
    the reference's would-be update path: writes stay append-cheap and
    conflict-free at any scale (no read-modify-write of a 100 TB state
    table inside a micro-batch), reads apply one window per key, and
    compact_feed_state folds the log into a snapshot on whatever cadence
    the read latency budget demands — exactly Delta/Iceberg
    merge-on-read semantics built from the primitives."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        df = _with_batch_seq(batch_df, batch_id)
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(state_path)
        )

    return _start_foreach_batch(changes, write_batch, checkpoint, available_now)


def read_feed_state(spark: SparkSession, state_path: str) -> DataFrame:
    """Latest-state view of the upsert changelog: the certified
    cdc_upsert_state window (operators/cdc.py:235, hash-green in
    CORRECTNESS_r05) applied to the streamed log — newest change per
    change_key wins, ordered by (event_timestamp, _batch_id, _seq) DESC
    so same-millisecond changes resolve by arrival order, and a winning
    delete removes the key entirely. One shuffle on change_key +
    WindowGroupLimit; at 100 TB, read over (snapshot ∪ recent batches)
    after compaction instead of the full log."""
    from pyspark.sql import Window as W

    log = spark.read.parquet(state_path)
    w = W.partitionBy("change_key").orderBy(
        F.col("event_timestamp").desc(),
        F.col("_batch_id").desc(),
        F.col("_seq").desc(),
    )
    return (
        log.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("op") != "d"))
        .drop("_rn", "op", "_batch_id", "_seq")
    )


def compact_feed_state(spark: SparkSession, state_path: str, compacted_path: str) -> None:
    """Merge-on-write compaction for the upsert changelog: collapse the
    log into its current-state snapshot so serving reads skip the
    per-key window. Run per closed period, like compact_feed."""
    read_feed_state(spark, state_path).write.mode("overwrite").parquet(
        compacted_path
    )


def run_cdc_upsert_pipeline(
    spark: SparkSession,
    source_path: str,
    state_path: str,
    checkpoint: str,
    available_now: bool = True,
    max_files: int | None = None,
):
    """End-to-end upsert mode: file JSONL change stream (c/u/d) →
    normalize_changes → idempotent changelog → read_feed_state view.
    The streaming twin of the batch-certified cdc_upsert_state."""
    raw = file_json_stream(spark, source_path, max_files=max_files)
    return write_feed_upsert_stream(
        normalize_changes(raw), state_path, checkpoint, available_now
    )


def parse_cdc(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """(value, _p) — one merged-schema parse of the raw JSON, shareable
    between normalize_events and dead_letters (both accept the pre-parsed
    form and skip their own from_json). Batch certification persists this
    so the expensive parse runs once for both outputs."""
    return raw.select(
        F.col(value_col).alias("value"),
        F.from_json(F.col(value_col), MERGED_CDC_SCHEMA).alias("_p"),
    )


def dead_letters(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Events the pipeline drops, with a reason — replaces the reference's
    silent `except: pass` (event_processor.py:111-113) and ValueError on
    unknown tables (strategy.py:148-149). Accepts either raw values or
    the parse_cdc pre-parsed form."""
    reason = dead_letter_reason(F.col("_p"))
    return (
        _parsed(raw, value_col)
        .select(F.col("value").alias("raw_value"), reason.alias("reason"))
        .filter(F.col("reason").isNotNull())
    )


# ---------------------------------------------------------------------------
# Sources
# ---------------------------------------------------------------------------


def file_json_stream(spark: SparkSession, path: str, max_files: int | None = None) -> DataFrame:
    """File-based stand-in for the Kafka source: one JSON event per line.
    Same `value: string` contract as the Kafka source, so the pipeline is
    source-agnostic."""
    reader = spark.readStream.format("text")
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return reader.load(path).select(F.col("value"))


def kafka_source_options(
    bootstrap_servers: str, topics: str | None = None
) -> dict[str, str]:
    """Option map for the Kafka CDC source (reference: services/kafka.py:8-26,
    main.py:25-31 — 4 topics postgres.public.{followers,likes,comments,
    shards}, earliest offset reset). Pure function so the subscription
    contract is unit-testable without a broker: a typo here would
    otherwise only surface against live Kafka. Offsets ride the Spark
    checkpoint, NOT consumer auto-commit (the reference's at-least-once
    auto-commit, env.py:14-15, is strictly weaker)."""
    from user_feed_cdc_spark.schemas import CDC_TOPIC_PREFIX

    topics = topics or ",".join(f"{CDC_TOPIC_PREFIX}{t}" for t in CDC_TABLES)
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topics,
        "startingOffsets": "earliest",
    }


def kafka_value_frame(records: DataFrame) -> DataFrame:
    """Kafka record frame (key/value binary, topic, partition, offset,
    timestamp, timestampType — the schema every spark-sql-kafka load()
    emits) → the `value: string` contract normalize_events expects.
    Split from kafka_stream so the projection is pinned by a test on a
    static kafka-shaped frame: no broker exists in CI, but a drift in
    this cast/rename would break the live path identically."""
    return records.select(F.col("value").cast("string").alias("value"))


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str | None = None,
) -> DataFrame:
    """Kafka CDC source stream with the same `value: string` contract as
    file_json_stream, so normalize_events is source-agnostic. Requires
    the spark-sql-kafka package on the classpath."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_source_options(bootstrap_servers, topics).items():
        reader = reader.option(k, v)
    return kafka_value_frame(reader.load())


def jdbc_source_options(
    url: str, table: str = "followers", user: str = "postgres"
) -> dict[str, str]:
    """Option map for the Postgres table source (reference: the feed read
    path queries followers over psycopg2, main.py:148-154; connection
    coords env.py). Pure function, unit-testable without a database.
    Spark's JDBC source pushes the follower_id predicate down to Postgres
    — the same point query the reference issues, without the injectable
    f-string (main.py:151)."""
    return {
        "url": url if url.startswith("jdbc:") else f"jdbc:postgresql://{url}",
        "dbtable": table,
        "user": user,
        "driver": "org.postgresql.Driver",
    }


def postgres_table(spark: SparkSession, url: str, table: str) -> DataFrame:
    """JDBC-backed DataFrame for a reference Postgres table. Requires the
    postgres JDBC driver on the classpath."""
    reader = spark.read.format("jdbc")
    for k, v in jdbc_source_options(url, table).items():
        reader = reader.option(k, v)
    return reader.load()


# ---------------------------------------------------------------------------
# Sink
# ---------------------------------------------------------------------------


def cassandra_sink_options(
    keyspace: str = "codeshard", table: str = "user_activity"
) -> dict[str, str]:
    """Option map for the spark-cassandra-connector sink (reference sink
    DDL: cassandra-init.cql:6-15, keyspace/table codeshard.user_activity;
    BASELINE names 'Kafka + Cassandra connector' as the deployment
    shape). Pure function so the wiring is unit-testable without a
    cluster; write_feed_stream(sink_format='cassandra') consumes it."""
    return {
        "keyspace": keyspace,
        "table": table,
        # idempotent upsert by primary key replaces the reference's blind
        # INSERT (event_processor.py:95-109): Cassandra writes are
        # last-write-wins on (user_id, activity_id), so replays converge
        "confirm.truncate": "false",
    }


N_USER_BUCKETS = 32  # feed-layout fanout; scale with cluster size at 100 TB


def user_bucket_expr(user_id_col, n_buckets: int = N_USER_BUCKETS) -> Column:
    """Deterministic user → bucket assignment. Foldable for a literal
    user_id, so per-user reads partition-prune to 1/n of the files."""
    return F.pmod(F.xxhash64(user_id_col), F.lit(n_buckets))


_XXHASH64_SEED = 42  # the seed F.xxhash64 (Catalyst's XxHash64) hashes with


def user_bucket_of(
    spark: SparkSession, user_id: str, n_buckets: int = N_USER_BUCKETS
) -> int:
    """user_bucket_expr evaluated in the driver for one user id: the
    JVM's own XXH64 over the id's UTF-8 bytes, so it equals the value
    the sink wrote without launching a job. Python's % with a positive
    modulus is non-negative, like pmod."""
    jvm = spark.sparkContext._jvm
    utf8 = jvm.org.apache.spark.unsafe.types.UTF8String.fromString(user_id)
    h = jvm.org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
        utf8, _XXHASH64_SEED
    )
    return h % n_buckets


# Schema of the feed table in both layouts: the streaming sink's
# (activity_date, user_bucket, _batch_id) partitions and compact_feed's
# (activity_date, user_bucket) ones, where _batch_id is a data column.
# Partition column types are the ones Spark infers from the directory
# names. Reading with it skips parquet's schema-inference job;
# test_feed_table_schema_matches_inferred guards it against drift.
FEED_TABLE_SCHEMA = T.StructType(
    ACTIVITY_SCHEMA.fields
    + [
        T.StructField("_seq", T.LongType()),
        T.StructField("activity_date", T.DateType()),
        T.StructField("user_bucket", T.IntegerType()),
        T.StructField("_batch_id", T.IntegerType()),
    ]
)


_FEED_META = "_feed_meta.json"  # '_' prefix: invisible to parquet file listing


def write_feed_meta(spark: SparkSession, feed_path: str, n_user_buckets: int) -> None:
    """Record the table's bucket count in a sidecar under feed_path.
    Goes through the Hadoop FileSystem API so it works on any supported
    store (local, HDFS, s3a), not just local paths."""
    import json

    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(feed_path, _FEED_META)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    out = fs.create(hpath, True)
    out.write(json.dumps({"n_user_buckets": n_user_buckets}).encode("utf-8"))
    out.close()


def read_feed_meta(spark: SparkSession, feed_path: str) -> int | None:
    """Bucket count recorded with the table, or None for pre-meta
    tables."""
    import json

    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(feed_path, _FEED_META)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        raw = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return int(json.loads(raw)["n_user_buckets"])


def write_feed_stream(
    activities: DataFrame,
    feed_path: str,
    checkpoint: str,
    available_now: bool = True,
    n_user_buckets: int = N_USER_BUCKETS,
    sink_format: str = "parquet",
):
    """Feed-table sink: parquet partitioned by (activity_date, user_bucket,
    _batch_id) — the lake translation of Cassandra's storage design
    (cassandra-init.cql:14-15): date partitions prune time-range reads,
    user_bucket partitions prune per-user reads to 1/n of the files (the
    user_id partition-key role), and explicit (event_timestamp, _batch_id,
    _seq) ordering replaces the TIMEUUID DESC clustering.

    IDEMPOTENT replay (improves on the reference's at-least-once +
    swallow-all data loss, env.py:14-15 / event_processor.py:111-113):
    each micro-batch dynamic-OVERWRITES exactly its own _batch_id
    partitions, so a retried/replayed batch replaces its previous output
    instead of appending duplicates — effectively-once end-to-end given
    the checkpointed source offsets. _seq is assigned here (per-batch
    monotonically_increasing_id — legal in foreachBatch where the frame
    is batch again); with ascending _batch_id it gives same-millisecond
    events a deterministic total order. At 100 TB, compact small
    _batch_id partitions periodically; the overwrite unit stays the batch.
    """
    out = (
        activities
        .withColumn("activity_date", F.to_date("event_timestamp"))
        .withColumn("user_bucket", user_bucket_expr(F.col("user_id"), n_user_buckets))
    )
    if sink_format in ("parquet", "txnlog"):
        # record the bucketing contract with the table so readers can
        # validate instead of silently pruning with the wrong modulus
        write_feed_meta(activities.sparkSession, feed_path, n_user_buckets)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        _write_feed_batch(batch_df, batch_id, feed_path, sink_format)

    return _start_foreach_batch(out, write_batch, checkpoint, available_now)


def _write_feed_batch(
    batch_df: DataFrame, batch_id: int, feed_path: str, sink_format: str = "parquet"
) -> None:
    """One micro-batch of canonical activities (already carrying
    activity_date/user_bucket) → idempotent partitioned write."""
    df = _with_batch_seq(batch_df, batch_id)
    if sink_format == "txnlog":
        # Commit through the engine's lakehouse committer (r10 VERDICT
        # directive: the feed sink — reference event_processor.py:89-113
        # — writing through the write protocol): the batch's partitioned
        # parquet lands first, then ONE atomic [add, txn] commit
        # publishes it; a replayed batch id is a no-op via the txn
        # watermark — effectively-once without dynamic-overwrite
        # directory coupling, and the log gives the feed table
        # snapshots, time travel, and checkpointed reads for free.
        from user_feed_cdc_spark.sources.txn_writer import (
            TxnLogWriter,
            commit_batch,
        )

        writer = TxnLogWriter(feed_path, checkpoint_interval=8)
        commit_batch(
            writer, df, batch_id, app="feed_sink",
            partition_by=["activity_date", "user_bucket"],
        )
        return
    if sink_format == "cassandra":
        # connector path (untestable without a cluster): primary-key
        # upsert is naturally idempotent, no _batch_id partitioning
        (
            df.drop("activity_date", "user_bucket", "_batch_id", "_seq")
            .write.format("org.apache.spark.sql.cassandra")
            .options(**cassandra_sink_options())
            .mode("append")
            .save()
        )
        return
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("activity_date", "user_bucket", "_batch_id")
        .parquet(feed_path)
    )


def _read_feed_files(
    spark: SparkSession, feed_path: str, names: list[str]
) -> DataFrame:
    """The named live files of a txn-log feed table as one frame. Each
    is a directory of (activity_date, user_bucket) partitions, read
    with the fixed FEED_TABLE_SCHEMA, so no schema-inference job runs.
    Spark refuses one read over several partitioned roots, hence the
    union."""
    import os
    from functools import reduce

    if not names:
        raise ValueError(f"txn-log feed table at {feed_path} is empty")
    return reduce(
        DataFrame.unionByName,
        [
            spark.read.schema(FEED_TABLE_SCHEMA).parquet(
                os.path.join(feed_path, name)
            )
            for name in names
        ],
    )


def read_feed_txnlog(spark: SparkSession, feed_path: str) -> DataFrame:
    """Snapshot read of a txn-log feed table (the sink_format='txnlog'
    arm of _write_feed_batch): replay the engine-written log for the
    live batch files and union their hive-partitioned reads — only
    committed batches are visible, so a crash between a batch's data
    write and its commit can never surface half a batch (the exact
    read-side guarantee the dynamic-overwrite layout approximates with
    directory conventions). Planning cost is |live files| driver-side;
    each per-batch read prunes on (activity_date, user_bucket) like
    the raw layout. At scale, OPTIMIZE through the committer folds
    small batch files together without changing this read."""
    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    live = TxnLogWriter(feed_path).live_files()
    return _read_feed_files(spark, feed_path, live)


def compact_feed_txnlog(spark: SparkSession, feed_path: str) -> str:
    """OPTIMIZE for the txn-log feed table: fold every live per-batch
    file into ONE partitioned file set and publish the swap as a
    single atomic remove+add transaction — readers (read_feed_txnlog)
    see the pre- or post-compaction layout, never a mix, and the sink
    keeps appending new batch files meanwhile (its blind appends never
    conflict with this transaction; two concurrent compactions DO
    conflict on their removes, which is the correct outcome). Run
    periodically at scale so the snapshot read unions O(1) compacted
    sets plus the recent tail instead of every batch ever written.
    Returns the committed compacted-file name."""
    import os

    from user_feed_cdc_spark.sources.txn_writer import TxnLogWriter

    writer = TxnLogWriter(feed_path)
    txn = writer.begin()
    # ONE live-files snapshot drives BOTH the data read and the remove
    # set: deriving them from two separate replays would fold a batch
    # committed in between into the compacted file while leaving it
    # live in the log — every one of its rows would then read twice
    live = writer.live_files()
    merged = _read_feed_files(spark, feed_path, live)
    name = f"compacted{txn.base_version + 1:05d}"
    (
        merged.write.mode("overwrite")
        .partitionBy("activity_date", "user_bucket")
        .parquet(os.path.join(feed_path, name))
    )
    for old in live:
        txn.remove(old)
    txn.add(name)
    txn.commit()
    return name


def compact_feed(spark: SparkSession, feed_path: str, compacted_path: str) -> None:
    """Compact the streaming feed layout into its serving form: the
    per-micro-batch `_batch_id=` partitions (the idempotent-replay unit)
    are folded away, rows are re-partitioned to one file set per
    (activity_date, user_bucket) and SORTED by the feed read order
    (user_id, event_timestamp DESC, _batch_id DESC, _seq DESC) within
    each file — so a per-user page read is a pruned scan of pre-ordered
    rows, the parquet translation of Cassandra's clustering layout.
    Run periodically (e.g. per closed date partition); the streaming
    sink keeps writing new _batch_id partitions meanwhile."""
    feed = spark.read.schema(FEED_TABLE_SCHEMA).parquet(feed_path)
    (
        feed.repartition(F.col("activity_date"), F.col("user_bucket"))
        .sortWithinPartitions(
            "activity_date",
            "user_bucket",
            "user_id",
            F.col("event_timestamp").desc(),
            F.col("_batch_id").desc(),
            F.col("_seq").desc(),
        )
        .write.mode("overwrite")
        .partitionBy("activity_date", "user_bucket")
        .parquet(compacted_path)
    )
    # compaction preserves the bucket layout → carry its contract along
    buckets = read_feed_meta(spark, feed_path)
    if buckets is not None:
        write_feed_meta(spark, compacted_path, buckets)


def read_user_feed(
    spark: SparkSession,
    feed_path: str,
    user_id: str,
    limit: int = 100,
    offset: int = 0,
    n_user_buckets: int | None = None,
) -> DataFrame:
    """Per-user feed page over the materialized feed table (reference
    endpoint: main.py:136-189, limit+offset pagination main.py:137,164).

    Only the user's bucket is touched — the Cassandra partition-key read
    path re-expressed. The bucket is computed in the driver
    (user_bucket_of), and one FileSystem glob lists just
    `activity_date=*/user_bucket=<b>` under feed_path, so the rest of
    the table is never listed. Those directories are read with the
    fixed FEED_TABLE_SCHEMA (no schema-inference job) and feed_path as
    basePath, so building the page launches no Spark job — as long as
    Spark lists those directories on the driver, i.e. no level holds
    more than spark.sql.sources.parallelPartitionDiscovery.threshold
    (32) of them (dates, or a bucket's uncompacted _batch_id
    directories); past that, Spark runs a listing job. A bucket with
    no directory reads as an empty page (a feed_path that does not exist
    still raises). The user_bucket predicate stays in the filter, so the
    scan still reports it as a partition filter.
    Ordering: (event_timestamp, _batch_id, _seq) DESC — the explicit
    TIMEUUID-clustering replacement (SURVEY.md §7.3.1). OFFSET rides
    the same bounded top-(offset+limit) operator that skips the first
    `offset` rows (never a global sort).

    The pruning predicate recomputes user_bucket, so its modulus MUST
    match the one the table was written with — a mismatch silently
    returns wrong/empty pages. The bucket count is therefore read from
    the table's own _feed_meta sidecar (recorded by write_feed_stream);
    passing an explicit n_user_buckets that contradicts it is an error,
    and only meta-less (pre-meta) tables fall back to the default."""
    recorded = read_feed_meta(spark, feed_path)
    if n_user_buckets is None:
        n_user_buckets = recorded if recorded is not None else N_USER_BUCKETS
    elif recorded is not None and recorded != n_user_buckets:
        raise ValueError(
            f"feed table at {feed_path} was written with "
            f"n_user_buckets={recorded}, but the read asked for "
            f"{n_user_buckets}; pruning with the wrong modulus would "
            "silently return wrong pages"
        )
    bucket = user_bucket_of(spark, user_id, n_user_buckets)
    jvm = spark.sparkContext._jvm
    pattern = jvm.org.apache.hadoop.fs.Path(
        feed_path, f"activity_date=*/user_bucket={bucket}"
    )
    fs = pattern.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    dirs = [st.getPath().toString() for st in fs.globStatus(pattern) or []]
    feed = (
        spark.read.schema(FEED_TABLE_SCHEMA)
        .option("basePath", feed_path)
        .parquet(*dirs)
    )
    return _page_from_frame(feed, user_id, limit, offset, n_user_buckets)


def _page_from_frame(
    feed: DataFrame, user_id: str, limit: int, offset: int, n_user_buckets: int
) -> DataFrame:
    order = [
        F.col("event_timestamp").desc(),
        F.col("_batch_id").desc(),
        F.col("_seq").desc(),
    ]
    # one bounded top-k: TakeOrderedAndProject(limit=offset+limit,
    # offset=offset); Catalyst drops a zero offset
    return (
        feed.filter(
            (F.col("user_bucket") == user_bucket_expr(F.lit(user_id), n_user_buckets))
            & (F.col("user_id") == user_id)
        )
        .orderBy(*order)
        .limit(offset + limit)
        .offset(offset)
    )


class FeedCache:
    """Cache-aside feed serving (C1; reference main.py:142-146 backed by
    cache.py:5-10): the reference checks Redis for a user's rendered
    feed page, falls back to the Cassandra query on miss, and writes the
    result back. The Spark-native analog caches the FEED TABLE, not
    rendered pages: the first read materializes the parquet scan into
    executor memory via persist(), and every subsequent page for ANY
    user is a bucket-pruned filter over the cached columnar blocks.

    Invalidation, unlike Redis, is mostly automatic: a write through
    THIS session (the CDC sink) triggers Spark's refreshByPath on the
    output path, which refreshes the cached relation in place — the
    staleness window the reference papers over with TTLs doesn't exist
    for same-session writers. `invalidate()` covers the case Spark
    can't see: an out-of-band writer (another session/job/engine)
    adding files under the feed path; call it on such signals to drop
    the snapshot and re-list on next read.

    Caching the table instead of per-user pages is the right granularity
    for Spark: one cache entry serves every user (no per-key churn), and
    the per-page work over cached blocks is a pruned in-memory filter."""

    def __init__(self, spark: SparkSession, feed_path: str):
        self.spark = spark
        self.feed_path = feed_path
        self._frame: DataFrame | None = None
        self._buckets: int | None = None

    def _materialized(self) -> tuple[DataFrame, int]:
        if self._frame is None:
            recorded = read_feed_meta(self.spark, self.feed_path)
            self._buckets = recorded if recorded is not None else N_USER_BUCKETS
            self._frame = (
                self.spark.read.schema(FEED_TABLE_SCHEMA)
                .parquet(self.feed_path)
                .persist()
            )
        return self._frame, self._buckets

    def page(self, user_id: str, limit: int = 100, offset: int = 0) -> DataFrame:
        feed, buckets = self._materialized()
        return _page_from_frame(feed, user_id, limit, offset, buckets)

    def invalidate(self) -> None:
        """Evict the cached feed snapshot (call after a CDC batch lands,
        like the reference's cache invalidation on new activity)."""
        if self._frame is not None:
            self._frame.unpersist(blocking=False)
            self._frame = None
            self._buckets = None


def route_events(raw: DataFrame) -> DataFrame:
    """The CDC routing as ONE projection over parse_cdc(raw): value, the
    dead-letter reason (NULL for a feed row), the canonical activity
    columns with a NULL _seq (the sink assigns it per micro-batch), and
    the feed layout columns activity_date and user_bucket. Built once
    per streaming query; each micro-batch only splits it on reason."""
    p = F.col("_p")
    acts = _activity_columns(p, F.lit(None).cast("long"))
    return parse_cdc(raw).select(
        "value",
        dead_letter_reason(p).alias("reason"),
        *acts,
        F.to_date(acts[3]).alias("activity_date"),  # event_timestamp
        user_bucket_expr(acts[0]).alias("user_bucket"),  # user_id
    )


def run_cdc_pipeline(
    spark: SparkSession,
    source_path: str,
    feed_path: str,
    checkpoint: str,
    available_now: bool = True,
    dead_letter_path: str | None = None,
):
    """End-to-end: file JSONL source → route_events → partitioned feed
    table. Returns the StreamingQuery (lifecycle: query.stop()/
    awaitTermination — replaces the reference's /start //stop control
    plane, main.py:84-121).

    The routing (parse, validate, demux, feed layout) is planned once
    per query as the single route_events projection; the micro-batch
    function only splits the routed batch on its dead-letter reason and
    writes it. Feed rows go through _write_feed_batch. With
    ``dead_letter_path``, the batch is persisted so the one parse serves
    both outputs, and the other rows land in a reasoned dead-letter
    table — closing the reference's silent-drop path (`except: pass`,
    event_processor.py:111-113) in streaming mode too. A second
    streaming query would re-read and re-parse the source; the
    multi-output foreachBatch doesn't."""
    routed = route_events(file_json_stream(spark, source_path))
    # record the bucketing contract with the table so readers can
    # validate instead of silently pruning with the wrong modulus
    write_feed_meta(spark, feed_path, N_USER_BUCKETS)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if dead_letter_path is not None:
            batch_df = batch_df.persist()
        feed_rows = batch_df.filter(F.col("reason").isNull())
        _write_feed_batch(feed_rows.drop("value", "reason"), batch_id, feed_path)
        if dead_letter_path is None:
            return
        (
            batch_df.filter(F.col("reason").isNotNull())
            .select(
                F.col("value").alias("raw_value"),
                "reason",
                F.lit(batch_id).alias("_batch_id"),
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(dead_letter_path)
        )
        batch_df.unpersist()

    return _start_foreach_batch(routed, write_batch, checkpoint, available_now)


def pipeline_status(query) -> dict:
    """Control-plane status surface (X1): map StreamingQuery progress to
    the counters the reference's GET /status serves (main.py:79-83 —
    running flag + per-connection processed-message counts backed by
    connection_state.py:4-12). Spark already meters every micro-batch in
    recentProgress, so the status endpoint is a projection of it, not
    new bookkeeping.

    total_input_rows sums numInputRows across the retained progress
    window (spark.sql.streaming.numRecentProgressUpdates, default 100)
    — the analog of the reference's messages_processed counter."""
    progresses = query.recentProgress or []
    last = query.lastProgress
    return {
        "query_id": str(query.id),
        "running": bool(query.isActive),
        "n_batches": len(progresses),
        "total_input_rows": sum(int(p.get("numInputRows") or 0) for p in progresses),
        "last_batch_id": last.get("batchId") if last else None,
        "last_input_rows": int(last.get("numInputRows") or 0) if last else 0,
        "last_timestamp": last.get("timestamp") if last else None,
        # CapturedException exposes no public .desc in PySpark 4.x;
        # str() renders the same message (and one call avoids a second
        # RPC to the JVM)
        "exception": (lambda e: str(e) if e else None)(query.exception()),
    }
