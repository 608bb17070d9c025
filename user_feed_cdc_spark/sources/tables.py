"""Batch parquet sources for the driver testdata tables.

Explicit schemas (no footer inference on the hot path) so Catalyst can
prune columns and push predicates into the scan. At 100 TB these reads
become partitioned parquet/Delta directories; nothing here assumes a
single file.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F, types as T

from user_feed_cdc_spark.schemas import TABLE_NAMES, TABLE_SCHEMAS

# Legacy events files carry ts as raw int64 nanoseconds (either plain
# INT64 or TIMESTAMP(NANOS)-annotated); current driver files store a
# parquet TIMESTAMP(MICROS) that Spark reads natively. The footer is
# sniffed once per path (pyarrow, no Spark job) and the result cached, so
# the hot read path stays a single explicit-schema scan either way.
_EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# (path, max file mtime) -> "native" (parquet TIMESTAMP µs/ms or INT96,
# read directly) | "long" (plain int64 nanos) | "ns" (TIMESTAMP(NANOS)
# annotation, needs the legacy nanosAsLong conf to surface as long).
# mtime in the key invalidates the cache if a file is regenerated in
# place mid-session with a different physical type (the round-4 failure
# class, this time closed even for in-place rewrites).
_EVENTS_TS_KIND: dict[tuple[str, float], str] = {}


def _ts_kind_of_file(pq, file_path: str) -> str:
    # PHYSICAL type, not the arrow view: pyarrow reports both INT96
    # (Spark's own historical timestamp encoding — Spark reads it
    # natively) and TIMESTAMP(NANOS)-annotated INT64 (which Spark
    # only reads via the legacy nanosAsLong conf) as timestamp[ns].
    sch = pq.ParquetFile(file_path).schema
    col = next(
        sch.column(i) for i in range(len(sch)) if sch.column(i).name == "ts"
    )
    logical = str(col.logical_type)
    if col.physical_type == "INT96":
        return "native"
    if "nanoseconds" in logical:
        return "ns"
    if logical.startswith("Timestamp"):
        return "native"
    return "long"


def _events_ts_kind(path: str) -> str:
    import pyarrow.parquet as pq

    ds = pq.ParquetDataset(path)
    if not ds.files:
        raise FileNotFoundError(
            f"events path {path!r} contains no parquet files to sniff"
        )
    mtime = max(os.path.getmtime(f) for f in ds.files)
    key = (path, mtime)
    kind = _EVENTS_TS_KIND.get(key)
    if kind is None:
        # every footer must agree: a directory mixing physical ts types
        # (plausible for a streaming dir spanning a format change) would
        # otherwise silently read some files with the wrong
        # interpretation — 1970-range timestamps, not an error
        kinds = {f: _ts_kind_of_file(pq, f) for f in ds.files}
        distinct = set(kinds.values())
        if len(distinct) > 1:
            raise ValueError(
                f"events path {path!r} mixes ts physical types {distinct}; "
                "split the directory or rewrite to one format: "
                + ", ".join(f"{os.path.basename(f)}={k}" for f, k in kinds.items())
            )
        kind = distinct.pop()
        _EVENTS_TS_KIND[key] = kind
    return kind


def load_events(
    spark: SparkSession,
    path: str,
    streaming: bool = False,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Read an events parquet file/directory with `ts` as the canonical
    session-zoned TimestampType, whatever the file's physical ts type.
    DuckDB reads the same µs values, so the oracle comparison sees
    identical wall-clock values (session tz is UTC)."""
    kind = _events_ts_kind(path)
    reader = spark.readStream if streaming else spark.read
    if options:
        reader = reader.options(**options)
    if kind == "native":
        return reader.schema(TABLE_SCHEMAS["events"]).parquet(path)
    if kind != "ns":
        raw = reader.schema(_EVENTS_RAW_SCHEMA).parquet(path)
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # Legacy TIMESTAMP(NANOS) branch — never on current driver files.
    # nanosAsLong is session-wide; save/restore around plan definition so
    # one legacy read doesn't silently turn every later NANOS read in the
    # session into long. The conf is consulted when the scan relation is
    # resolved (here), not at action time: with an explicit schema the
    # restored conf never re-enters this plan. Batch reads of a kind="ns"
    # file after restore would error loudly (the pre-sniff behavior) —
    # which is the correct failure, they should come through this path.
    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "true")
    try:
        raw = reader.schema(_EVENTS_RAW_SCHEMA).parquet(path)
        raw.schema  # force analysis while the conf is active
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
    return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return load_events(spark, path)
    return spark.read.schema(TABLE_SCHEMAS[name]).parquet(path)


def _size_bytes(v: str | None, default: int) -> int:
    """Parse a Spark size conf string ('134217728', '128m', '4MB', '1t')
    with the suffixes Spark's byteStringAs accepts. Raises ValueError on
    a malformed value."""
    if v is None:
        return default
    s = str(v).strip().lower()
    units = {"b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20,
             "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40,
             "tb": 1 << 40, "p": 1 << 50, "pb": 1 << 50}
    for suf in sorted(units, key=len, reverse=True):
        if s.endswith(suf):
            return int(float(s[: -len(suf)])) * units[suf]
    return int(s)


def _scan_partition_estimate(df: DataFrame) -> int | None:
    """Scan partition count of a pure file-source DataFrame, computed
    from its input files WITHOUT forcing the RDD lineage (the r16
    probe instantiated df.rdd per fan_out call — driver-side planning
    cost plus a Python-serializer plan on every fan_out'd query).
    Mirrors FilePartition.getFilePartitions: files split at
    maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    padded_total / defaultParallelism)), chunks bin-packed in
    size-descending order, closing a partition when it would exceed
    maxSplitBytes. Returns None when the plan is not file-backed, a
    size is unreadable or a size conf does not parse — the caller falls
    back to the RDD probe.
    tests/test_operators.py pins estimate == df.rdd.getNumPartitions()
    on every fan_out input shape."""
    import re
    from urllib.parse import unquote, urlparse

    try:
        # Only a pure scan pipeline (project/filter over one file
        # relation) inherits the scan's partitioning — anything else
        # (an explicit repartition, a join, a Python map) changes the
        # partition count and must take the exact RDD probe.
        plan = df._jdf.queryExecution().analyzed().treeString()
        nodes = {
            m.group(1)
            for m in re.finditer(r"^[\s+:\-]*([A-Za-z]+)", plan, re.M)
        }
        if not nodes <= {"Project", "Filter", "Relation", "SubqueryAlias"}:
            return None
        files = df.inputFiles()
        conf = df.sparkSession.conf
        max_pb = _size_bytes(
            conf.get("spark.sql.files.maxPartitionBytes", None), 128 << 20
        )
        open_cost = _size_bytes(
            conf.get("spark.sql.files.openCostInBytes", None), 4 << 20
        )
        min_pn = conf.get("spark.sql.files.minPartitionNum", None)
        parallelism = (
            int(min_pn)
            if min_pn
            else df.sparkSession.sparkContext.defaultParallelism
        )
    except Exception:
        return None
    if not files:
        return None
    sizes = []
    for uri in files:
        p = unquote(urlparse(uri).path) if ":/" in uri else uri
        try:
            sizes.append(os.path.getsize(p))
        except OSError:
            return None
    total = sum(s + open_cost for s in sizes)
    max_split = min(max_pb, max(open_cost, total // parallelism))
    chunks: list[int] = []
    for s in sizes:
        while s > max_split:
            chunks.append(max_split)
            s -= max_split
        if s > 0:
            chunks.append(s)
    chunks.sort(reverse=True)
    n, cur = 0, 0
    for c in chunks:
        if cur + c > max_split and cur > 0:
            n += 1
            cur = 0
        cur += c + open_cost
    if cur > 0:
        n += 1
    return max(n, 1)


def fan_out(df: DataFrame, min_parallelism: int | None = None) -> DataFrame:
    """Repartition up to the session's parallelism when the scan produced
    fewer partitions than cores. Small/single-file inputs otherwise pin
    expensive per-row compute (minhash/simhash signatures, Pandas UDFs)
    to ONE task while the other 31 cores idle — the round-2 profile
    showed exactly that on the signature operators. At real scale the
    scan already yields ≥cores partitions and this is a no-op (the
    condition, not just the call, is the contract: never repartition a
    well-partitioned input just to repartition it)."""
    sc = df.sparkSession.sparkContext
    target = min_parallelism or sc.defaultParallelism
    n = _scan_partition_estimate(df)
    if n is None:
        n = df.rdd.getNumPartitions()
    if n < target:
        return df.repartition(target)
    return df


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_key: str,
    n_buckets: int = 8,
    sort_key: str | None = None,
) -> None:
    """Persist a DataFrame as a bucketed (and optionally sort-bucketed)
    managed table. Two tables bucketed on their join key with the same
    bucket count join WITHOUT a shuffle — each bucket pair is read
    co-located (SortMergeJoin with no Exchange). At 100 TB this is the
    difference between re-shuffling the fact table on every join and
    shuffling it once at write time; pytest pins the no-Exchange plan
    (tests/test_plans.py::test_bucketed_join_skips_shuffle)."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_key)
    if sort_key:
        writer = writer.sortBy(sort_key)
    writer.saveAsTable(table_name)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql queries."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
