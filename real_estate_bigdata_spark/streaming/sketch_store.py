"""Streaming sketch maintenance — a persistent HyperLogLog register
store updated per micro-batch (NEW r14; the streaming twin of
``operators/sketches.py``: the reference re-crawls continuously
(`kafka_cc/consumer/kafka_to_hdfs_consumer.py:49-151`-class ingest
loops) and at 100 TB "distinct users/URLs per domain so far" must be
MAINTAINED incrementally, never recomputed from the full history).

Why HLL makes this store trivially correct where the fingerprint store
needs tombstone fenceposts: register-wise MAX is idempotent AND
commutative, so

* a REPLAYED epoch (foreachBatch redelivery after a crash) rewrites
  exactly its own ``ingest_batch`` partition with identical registers —
  dynamic partition overwrite makes the store converge;
* an INTERRUPTED compaction leaves base + unfolded epochs, and the next
  load's merge absorbs the redundancy — max(max(a,b), b) = max(a,b); no
  ledger, no fencepost, no claim tag.

Layout (the index-lifecycle meta-tier pattern):

* ``<store>/meta`` — one row: p + group_cols; the serve path can never
  hash with mismatched geometry.
* ``<store>/epochs/ingest_batch=N`` — per-micro-batch register deltas.
* ``<store>/base/v{N}`` — the folded tier written by
  :func:`compact_hll_store` (run while the stream is stopped);
  versioned + ``_SUCCESS``-gated so a torn fold write can never lose
  previously-compacted registers (ADVICE r14).

Scale posture: each micro-batch ships at most ``2^p`` register rows per
group into the store regardless of batch size; the serving merge reads
registers only (never re-reads ingested payloads); compaction bounds
the epoch-tier file count.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from real_estate_bigdata_spark.operators.sketches import (
    hll_estimate,
    hll_merge,
    hll_registers,
)
from real_estate_bigdata_spark.streaming.ingest import file_stream_ingest, start_sink
from real_estate_bigdata_spark.util import checkpoint_frame, write_epoch

__all__ = [
    "run_hll_distinct_ingest",
    "load_streaming_hll",
    "streaming_hll_estimate",
    "compact_hll_store",
    "run_cms_ingest",
    "load_streaming_cms",
    "streaming_cms_estimate",
    "compact_cms_store",
]


def _meta_committed(spark: SparkSession, store_dir: str) -> bool:
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    ok = jvm.org.apache.hadoop.fs.Path(f"{store_dir}/meta/_SUCCESS")
    return ok.getFileSystem(hconf).exists(ok)


def _write_meta(spark: SparkSession, store_dir: str, row: tuple, schema: str):
    # Geometry is immutable for a store's lifetime, so write meta only
    # when absent (ADVICE r14): the per-batch overwrite bought nothing
    # and its delete/rewrite window could transiently fail a concurrent
    # estimate read (or, crashed mid-overwrite, leave the store
    # geometry-less until the next batch).
    if _meta_committed(spark, store_dir):
        return
    spark.createDataFrame([row], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{store_dir}/meta")


def _read_meta(spark: SparkSession, store_dir: str) -> tuple[int, list[str]]:
    meta = spark.read.parquet(f"{store_dir}/meta").collect()[0]
    return int(meta.p), [c for c in meta.group_cols.split(",") if c]


def run_hll_distinct_ingest(
    spark: SparkSession,
    src_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    col: str,
    schema: StructType,
    p: int = 11,
    group_cols: list[str] | None = None,
    available_now: bool = True,
    processing_time: str = "60 seconds",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Maintain the register store over a JSONL drop directory: each
    micro-batch sketches ITS OWN rows (one bounded hash aggregate) and
    writes the delta as its epoch partition — dynamic overwrite, so a
    replayed epoch converges byte-for-byte. The geometry meta tier is
    written once, on the first batch that finds it absent."""
    keys = list(group_cols or [])

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        _write_meta(
            batch_df.sparkSession,
            store_dir,
            (int(p), ",".join(keys)),
            "p int, group_cols string",
        )
        regs = hll_registers(batch_df, col, p=p, group_cols=keys)
        write_epoch(regs, f"{store_dir}/epochs", batch_id)

    raw = file_stream_ingest(
        spark, src_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )
    writer = raw.writeStream.foreachBatch(_process)
    return start_sink(writer, checkpoint_dir, available_now, processing_time)


def _newest_committed_base(
    spark: SparkSession, store_dir: str
) -> tuple[int, DataFrame | None]:
    """(version, cells) of the newest COMMITTED ``base/v{N}`` tier —
    a version counts only when its parquet ``_SUCCESS`` marker exists,
    so a torn base write is simply not the newest committed version.
    Falls back to a legacy FLAT ``base`` tier (pre-r15 layout, files
    directly under ``base/`` with their own ``_SUCCESS``) as version 0.
    Returns (-1, None) when no committed base exists."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(f"{store_dir}/base")
    fs = root.getFileSystem(hconf)
    if not fs.exists(root):
        return -1, None
    best = -1
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        m = _re.fullmatch(r"v(\d+)", name)
        if not m:
            continue
        ok = jvm.org.apache.hadoop.fs.Path(f"{store_dir}/base/{name}/_SUCCESS")
        if fs.exists(ok):
            best = max(best, int(m.group(1)))
    if best >= 0:
        return best, spark.read.parquet(f"{store_dir}/base/v{best}")
    flat_ok = jvm.org.apache.hadoop.fs.Path(f"{store_dir}/base/_SUCCESS")
    if fs.exists(flat_ok):
        return 0, spark.read.parquet(f"{store_dir}/base")
    return -1, None


def _tier_frames(spark: SparkSession, store_dir: str) -> list[DataFrame]:
    from pyspark.errors import AnalysisException

    out = []
    _, base = _newest_committed_base(spark, store_dir)
    if base is not None:
        out.append(base)
    try:
        df = spark.read.parquet(f"{store_dir}/epochs")
    except AnalysisException:
        return out
    out.append(df.drop("ingest_batch") if "ingest_batch" in df.columns else df)
    return out


def load_streaming_hll(spark: SparkSession, store_dir: str) -> DataFrame:
    """The merged register frame (base tier + all epoch deltas) —
    register-wise max, exactly the sketch of everything ever ingested.
    Raises if the store has no tiers (a silently-empty sketch would
    read as 'zero distinct ever seen')."""
    tiers = _tier_frames(spark, store_dir)
    if not tiers:
        raise FileNotFoundError(
            f"no HLL store tiers under {store_dir!r} — has the ingest ever"
            " committed a batch?"
        )
    return hll_merge(*tiers)


def streaming_hll_estimate(
    spark: SparkSession, store_dir: str, out_col: str = "est"
) -> DataFrame:
    """Distinct-count estimates from the store at its OWN persisted
    geometry (meta tier) — the serve path cannot drift from the
    build."""
    p, keys = _read_meta(spark, store_dir)
    return hll_estimate(
        load_streaming_hll(spark, store_dir), p,
        group_cols=keys, out_col=out_col,
    )


def _ensure_commit_marker(fs, jvm, dir_path: str) -> None:
    """Guarantee the ``_SUCCESS`` marker the loaders gate on exists under
    ``dir_path`` after a parquet write has returned. On committers
    configured with ``mapreduce.fileoutputcommitter.marksuccessfuljobs=
    false`` (common on object stores) the write commits but emits no
    marker — the loader would then refuse the new base forever while the
    compactor deletes the folded epochs, losing registers/counts (ADVICE
    r15). The write call returning without exception IS the commit, so
    materializing the marker ourselves is safe; cleanup below only runs
    once the published tier is actually visible to the loader."""
    ok = jvm.org.apache.hadoop.fs.Path(f"{dir_path}/_SUCCESS")
    if not fs.exists(ok):
        fs.create(ok, True).close()


def compact_hll_store(spark: SparkSession, store_dir: str) -> int:
    """Fold all epoch partitions (and any prior base) into one base
    tier; run while the stream is stopped (the fingerprint-store
    compaction contract). Crash-safe WITHOUT a ledger: the fold is a
    max-merge, so if the epoch delete below never runs, the next load
    merges base with the already-folded epochs and gets the identical
    registers — redundancy, never wrongness. The base itself is
    VERSIONED (``base/v{N}``, gated on its parquet ``_SUCCESS`` — the
    loader picks the newest committed version), because an in-place
    overwrite deletes the only copy before committing the new one: a
    crash mid-overwrite after a prior compaction would silently lose
    all previously-folded registers (ADVICE r14). Stale older versions
    are deleted best-effort after the publish. Returns the number of
    register rows in the folded base."""
    merged = checkpoint_frame(load_streaming_hll(spark, store_dir))
    n = merged.count()
    prior, _ = _newest_committed_base(spark, store_dir)
    new_v = prior + 1
    merged.write.mode("overwrite").parquet(f"{store_dir}/base/v{new_v}")
    # drop the folded epoch tier and superseded base versions
    # (best-effort; see crash-safety note — leftovers re-merge to
    # identical registers / are simply not the newest committed base)
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(store_dir)
    fs = root.getFileSystem(hconf)
    # the loader gates on _SUCCESS; make sure it exists before deleting
    # the only other copy of the folded registers (ADVICE r15)
    _ensure_commit_marker(fs, jvm, f"{store_dir}/base/v{new_v}")
    epochs = jvm.org.apache.hadoop.fs.Path(f"{store_dir}/epochs")
    if fs.exists(epochs):
        fs.delete(epochs, True)
    base_root = jvm.org.apache.hadoop.fs.Path(f"{store_dir}/base")
    for status in fs.listStatus(base_root):
        name = status.getPath().getName()
        m = _re.fullmatch(r"v(\d+)", name)
        if (m and int(m.group(1)) < new_v) or (not m and name != f"v{new_v}"):
            fs.delete(status.getPath(), True)
    return n


# --------------------------------------------------------------------------
# Count-Min streaming store — the DELIBERATE contrast with the HLL store
# --------------------------------------------------------------------------
# Cell counts merge by SUM, and sum is not idempotent: where the HLL fold
# could leave base + folded epochs lying around and let max() absorb the
# redundancy, a CMS fold that re-reads an already-folded epoch DOUBLE
# COUNTS it. So this store pays for what HLL got free: the folded base is
# VERSIONED (``base/v{F}``, gated on its parquet _SUCCESS — a torn write
# is simply not the newest committed version) and carries its fold
# fencepost F in the directory name; the loader sums the newest committed
# base with only the epochs STRICTLY ABOVE F. A crash between base
# publish and epoch delete leaves epochs <= F on disk, and the fencepost
# filter ignores them — redundancy on disk, never in the counts. (The
# same reasoning as the BM25/fingerprint ``_retracted_through``/versioned
# compaction tiers; see ingest.compact_fingerprint_store.)


def run_cms_ingest(
    spark: SparkSession,
    src_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    col: str,
    schema: StructType,
    width: int = 2048,
    depth: int = 4,
    weight_col: str | None = None,
    available_now: bool = True,
    processing_time: str = "60 seconds",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Maintain a Count-Min cell store over a JSONL drop directory:
    each micro-batch sketches its own rows (one bounded hash
    aggregate, <= depth x width cells) and dynamic-overwrites its
    epoch partition — a replayed epoch recomputes identical cells and
    converges. Frequencies accumulate by SUM at load time."""
    from real_estate_bigdata_spark.operators.sketches import count_min_sketch

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        _write_meta(
            batch_df.sparkSession,
            store_dir,
            (int(width), int(depth)),
            "width int, depth int",
        )
        cells = count_min_sketch(
            batch_df, col, width=width, depth=depth, weight_col=weight_col
        )
        write_epoch(cells, f"{store_dir}/epochs", batch_id)

    raw = file_stream_ingest(
        spark, src_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )
    writer = raw.writeStream.foreachBatch(_process)
    return start_sink(writer, checkpoint_dir, available_now, processing_time)


def _newest_cms_base(
    spark: SparkSession, store_dir: str
) -> tuple[int, DataFrame | None]:
    """(fencepost, cells) of the newest COMMITTED base version —
    (-1, None) when no version has published (_SUCCESS present)."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(f"{store_dir}/base")
    fs = root.getFileSystem(hconf)
    if not fs.exists(root):
        return -1, None
    best = -1
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        m = _re.fullmatch(r"v(\d+)", name)
        if not m:
            continue
        ok = jvm.org.apache.hadoop.fs.Path(
            f"{store_dir}/base/{name}/_SUCCESS"
        )
        if fs.exists(ok):
            best = max(best, int(m.group(1)))
    if best < 0:
        return -1, None
    return best, spark.read.parquet(f"{store_dir}/base/v{best}")


def load_streaming_cms(spark: SparkSession, store_dir: str) -> DataFrame:
    """The summed cell frame: newest committed base + epochs STRICTLY
    ABOVE its fencepost (a crash-leftover folded epoch is ignored, so
    counts never double). Raises on an empty store — a silently-empty
    sketch reads every frequency as 0."""
    from pyspark.errors import AnalysisException

    fencepost, base = _newest_cms_base(spark, store_dir)
    tiers = [] if base is None else [base]
    try:
        epochs = spark.read.parquet(f"{store_dir}/epochs").filter(
            F.col("ingest_batch") > F.lit(fencepost)
        ).drop("ingest_batch")
        tiers.append(epochs)
    except AnalysisException:
        pass
    if not tiers:
        raise FileNotFoundError(
            f"no CMS store tiers under {store_dir!r} — has the ingest ever"
            " committed a batch?"
        )
    out = tiers[0]
    for t in tiers[1:]:
        out = out.unionByName(t)
    return out.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))


def streaming_cms_estimate(
    spark: SparkSession, store_dir: str, queries: DataFrame, col: str,
    out_col: str = "est",
) -> DataFrame:
    """Point-frequency estimates from the store at its OWN persisted
    geometry — est >= true total over everything ever ingested."""
    from real_estate_bigdata_spark.operators.sketches import cms_estimate

    meta = spark.read.parquet(f"{store_dir}/meta").collect()[0]
    return cms_estimate(
        load_streaming_cms(spark, store_dir), queries, col,
        width=int(meta.width), depth=int(meta.depth), out_col=out_col,
    )


def compact_cms_store(
    spark: SparkSession, store_dir: str, up_to_batch: int | None = None
) -> int:
    """Fold epochs <= ``up_to_batch`` (default: everything below the
    NEWEST epoch present — the restarted stream can only replay the
    newest, same contract as compact_fingerprint_store; run while the
    stream is STOPPED) into a fresh versioned base ``base/v{F}``. The
    publish is gated on the parquet _SUCCESS marker; folded epoch
    partitions are then deleted (a crash in between leaves them
    ignored by the fencepost filter, never double-counted). Returns
    the fencepost F, or -1 if there was nothing to fold."""
    from pyspark.errors import AnalysisException

    try:
        epochs = spark.read.parquet(f"{store_dir}/epochs")
    except AnalysisException:
        return -1
    # bounded collect: one row per micro-batch epoch (partition values,
    # not data) — the _staged_epoch_dirs / partition-count-sized class
    batches = sorted(
        r.ingest_batch for r in epochs.select("ingest_batch").distinct().collect()
    )
    if up_to_batch is None:
        up_to_batch = batches[-1] - 1 if len(batches) > 1 else -1
    fencepost, base = _newest_cms_base(spark, store_dir)
    fold = [b for b in batches if fencepost < b <= up_to_batch]
    if not fold:
        return -1
    new_f = max(fold)
    tiers = [] if base is None else [base]
    tiers.append(
        epochs.filter(F.col("ingest_batch").isin(fold)).drop("ingest_batch")
    )
    out = tiers[0]
    for t in tiers[1:]:
        out = out.unionByName(t)
    merged = out.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))
    merged.write.mode("overwrite").parquet(f"{store_dir}/base/v{new_f}")
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.Path(store_dir).getFileSystem(hconf)
    # fencepost filter keys off the committed marker; publish it before
    # deleting the folded epochs (ADVICE r15 — marker-less committers)
    _ensure_commit_marker(fs, jvm, f"{store_dir}/base/v{new_f}")
    for b in fold:
        p = jvm.org.apache.hadoop.fs.Path(
            f"{store_dir}/epochs/ingest_batch={b}"
        )
        if fs.exists(p):
            fs.delete(p, True)
    return new_f
