"""Structured Streaming ingest — the reference's entire speed layer
(scheduler -> crawler -> Kafka -> consumer -> HDFS JSONL,
SURVEY §3 entry point 2) as ONE streaming query:

    readStream(file|kafka) -> from_json/schema -> normalize ->
    writeStream(partitioned parquet, checkpoint)

Semantics vs reference:

- trigger: processingTime ~= the 60-s half of ST1's hybrid flush
  (100-row half ≙ maxOffsetsPerTrigger on the Kafka source); exact
  count-OR-time is not natively expressible — documented approximation.
- delivery: checkpointed file sink = exactly-once, strictly stronger
  than the reference's at-least-once (ST2).
- partitioning: processing-date `ingest_date` (ST3) + `source`.
- late data: never dropped on ingest (reference keeps everything);
  event-time windowed VIEWS apply watermarks downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructType

from real_estate_bigdata_spark.functions.normalize import normalize_listings
from real_estate_bigdata_spark.schema import RAW_LISTING_SCHEMA
from real_estate_bigdata_spark.util import (
    checkpoint_frame,
    is_missing_path_error,
    write_epoch,
)

__all__ = [
    "compact_fingerprint_store",
    "compact_signature_store",
    "file_stream_ingest",
    "finalize_composite_flush",
    "retract_fingerprints",
    "retract_signatures",
    "windowed_event_counts",
    "run_composite_flush_ingest",
    "run_file_ingest",
    "run_deduped_doc_ingest",
    "run_neardup_doc_ingest",
    "run_guarded_neardup_ingest",
    "run_embedding_index_ingest",
    "run_bm25_index_ingest",
    "recover_quarantined_epochs",
    "start_sink",
]

#: explicit store schema — epoch reads never infer (an empty but
#: existing store directory must read as zero rows, not raise
#: UNABLE_TO_INFER_SCHEMA)
_STORE_SCHEMA = "fingerprint bigint, ingest_batch int"


def file_stream_ingest(
    spark: SparkSession,
    src_dir: str,
    schema: StructType = RAW_LISTING_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming DataFrame over a JSONL drop directory (the file-source
    twin of the Kafka path — same downstream pipeline; S1 modeled as a
    drop dir per SURVEY §2.1)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(src_dir)


def start_sink(
    writer: DataStreamWriter,
    checkpoint_dir: str,
    available_now: bool,
    processing_time: str,
) -> StreamingQuery:
    """Start a streaming sink — the one trigger switch of every launcher
    (file sinks and ``foreachBatch`` epoch stores alike).

    ``available_now=True`` drains everything currently in the source and
    stops (incremental batch — the modern replacement for the
    reference's 1-minute polling scheduler ST4); ``False`` runs
    continuously at ``processing_time`` cadence (ST1's 60-s half). The
    checkpoint at ``checkpoint_dir`` numbers the epochs: a restart with
    the same directory re-runs an uncommitted batch under its old id,
    which is what makes the epoch stores' per-epoch overwrite a replay.
    """
    writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def run_file_ingest(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str = "60 seconds",
) -> StreamingQuery:
    """Launch the ingest query: normalize + partitioned parquet sink;
    ``available_now``/``processing_time`` as in :func:`start_sink`."""
    normalized = normalize_listings(file_stream_ingest(spark, src_dir))
    writer = (
        normalized.writeStream.format("parquet")
        .option("path", dest_dir)
        .partitionBy("ingest_date", "source")
        .outputMode("append")
    )
    return start_sink(writer, checkpoint_dir, available_now, processing_time)


def _staged_epoch_dirs(spark: SparkSession, staging_root: str) -> list[str]:
    """Sorted ``ingest_batch=<N>`` epoch directories under the flush
    staging root (empty list when nothing is staged)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(staging_root)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return []
    return sorted(
        str(st.getPath())
        for st in fs.listStatus(root)
        if st.isDirectory()
        and st.getPath().getName().startswith("ingest_batch=")
    )


def _claim_staged(
    spark: SparkSession, staging_root: str, include_stale: bool = False
) -> list[str]:
    """Atomically CLAIM staged epoch dirs for one flusher by renaming
    each ``ingest_batch=<N>`` dir to a transient ``_flushing_`` prefix
    (ADVICE r9: without a claim step, ``finalize_composite_flush``
    racing the ingest query's in-batch flush could enumerate the same
    epochs as the other flusher before either deletes and double-append
    them). ``fs.rename`` is atomic on HDFS and local FS, so each epoch
    has exactly one winner; the loser simply skips it. Returns the
    claimed (renamed) paths.

    ``include_stale=True`` additionally adopts pre-existing
    ``_flushing_`` dirs — claims orphaned by a crash between rename and
    append. Only :func:`finalize_composite_flush` passes it (its
    contract requires the ingest query stopped, making it the sole
    flusher and the adoption race-free); the in-batch flusher never
    touches another flusher's claims.

    Claim names carry a per-call uuid (``_flushing_<uuid>_ingest_batch=N``,
    ADVICE r10): a crash between claim and append leaves an orphaned
    claim for epoch N, and the replayed micro-batch recreates
    ``ingest_batch=N``; with a FIXED claim name the next claim's
    ``fs.rename`` would find its target already present and — under
    HDFS/local rename-into-directory semantics — move the source INTO
    the orphan, nesting a partition-named subdir that corrupts the
    later adopt/read. A fresh uuid per call makes every rename target
    nonexistent, so the rename is always the atomic directory move."""
    import uuid as _uuid

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(staging_root)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return []
    claim_tag = "_flushing_" + _uuid.uuid4().hex[:12] + "_"
    claimed = []
    for st in fs.listStatus(root):
        if not st.isDirectory():
            continue
        name = st.getPath().getName()
        if name.startswith("ingest_batch="):
            target = jvm.org.apache.hadoop.fs.Path(root, claim_tag + name)
            if fs.rename(st.getPath(), target):
                claimed.append(str(target))
        elif include_stale and name.startswith("_flushing_"):
            claimed.append(str(st.getPath()))
    return sorted(claimed)


def _flush_staged(
    spark: SparkSession,
    staging_root: str,
    dest_dir: str,
    recover_stale: bool = False,
) -> int:
    """Move every staged epoch this flusher can CLAIM into the
    partitioned lake (append), then retire the claimed directories.
    Returns rows flushed. Claiming (see :func:`_claim_staged`) makes
    concurrent flushers safe: each epoch is appended by at most one.
    A crash between claim and append strands the epoch under its
    ``_flushing_`` name until ``finalize_composite_flush`` adopts it
    (``recover_stale=True``); a crash between append and delete
    re-flushes it there — both windows are the documented
    at-least-once delivery, never loss."""
    from real_estate_bigdata_spark.util import delete_dir

    dirs = _claim_staged(spark, staging_root, include_stale=recover_stale)
    if not dirs:
        return 0
    staged = spark.read.parquet(*dirs)
    n = staged.count()
    (
        staged.write.mode("append")
        .partitionBy("ingest_date", "source")
        .parquet(dest_dir)
    )
    for d in dirs:
        delete_dir(spark, d)
    return n


def run_composite_flush_ingest(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    checkpoint_dir: str,
    flush_rows: int = 100,
    flush_seconds: float = 60.0,
    available_now: bool = True,
    processing_time: str = "5 seconds",
    max_files_per_trigger: int | None = 1,
) -> StreamingQuery:
    """Reference-EXACT ST1 composite flush: normalized rows accumulate
    in a staging tier and move to the partitioned lake only when the
    staged backlog reaches ``flush_rows`` OR ``flush_seconds`` has
    elapsed since the last flush — the consumer's 100-row/60-s hybrid
    buffer (`kafka_to_hdfs_consumer.py:24-25,133,142`) reproduced at
    batch granularity, opt-in (VERDICT r8 task #8; the default
    :func:`run_file_ingest` path keeps its stronger per-batch
    exactly-once sink and the documented processingTime +
    maxOffsetsPerTrigger approximation).

    Mechanics: each micro-batch normalizes in-flight and stages under
    ``<dest>/_flush_staging/ingest_batch=<epoch>`` (underscore-hidden —
    lake reads never see staged rows; the per-epoch OVERWRITE makes a
    replayed batch idempotent). The flush decision counts the staged
    backlog (bounded by ``flush_rows`` plus one batch — never
    corpus-sized) and checks driver wall-clock age; the flush itself
    appends every staged epoch to the lake and retires the staging
    dirs. Leftovers from a previous run are picked up by the
    enumeration, so a restart drains them once thresholds trip again
    (or immediately via :func:`finalize_composite_flush`).

    Delivery: the staged tier is exactly-once, but the flush's
    append-then-delete pair is not atomic — a crash BETWEEN them
    re-flushes those epochs on recovery. That is AT-LEAST-ONCE,
    precisely the reference consumer's guarantee (its buffer flushes
    before the Kafka offset commit); callers needing exactly-once use
    the default sink, which exists for exactly that reason. The time
    half is evaluated when a batch fires (like the reference's poll
    loop, which also checks the clock per iteration); an idle source
    holds sub-threshold rows staged until the next batch or an
    explicit finalize.
    """
    import time as _time

    if flush_rows < 1:
        raise ValueError(f"flush_rows must be >= 1, got {flush_rows}")
    if flush_seconds < 0:
        raise ValueError(f"flush_seconds must be >= 0, got {flush_seconds}")
    staging_root = dest_dir.rstrip("/") + "/_flush_staging"
    state: dict = {"last_flush": None}

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        now = _time.monotonic()
        if state["last_flush"] is None:
            state["last_flush"] = now
        normalize_listings(batch_df).write.mode("overwrite").parquet(
            f"{staging_root}/ingest_batch={batch_id}"
        )
        dirs = _staged_epoch_dirs(sp, staging_root)
        pending = sp.read.parquet(*dirs).count() if dirs else 0
        if pending >= flush_rows or (
            now - state["last_flush"]
        ) >= flush_seconds:
            _flush_staged(sp, staging_root, dest_dir)
            state["last_flush"] = _time.monotonic()

    raw = file_stream_ingest(
        spark, src_dir, max_files_per_trigger=max_files_per_trigger
    )
    writer = raw.writeStream.foreachBatch(_process)
    return start_sink(writer, checkpoint_dir, available_now, processing_time)


def finalize_composite_flush(spark: SparkSession, dest_dir: str) -> int:
    """Drain rows still staged below the composite thresholds into the
    lake — the buffer flush the reference consumer's shutdown hook
    SHOULD perform but does not (`kafka_to_hdfs_consumer.py:154-160`
    closes the consumer and exits, dropping the in-memory
    ``message_batch``; this staged tier makes that drain possible, a
    strictly safer behavior than the reference's, not a parity claim).
    Also adopts and re-flushes claims orphaned by a crashed flusher
    (``_flushing_`` dirs — see :func:`_claim_staged`). Safe to call any
    time the ingest query is stopped (the stopped-query contract is
    what makes the orphan adoption race-free); returns the number of
    rows flushed (0 = staging empty)."""
    return _flush_staged(
        spark,
        dest_dir.rstrip("/") + "/_flush_staging",
        dest_dir,
        recover_stale=True,
    )


def run_deduped_doc_ingest(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    schema: StructType | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
    processing_time: str = "60 seconds",
    compacted_table: str | None = None,
) -> StreamingQuery:
    """Continuous document ingest that drops exact duplicates against a
    PERSISTENT fingerprint store — the reference's broken link-key
    re-crawl intent (SURVEY §1.2: dedup re-crawled listings against
    history) realized end-to-end: every micro-batch runs
    ``operators.dedup.dedup_against_store`` against all fingerprints
    accumulated by prior batches, across restarts.

    Exactly-once without a transactional sink: both the novel-document
    lake (``dest_dir``) and the fingerprint store (``store_dir``) are
    partitioned by ``ingest_batch`` (the foreachBatch epoch id) and
    written with DYNAMIC partition overwrite, and each batch dedups only
    against store partitions with ``ingest_batch < current`` (a static
    partition-pruned filter). A replayed epoch therefore ignores its own
    half-written outputs, recomputes the identical novel set, and
    overwrites exactly its own partitions — idempotent regardless of
    which write crashed.

    Scale posture: the store is one 8-byte column; the per-batch
    anti-join shuffles only fingerprints (never payloads) and the
    epoch-partition layout keeps the store append-only. Steady state at
    corpus scale: periodically run :func:`compact_fingerprint_store`
    (while the stream is stopped) to fold committed epoch partitions
    into a bucketed+sorted table, and pass its ``table`` name here as
    ``compacted_table``. Honest scope of the layout win: the in-batch
    anti-join unions the table with the unfolded epoch partitions, and
    bucketing does not propagate through a Union — so THIS join still
    exchanges (a far smaller post-fold store); the exchange-free,
    sort-free bucketed join (pinned by the plan test) belongs to
    consumers that join the compacted table directly, and compaction's
    own next merge. What the fold buys the ingest is a bounded epoch
    tier and one table read instead of thousands of small files.
    """
    from real_estate_bigdata_spark.operators.dedup import dedup_against_store
    from real_estate_bigdata_spark.schema import TESTDATA_SCHEMAS

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        store = _read_prior_store(
            batch_df.sparkSession,
            store_dir,
            batch_id,
            "fingerprint",
            "bigint",
            "fingerprint bigint",
            compacted_table,
        )
        # keep_fingerprint: the store write below reuses the fingerprints
        # dedup already computed instead of a second md5 pass per batch
        novel, _ = dedup_against_store(
            batch_df, store, id_col=id_col, text_col=text_col, keep_fingerprint=True
        )
        novel = checkpoint_frame(novel)  # reused by both writes
        write_epoch(novel.drop("fingerprint"), dest_dir, batch_id)
        fps = (
            novel.filter(F.col("fingerprint").isNotNull())
            .select("fingerprint")
            .distinct()
        )
        write_epoch(fps, store_dir, batch_id)

    raw = file_stream_ingest(
        spark, src_dir, schema=schema or TESTDATA_SCHEMAS["documents"]
    )
    writer = raw.writeStream.foreachBatch(_process)
    return start_sink(writer, checkpoint_dir, available_now, processing_time)


def run_neardup_doc_ingest(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    schema: StructType | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    available_now: bool = True,
    processing_time: str = "60 seconds",
    compacted_table: str | None = None,
) -> StreamingQuery:
    """Continuous document ingest that drops NEAR-duplicates against a
    persistent MinHash signature store — the fuzzy sibling of
    :func:`run_deduped_doc_ingest` (re-crawled listings rarely come
    back byte-identical; a tweaked title or timestamp defeats exact
    fingerprints, SURVEY §1.2's re-crawl intent). Every micro-batch
    runs ``operators.dedup.neardup_against_store`` against all
    signatures accumulated by prior batches, across restarts.

    Same exactly-once construction as the exact ingest: lake and
    signature store are both partitioned by ``ingest_batch`` and
    written with dynamic partition overwrite; each batch reads only
    store partitions with ``ingest_batch < current``, so a replayed
    epoch ignores its own half-written outputs, recomputes the
    identical novel set (the operator is deterministic), and
    overwrites exactly its own partitions.

    Scale posture: the store carries (id, 64-hash signature) rows —
    never payloads; band keys are recomputed map-side on read, so no
    16x banding is ever persisted. Store reads are epoch-pruned
    statically, and the per-batch joins shuffle band keys and
    signature rows only. Steady state: periodically run
    :func:`compact_signature_store` (stream STOPPED) and pass its
    ``table`` here as ``compacted_table`` — same two-tier union and
    the same honest scope as the exact ingest: the in-batch joins
    still exchange (bucketing does not survive the Union), while
    direct consumers of the id-bucketed table join exchange-free; the
    fold's in-ingest win is the bounded epoch tier and single-table
    read.
    """
    from real_estate_bigdata_spark.schema import TESTDATA_SCHEMAS

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        _neardup_batch_dedup(
            batch_df,
            batch_id,
            dest_dir,
            store_dir,
            compacted_table,
            id_col,
            text_col,
            threshold,
            num_hashes,
            bands,
        )

    raw = file_stream_ingest(
        spark, src_dir, schema=schema or TESTDATA_SCHEMAS["documents"]
    )
    writer = raw.writeStream.foreachBatch(_process)
    return start_sink(writer, checkpoint_dir, available_now, processing_time)


def _neardup_batch_dedup(
    batch_df: DataFrame,
    batch_id: int,
    dest_dir: str,
    store_dir: str,
    compacted_table: str | None,
    id_col: str,
    text_col: str,
    threshold: float,
    num_hashes: int,
    bands: int,
) -> None:
    """One micro-batch of the store-backed near-dup ingest: dedup
    ``batch_df`` against all prior epochs (+ compacted tier), write the
    novel rows and their signatures under this epoch's partitions with
    dynamic overwrite. Shared by :func:`run_neardup_doc_ingest` and the
    drift-guarded :func:`run_guarded_neardup_ingest` so the dedup/
    exactly-once mechanics cannot fork between them."""
    from real_estate_bigdata_spark.operators.dedup import neardup_against_store

    # the id column's type follows the STREAM schema (a hardcoded
    # bigint would make every store read fail — and fail again on
    # every retry — the moment a caller ingests string ids)
    id_type = batch_df.schema[id_col].dataType.simpleString()
    store = _read_prior_store(
        batch_df.sparkSession,
        store_dir,
        batch_id,
        id_col,
        id_type,
        f"{id_col} {id_type}, sig array<bigint>",
        compacted_table,
    )
    novel, added_sigs = neardup_against_store(
        batch_df,
        store,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        id_col=id_col,
        text_col=text_col,
        return_additions=True,
    )
    novel = checkpoint_frame(novel)
    added_sigs = checkpoint_frame(added_sigs)
    write_epoch(novel, dest_dir, batch_id)
    write_epoch(added_sigs, store_dir, batch_id)


def run_guarded_neardup_ingest(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    baseline_dir: str,
    metric: str,
    lo: float,
    hi: float,
    quarantine_dir: str,
    n_bins: int = 10,
    psi_threshold: float = 0.25,
    report_dir: str | None = None,
    schema: StructType | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    available_now: bool = True,
    processing_time: str = "60 seconds",
    compacted_table: str | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Drift-GUARDED near-dup ingest (VERDICT r6 task #6):
    :func:`run_neardup_doc_ingest` composed with the drift monitor so
    the monitor ACTS instead of only reporting — each micro-batch is
    first PSI-compared against the materialized baseline histogram at
    ``baseline_dir`` (``drift_monitor.write_baseline_histogram``), and
    a batch whose whole-batch PSI meets ``psi_threshold`` is QUARANTINED
    (rows written under ``quarantine_dir``'s epoch partition; lake and
    signature store untouched) instead of ingested. A broken parser or
    a crawler change skews minutes of data into the quarantine, not
    weeks of it into the store that every future batch dedups against.

    Guard cost per batch: one histogram aggregate over THE BATCH plus
    PSI arithmetic on an (n_bins+2)-row frame, and one bounded collect
    of that PSI scalar — the baseline corpus is never re-scanned
    (``drift_monitor``'s design). ``metric``/``lo``/``hi``/``n_bins``
    must match the baseline's build parameters (its documented
    contract). When ``report_dir`` is given, every batch's per-bin
    drift report also lands there, quarantined or not.

    Replay semantics: the PSI decision is deterministic for a given
    (batch, baseline) pair, and all three sinks (lake+store / quarantine
    / report) write dynamic-overwrite epoch partitions — a replayed
    epoch re-derives the same verdict and overwrites exactly its own
    partitions. If the baseline was REFRESHED between the crash and the
    replay, the verdict follows the new baseline — acceptable, since
    the operator's contract is "distributed like the CURRENT reference
    corpus". An empty micro-batch PSI-scores maximally (a silent
    upstream is drift) but writes no quarantine rows.

    Recovering a quarantined batch after investigation:
    :func:`recover_quarantined_epochs` re-drops its epoch partition
    into the source dir as fresh JSONL (it near-dup-dedups against the
    store as usual, and re-quarantines if the drift persists) and
    retires the partition.

    ``max_files_per_trigger`` bounds each micro-batch to that many
    source files (availableNow honors it as a read limit) — the
    quarantine verdict is per micro-batch, so batch sizing IS verdict
    granularity: without a bound, a full-history replay from a fresh
    checkpoint folds every pending file into one batch and one verdict.
    """
    from real_estate_bigdata_spark.operators.quality import (
        baseline_histogram,
        drift_from_histograms,
    )
    from real_estate_bigdata_spark.schema import TESTDATA_SCHEMAS

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        batch_df = checkpoint_frame(batch_df)  # scored + written
        h_base = sess.read.parquet(baseline_dir)
        h_batch = baseline_histogram(batch_df, metric, lo, hi, n_bins, None)
        report = drift_from_histograms(h_base, h_batch, n_bins, None)
        report = checkpoint_frame(report)
        psi_row = report.agg(F.round(F.sum("psi_contrib"), 6)).first()
        psi = float(psi_row[0]) if psi_row and psi_row[0] is not None else 0.0
        if report_dir is not None:
            write_epoch(
                report.withColumn("psi_total", F.lit(psi)).withColumn(
                    "quarantined", F.lit(psi >= psi_threshold)
                ),
                report_dir,
                batch_id,
            )
        if psi >= psi_threshold:
            write_epoch(batch_df, quarantine_dir, batch_id)
            return
        _neardup_batch_dedup(
            batch_df,
            batch_id,
            dest_dir,
            store_dir,
            compacted_table,
            id_col,
            text_col,
            threshold,
            num_hashes,
            bands,
        )

    raw = file_stream_ingest(
        spark,
        src_dir,
        schema=schema or TESTDATA_SCHEMAS["documents"],
        max_files_per_trigger=max_files_per_trigger,
    )
    writer = raw.writeStream.foreachBatch(_process)
    return start_sink(writer, checkpoint_dir, available_now, processing_time)


def run_embedding_index_ingest(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    checkpoint_dir: str,
    schema: StructType | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    available_now: bool = True,
    processing_time: str = "60 seconds",
    max_files_per_trigger: int | None = None,
    append_codes: bool = False,
) -> StreamingQuery:
    """Continuous maintenance of a persisted IVF index: each micro-batch
    of newly-embedded vectors is assigned to the index's immutable
    centroids and appended as an epoch partition
    (``similarity.append_ivf_epoch``) — the ANN-search twin of the
    dedup-store ingests, completing the lifecycle the search state was
    missing: grow (this), serve (``load_ivf_index`` unions the tier in),
    retract (``retract_from_ann_index``), compact (``compact_ann_index``
    folds epochs + applies tombstones).

    ``append_codes=True`` (r8) additionally encodes each batch against
    the co-located persisted PQ codebook and appends the codes epoch
    (``similarity.append_pq_epoch``) — the full IVF-PQ serving pair
    (lists for probing, codes for the ADC scan) maintained by ONE
    stream. Requires ``save_pq`` to have written ``codebook``/``codes``
    at the same ``index_path``.

    Exactly-once by the same construction as the stores: both epoch
    writes are dynamic-partition-overwrite keyed by the foreachBatch
    epoch id, so a replayed batch recomputes the identical assignment
    and encoding and overwrites exactly its own partitions (the two
    appends are each idempotent, so a crash between them replays
    cleanly). The index must exist (``build_ivf_index`` +
    ``save_ivf_index``) before the stream starts; centroids and
    codebook are immutable here by design — distribution shift is a
    REBUILD decision, monitored by ``quality.distribution_drift`` over
    an embedding projection, not an append decision.
    """
    from real_estate_bigdata_spark.operators.similarity import (
        append_ivf_epoch,
        append_pq_epoch,
    )
    from real_estate_bigdata_spark.schema import TESTDATA_SCHEMAS

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if append_codes:  # two consumers — don't recompute the batch
            batch_df = checkpoint_frame(batch_df)
        append_ivf_epoch(
            batch_df.sparkSession,
            index_path,
            batch_df,
            batch_id,
            id_col=id_col,
            vec_col=vec_col,
        )
        if append_codes:
            append_pq_epoch(
                batch_df.sparkSession,
                index_path,
                batch_df,
                batch_id,
                id_col=id_col,
                vec_col=vec_col,
            )

    raw = file_stream_ingest(
        spark,
        src_dir,
        schema=schema or TESTDATA_SCHEMAS["embeddings"],
        max_files_per_trigger=max_files_per_trigger,
    )
    writer = raw.writeStream.foreachBatch(_process)
    return start_sink(writer, checkpoint_dir, available_now, processing_time)


def run_bm25_index_ingest(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    checkpoint_dir: str,
    schema: StructType | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
    processing_time: str = "60 seconds",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Continuous maintenance of a persisted BM25 index — the lexical
    twin of :func:`run_embedding_index_ingest`: each micro-batch of NEW
    documents appends its posting lists, per-term df partials, and
    (n, sum_dl) stats partial as an epoch
    (``text_analysis.append_bm25_epoch``); ``bm25_search`` serves the
    union of base + epochs immediately, and
    ``text_analysis.compact_bm25_index`` periodically folds the tier
    back (fold-fencepost protected — a compaction crash can never
    double-count a folded partial).

    The index must exist (``build_bm25_index``) before the stream
    starts. Exactly-once: epoch writes are dynamic-partition-overwrite
    keyed by the foreachBatch epoch id — a replayed batch overwrites
    its own partitions with identical content, and an already-FOLDED
    replayed epoch is excluded by the fencepost everywhere it is read.
    KEEP the checkpoint directory for the life of the index: epoch ids
    come from it, and a fresh checkpoint would restart numbering at 0,
    colliding with epochs a past compaction already folded. The ingest
    stream must deliver NEW documents only (``append_bm25_epoch``'s
    contract) — compose with the dedup ingest family upstream.
    """
    from real_estate_bigdata_spark.operators.text_analysis import (
        append_bm25_epoch,
    )
    from real_estate_bigdata_spark.schema import TESTDATA_SCHEMAS

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        append_bm25_epoch(
            batch_df.sparkSession,
            index_path,
            batch_df,
            batch_id,
            id_col=id_col,
            text_col=text_col,
        )

    raw = file_stream_ingest(
        spark,
        src_dir,
        schema=schema or TESTDATA_SCHEMAS["documents"],
        max_files_per_trigger=max_files_per_trigger,
    )
    writer = raw.writeStream.foreachBatch(_process)
    return start_sink(writer, checkpoint_dir, available_now, processing_time)


def recover_quarantined_epochs(
    spark: SparkSession,
    quarantine_dir: str,
    src_dir: str,
    epochs: list[int] | None = None,
) -> int:
    """Re-queue quarantined micro-batches for ingest after investigation
    — the function form of :func:`run_guarded_neardup_ingest`'s
    documented manual recovery (VERDICT r7 task #8). For each selected
    ``ingest_batch=<N>`` partition under ``quarantine_dir``: read it,
    write its rows back as JSONL files into the live drop directory
    (``recovered-ingest-batch-<N>-*.json`` — names the file source
    discovers as brand-new input), then RETIRE the partition. The next
    guarded-ingest run picks the files up and they flow through the
    normal verdict + store-dedup path: re-ingest is idempotent at the
    content level because the signature store masks documents it
    already holds, and the PSI verdict re-evaluates against the
    CURRENT baseline — if the drift was real and the baseline was
    since refreshed, the rows ingest; if the upstream is still broken,
    they re-quarantine under a new epoch.

    Crash-safe and re-runnable per epoch: rows stage under a
    ``_recover_staging_<N>`` directory (underscore-hidden) inside the
    quarantine dir, any files from a prior interrupted recovery of the
    SAME epoch are removed before the staged parts move in, and the
    epoch partition is deleted only after every part has landed. A
    crash anywhere re-runs to the same end state; a re-run after a
    consumed prior recovery at worst re-drops content the store dedup
    already masks. Single recovery writer per quarantine dir, same as
    every artifact-maintenance helper here.

    Returns the number of epoch partitions recovered (0 = nothing
    quarantined / nothing matching ``epochs``)."""
    from real_estate_bigdata_spark.util import delete_dir

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    qpath = jvm.org.apache.hadoop.fs.Path(quarantine_dir)
    fs = qpath.getFileSystem(conf)
    if not fs.exists(qpath):
        return 0
    found: list[int] = []
    for st in fs.listStatus(qpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("ingest_batch="):
            found.append(int(name.split("=", 1)[1]))
    wanted = sorted(found if epochs is None else set(found) & set(epochs))
    if not wanted:
        return 0
    src_path = jvm.org.apache.hadoop.fs.Path(src_dir)
    src_fs = src_path.getFileSystem(conf)
    src_fs.mkdirs(src_path)
    # a rename is only legal within ONE filesystem; when quarantine and
    # src resolve to different ones (e.g. file:// staging vs hdfs://
    # drop dir) fall back to copy+delete (ADVICE r8 #5)
    same_fs = fs.getUri().toString() == src_fs.getUri().toString()
    for epoch in wanted:
        part_dir = f"{quarantine_dir.rstrip('/')}/ingest_batch={epoch}"
        staging = f"{quarantine_dir.rstrip('/')}/_recover_staging_{epoch}"
        delete_dir(spark, staging)
        # partition-dir read: ingest_batch (a partition column) is not
        # in the files, so the rows come back in source shape
        spark.read.parquet(part_dir).write.mode("overwrite").json(staging)
        prefix = f"recovered-ingest-batch-{epoch}-"
        for st in src_fs.listStatus(src_path):
            if st.getPath().getName().startswith(prefix):
                src_fs.delete(st.getPath(), False)
        i = 0
        spath = jvm.org.apache.hadoop.fs.Path(staging)
        for st in sorted(
            fs.listStatus(spath), key=lambda s: s.getPath().getName()
        ):
            name = st.getPath().getName()
            if not name.endswith(".json") or name.startswith(("_", ".")):
                continue
            dest = jvm.org.apache.hadoop.fs.Path(
                f"{src_dir.rstrip('/')}/{prefix}{i:05d}.json"
            )
            if same_fs:
                moved = fs.rename(st.getPath(), dest)
            else:
                moved = jvm.org.apache.hadoop.fs.FileUtil.copy(
                    fs, st.getPath(), src_fs, dest, True, True, conf
                )
            if not moved:
                raise IOError(
                    f"quarantine recovery: move({st.getPath()}, {dest}) "
                    f"returned false; staging left intact at {staging}"
                )
            i += 1
        delete_dir(spark, staging)
        delete_dir(spark, part_dir)
    return len(wanted)


def _tombstones_dir(store_dir: str) -> str:
    # leading underscore: Spark's file index treats _-prefixed paths as
    # hidden, so tombstones are invisible to the normal store read
    return store_dir.rstrip("/") + "/_tombstones"


def _read_tombstones(
    spark: SparkSession, store_dir: str, key_col: str, key_type: str
) -> DataFrame | None:
    """The store's retraction ledger: (key, as_of_batch) rows, or None
    when no retraction was ever issued (the overwhelmingly common case —
    callers skip the mask joins entirely)."""
    from pyspark.errors import AnalysisException

    try:
        t = spark.read.schema(f"{key_col} {key_type}, as_of_batch int").parquet(
            _tombstones_dir(store_dir)
        )
    except AnalysisException as exc:
        if not is_missing_path_error(exc):
            raise
        return None
    return t


def _mask_retracted(
    rows: DataFrame,
    tombs: DataFrame | None,
    key_col: str,
    epoch_col: str | None = None,
) -> DataFrame:
    """Hide retracted store rows behind the tombstone ledger.

    Epoch rows (``epoch_col`` given) are masked only when their epoch is
    <= the tombstone's ``as_of_batch`` — a key RE-ADDED by a later batch
    (the re-ingested document) is live again and keeps deduplicating its
    future duplicates. Compacted-table rows (``epoch_col=None``) lost
    their epoch, but every live tombstone postdates every row the table
    held at retraction time (``as_of_batch`` is the max epoch present,
    and compaction CONSUMES tombstones it folds), so a key-only mask is
    exact: post-retraction re-adds live in epochs above ``as_of_batch``,
    which by the consumption rule are never folded under a live
    tombstone. Tombstone sets are retraction-sized — broadcast."""
    if tombs is None:
        return rows
    t = tombs.groupBy(key_col).agg(F.max("as_of_batch").alias("__as_of"))
    if epoch_col is None:
        return rows.join(F.broadcast(t.select(key_col)), key_col, "left_anti")
    r, tt = rows.alias("__r"), t.alias("__t")
    cond = (F.col(f"__r.{key_col}") == F.col(f"__t.{key_col}")) & (
        F.col(f"__r.{epoch_col}") <= F.col("__t.__as_of")
    )
    return r.join(F.broadcast(tt), cond, "left_anti")


def _read_prior_store(
    sess: SparkSession,
    store_dir: str,
    batch_id: int,
    key_col: str,
    key_type: str,
    value_schema: str,
    compacted_table: str | None,
) -> DataFrame:
    """The dedup store as batch ``batch_id`` must see it: every epoch
    BEFORE this one, minus retracted rows, plus the compacted tier —
    the ``value_schema`` columns only. Shared by the exact and near-dup
    ingests so their exactly-once reads cannot fork.

    The read schema is explicit (``value_schema`` + ``ingest_batch``):
    an empty but existing store directory must read as zero rows, not
    raise on inference."""
    from pyspark.errors import AnalysisException

    tombs = _read_tombstones(sess, store_dir, key_col, key_type)
    try:
        store = (
            sess.read.schema(f"{value_schema}, ingest_batch int")
            .parquet(store_dir)
            # replay safety: never see this epoch's own (possibly
            # partial) rows; prunes to prior-epoch partitions
            .filter(F.col("ingest_batch") < F.lit(batch_id))
        )
        # retraction mask: epoch-scoped, so a key RE-ADDED after its
        # retraction (the re-ingested document) is live again and keeps
        # deduplicating its future duplicates
        store = _mask_retracted(
            store, tombs, key_col, epoch_col="ingest_batch"
        ).drop("ingest_batch")
    except AnalysisException as exc:
        # ONLY a missing store path means "first epoch". Any other read
        # failure (transient storage error, corrupt footer, permissions)
        # must fail the batch for retry — substituting an empty store
        # would silently admit every duplicate in the batch to the lake.
        if not is_missing_path_error(exc):
            raise
        store = sess.createDataFrame([], value_schema)
    if compacted_table is not None and sess.catalog.tableExists(
        compacted_table
    ):
        # rows folded out of the epoch partitions by the store's
        # compaction; never contains an epoch that could replay (its
        # contract), so no batch-id filter. Live tombstones always
        # postdate every folded row (compaction consumes the ones it
        # applies), so the key-only mask is exact here.
        store = store.unionByName(
            _mask_retracted(
                sess.table(compacted_table).select(*store.columns),
                tombs,
                key_col,
            )
        )
    return store


def _retract_keys(
    spark: SparkSession,
    store_dir: str,
    keys: DataFrame,
    key_col: str,
    key_type: str,
    epoch_schema: str,
) -> int:
    """Append (key, as_of_batch) tombstones for ``keys``; shared core of
    :func:`retract_fingerprints` / :func:`retract_signatures`.

    ``as_of_batch`` — the newest epoch currently in the store — scopes
    the retraction to rows that exist NOW: a future re-ingest of the
    same content lands in a later epoch and is NOT masked, so the store
    resumes deduplicating against it (the retract-then-reingest
    round-trip). Run with the ingest stream STOPPED (same contract as
    compaction) so "newest epoch" is stable. Returns the number of
    distinct keys tombstoned. NULL keys are dropped — no store row can
    equi-join them. ``key_type`` is the STORE's key type (derived from
    the store schema by the callers, never trusted from the keys frame)
    — caller keys are cast to it with a lossy-cast fail-fast."""
    from pyspark.errors import AnalysisException

    try:
        epochs = (
            spark.read.schema(epoch_schema)
            .parquet(store_dir)
            .agg(F.max("ingest_batch"))
            .first()[0]
        )
    except AnalysisException as exc:
        if not is_missing_path_error(exc):
            raise
        epochs = None
    as_of = -1 if epochs is None else int(epochs)
    # keys are CAST to the store-derived key_type before writing (ADVICE
    # r6 #1): the masks read the ledger with the store's id type, so a
    # caller frame with a narrower/wider type must not dictate the
    # ledger's physical schema. A lossy cast fails loudly instead of
    # writing tombstones the masks can't equi-join.
    out = checkpoint_frame(  # validate + count + write, one pass
        keys.select(F.col(key_col).alias("__raw"))
        .filter(F.col("__raw").isNotNull())
        .distinct()
        .withColumn(key_col, F.col("__raw").cast(key_type))
        .withColumn("as_of_batch", F.lit(as_of).cast("int"))
    )
    src_type = keys.schema[key_col].dataType.simpleString()
    # two lossy-cast guards on the CHECKPOINTED rows: NULL (cast produced
    # nothing) and round-trip inequality (a non-ANSI truncating cast,
    # e.g. double 7.5 -> bigint 7, yields a NON-null wrong key that
    # would tombstone the wrong store row)
    if out.filter(
        F.col(key_col).isNull()
        | (F.col(key_col).cast(src_type) != F.col("__raw"))
    ).limit(1).count():
        raise ValueError(
            f"retraction keys of type {src_type!r} do not cast "
            f"losslessly to the store key type {key_type!r}"
        )
    out = out.select(key_col, "as_of_batch")
    n = out.count()
    if n:
        out.write.mode("append").parquet(_tombstones_dir(store_dir))
    return n


def retract_fingerprints(
    spark: SparkSession,
    store_dir: str,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Retract documents from a ``run_deduped_doc_ingest`` fingerprint
    store (VERDICT r5 task #6): a takedown / opt-out / bad-crawl removal
    must ALSO free the content's fingerprint, or the store blocks
    re-ingestion of legitimate content forever — ``versioning.
    corpus_diff`` detects the removal, this makes the dedup store agree
    with it.

    Deletion-vector style: nothing is rewritten now; (fingerprint,
    as_of_batch) tombstones land in a hidden ``_tombstones`` ledger
    inside the store, every store read masks against them (broadcast
    anti-join, retraction-sized), and the next
    :func:`compact_fingerprint_store` run applies them physically and
    consumes them. ``docs`` carries the CONTENT to retract (same
    ``text_col`` the ingest fingerprinted — retraction is by content,
    because that is what the store keys on). Run with the stream
    stopped. Returns the number of fingerprints tombstoned."""
    from real_estate_bigdata_spark.operators.text_analysis import doc_fingerprints

    fps = doc_fingerprints(
        docs.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        )
    ).select("fingerprint")
    return _retract_keys(
        spark, store_dir, fps, "fingerprint", "bigint", _STORE_SCHEMA
    )


def retract_signatures(
    spark: SparkSession,
    store_dir: str,
    ids: DataFrame,
    id_col: str = "doc_id",
) -> int:
    """:func:`retract_fingerprints`' twin for the
    ``run_neardup_doc_ingest`` MinHash signature store, keyed by
    document id (what that store keys on — a near-dup store retraction
    removes THE DOCUMENT's signature; its content re-ingested later
    gets a fresh signature row under its new epoch). ``ids``: a
    DataFrame carrying ``id_col``. Same tombstone mechanics, masking
    points, and stream-stopped contract. Returns the number of ids
    tombstoned.

    The ledger key type derives from the STORE's own parquet schema when
    the store exists (ADVICE r6 #1 — a caller passing a narrower id
    type, e.g. int ids against a bigint-keyed store, previously produced
    a ledger whose schema-on-read could mismatch the masks); the caller
    frame's type is only the fallback for a not-yet-created store."""
    from pyspark.errors import AnalysisException

    id_type = ids.schema[id_col].dataType.simpleString()
    try:
        store_schema = spark.read.parquet(store_dir).schema
        if id_col in store_schema.fieldNames():
            id_type = store_schema[id_col].dataType.simpleString()
    except AnalysisException:
        # missing or empty (schema-less) store — nothing to mask yet,
        # the caller frame's type stands for the fresh ledger
        pass
    return _retract_keys(
        spark,
        store_dir,
        ids,
        id_col,
        id_type,
        f"{id_col} {id_type}, sig array<bigint>, ingest_batch int",
    )


def _compact_epoch_store(
    spark: SparkSession,
    store_dir: str,
    table: str,
    compacted_path: str | None,
    up_to_batch: int | None,
    n_buckets: int,
    schema_str: str,
    value_cols: tuple[str, ...],
    bucket_col: str,
    key_type: str = "bigint",
) -> int:
    """Shared epoch-folding core for the exact-fingerprint and MinHash
    signature stores: fold committed ``ingest_batch`` partitions into
    ONE bucketed+sorted table (``sources.lake.write_bucketed`` on
    ``bucket_col``), versioned per fold, then delete the folded epoch
    directories. See :func:`compact_fingerprint_store` for the full
    replay-safety contract — identical for both stores.

    Retraction tombstones are APPLIED here (this is the "rewrite" half
    of the tombstone-then-compact design): folded epoch rows are masked
    epoch-aware (a key re-added after its retraction survives via its
    later epoch), the prior table's rows key-only, and tombstones whose
    masked range folded completely (``as_of_batch < up_to``) are
    CONSUMED — deleted from the ledger — because the new table no
    longer contains anything they masked. Consumption runs BEFORE the
    epoch-directory deletes: a crash in between leaves already-masked
    epochs on disk, which the next compaction detects as a containment
    violation and refuses loudly (delete the stale epoch dirs manually)
    rather than silently resurrecting retracted rows.

    Known crash window (ADVICE r6 #3, documented trade): if the table
    version commits — possibly folding a post-retraction RE-ADDED key
    from a later epoch — but the process dies before tombstone
    consumption, the still-live tombstone's key-only mask on the
    compacted table transiently hides that legitimately re-added row,
    so its near/exact duplicates are ADMITTED until compaction is
    re-run (the re-run consumes the tombstone and self-heals via the
    already-this-version containment path). The failure mode is
    temporary over-admission of duplicates — never data loss and never
    resurrection of retracted content — and the recovery action is the
    idempotent re-run the crash contract already prescribes; recording
    a fold version in the ledger to close the window was judged not
    worth the extra ledger state for a duplicate-admission blip.
    """
    from pyspark.errors import AnalysisException

    compacted_path = compacted_path or store_dir.rstrip("/") + "_compacted"
    try:
        epochs_df = spark.read.schema(schema_str).parquet(store_dir)
        epoch_ids = sorted(
            r[0] for r in epochs_df.select("ingest_batch").distinct().collect()
        )  # bounded: one id per micro-batch since the last compaction
    except AnalysisException as exc:
        if not is_missing_path_error(exc):
            raise
        epoch_ids = []
    if not epoch_ids:
        return 0
    up_to = max(epoch_ids) if up_to_batch is None else up_to_batch
    fold = [k for k in epoch_ids if k < up_to]
    if not fold:
        return 0

    from real_estate_bigdata_spark.sources.lake import write_bucketed

    tombs = _read_tombstones(spark, store_dir, bucket_col, key_type)
    version_path = f"{compacted_path.rstrip('/')}/v{up_to}"
    merged = _mask_retracted(
        epochs_df.filter(F.col("ingest_batch") < F.lit(up_to)),
        tombs,
        bucket_col,
        epoch_col="ingest_batch",
    ).select(*value_cols)
    already_this_version = False
    if spark.catalog.tableExists(table):
        # merge the previous version by reading its FILES directly —
        # referencing the catalog table here would trip Spark's
        # self-overwrite check (UNSUPPORTED_OVERWRITE.TABLE) when
        # saveAsTable replaces it below. The old files are not deleted,
        # so the scan stays valid throughout.
        loc = next(
            r.data_type
            for r in spark.sql(f"DESC FORMATTED {table}").collect()
            if r.col_name == "Location"
        )
        # crash recovery: a prior run that committed the table at THIS
        # version but died before deleting the folded epochs must not
        # read-and-overwrite v{up_to} against itself — the committed
        # table already contains those epochs' rows, so only the
        # deletes below remain to be done
        already_this_version = loc.rstrip("/").endswith(f"/v{up_to}")
        if already_this_version:
            # Two situations share this table location: (a) crash
            # recovery — the write committed v{up_to} but the folded
            # epoch dirs were not yet deleted (their rows ARE in the
            # table; only the deletes remain), and (b) a NEW fold that
            # REUSED an old up_to_batch after the stream wrote fresh
            # epochs — skipping the merge there would delete rows never
            # written anywhere (silent store loss, every future
            # near-dup of them admitted). Distinguish by containment:
            # any folded key missing from the table means (b) — refuse.
            missing = (
                merged.select(bucket_col)
                .join(spark.read.parquet(loc).select(bucket_col),
                      bucket_col, "left_anti")
                .limit(1)
                .count()
            )
            if missing:
                raise ValueError(
                    f"compaction version v{up_to} already exists but does "
                    f"not contain the epochs now pending; pass an "
                    f"up_to_batch above the newest folded epoch instead "
                    f"of reusing {up_to}"
                )
        else:
            merged = merged.unionByName(
                _mask_retracted(
                    spark.read.parquet(loc).select(*value_cols),
                    tombs,
                    bucket_col,
                )
            )
    if not already_this_version:
        write_bucketed(
            merged.distinct(),
            table,
            version_path,
            bucket_cols=(bucket_col,),
            n_buckets=n_buckets,
            sort_cols=(bucket_col,),
        )

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    if tombs is not None:
        # consume fully-applied tombstones (everything they masked is
        # folded and the new table excludes it); keep the rest — they
        # still mask unfolded epoch rows. Runs before the epoch deletes
        # (docstring: loud containment failure beats silent
        # resurrection on a double-crash).
        survivors = checkpoint_frame(
            tombs.filter(F.col("as_of_batch") >= F.lit(up_to))
        )
        tdir = jvm.org.apache.hadoop.fs.Path(_tombstones_dir(store_dir))
        if survivors.first() is None:
            tdir.getFileSystem(conf).delete(tdir, True)
        else:
            survivors.write.mode("overwrite").parquet(
                _tombstones_dir(store_dir)
            )
    for k in fold:
        p = jvm.org.apache.hadoop.fs.Path(f"{store_dir}/ingest_batch={k}")
        p.getFileSystem(conf).delete(p, True)
    return len(fold)


def compact_fingerprint_store(
    spark: SparkSession,
    store_dir: str,
    table: str = "fp_store_compacted",
    compacted_path: str | None = None,
    up_to_batch: int | None = None,
    n_buckets: int = 32,
) -> int:
    """Fold committed epoch partitions of a ``run_deduped_doc_ingest``
    fingerprint store into ONE bucketed+sorted table, returning the
    number of epochs folded.

    Why: the epoch-partitioned store grows one directory per micro-batch
    and every batch's anti-join re-shuffles the whole store. Compaction
    rewrites the accumulated fingerprints bucketed AND sorted on
    ``fingerprint`` (``sources.lake.write_bucketed``), so subsequent
    batches' anti-joins read co-located, pre-sorted buckets — no
    exchange and no sort on the store side, the pay-the-shuffle-once
    pattern. Folded epoch directories are deleted afterward; a crash
    between write and delete leaves harmless overlap (the anti-join is
    idempotent on duplicate fingerprints, and the next compaction
    re-folds + deletes them).

    Replay-safety contract: run while the ingest stream is STOPPED.
    Only epochs strictly below ``up_to_batch`` are folded; the default
    folds everything below the NEWEST epoch present, because after a
    crash only the newest epoch can be replayed by the restarted stream
    — a replayed epoch must keep filtering its own fingerprints out by
    batch id, which the unpartitioned compacted table cannot do. Pass
    an explicit lower ``up_to_batch`` to be more conservative; never a
    higher one unless the last epoch is known committed.

    Each compaction writes a fresh versioned directory
    ``{compacted_path}/v{up_to}`` and points ``table`` at it, merging
    the previous table's contents; the prior version's files are left
    for out-of-band deletion (they may still back a reader's plan).
    """
    return _compact_epoch_store(
        spark,
        store_dir,
        table,
        compacted_path,
        up_to_batch,
        n_buckets,
        _STORE_SCHEMA,
        ("fingerprint",),
        "fingerprint",
    )


def compact_signature_store(
    spark: SparkSession,
    store_dir: str,
    table: str = "sig_store_compacted",
    compacted_path: str | None = None,
    up_to_batch: int | None = None,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    id_type: str = "bigint",
) -> int:
    """:func:`compact_fingerprint_store`'s twin for the
    ``run_neardup_doc_ingest`` MinHash signature store: fold committed
    epoch partitions into one table bucketed+sorted on ``id_col``.

    The id-bucketed layout gives DIRECT consumers of the table (audit
    joins, the compaction's own next merge) exchange-free, sort-free
    anti-joins; inside the ingest the table is unioned with the
    unfolded epochs first, so that join still exchanges — the in-ingest
    win is the bounded epoch tier (see ``run_neardup_doc_ingest``).
    The band-key join is layout-indifferent (band keys are a map-side
    projection of the signatures wherever they live). Same replay-safety contract: run with the stream
    STOPPED; only epochs below the newest (or an explicit
    ``up_to_batch``) fold. ``id_type`` must match the stream schema's
    id column (see ``run_neardup_doc_ingest``).
    """
    return _compact_epoch_store(
        spark,
        store_dir,
        table,
        compacted_path,
        up_to_batch,
        n_buckets,
        f"{id_col} {id_type}, sig array<bigint>, ingest_batch int",
        (id_col, "sig"),
        id_col,
        key_type=id_type,
    )


def windowed_event_counts(
    events: DataFrame,
    window_width: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Event-time tumbling-window aggregate with late-data watermark —
    the streaming twin of ``operators.events.tumbling_window_stats``
    (same expressions; works on readStream inputs, where the watermark
    bounds state and admits data up to `watermark` late)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_width).alias("w"), key_col)
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), key_col, "n_events", "total_value")
    )
