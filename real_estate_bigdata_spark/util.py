"""Small cross-cutting helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame, Row

__all__ = [
    "bounded_collect",
    "checkpoint_frame",
    "concurrently",
    "delete_dir",
    "ensure_min_parallelism",
    "finish_pending_dir_swap",
    "is_missing_path_error",
    "local_frame",
    "read_fold_marker",
    "swap_in_rewrite",
    "with_run_metrics",
    "write_epoch",
    "write_fold_marker",
]

#: session conf key selecting how :func:`checkpoint_frame` materializes
#: (``"local"`` or ``"reliable"``) — a deployment setting, not a per-call one
MATERIALIZE_CONF = "spark.real_estate_bigdata.materialize"


def checkpoint_frame(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and truncate its lineage — the one place the
    engine checkpoints: shared intermediates read by several consumers,
    per-round state of the iterative loops (connected components,
    pagerank, Dawid-Skene, Bradley-Terry, BPE), and the streaming
    ingest micro-batches. ``eager`` mirrors Spark's own argument.

    The mode comes from the session conf
    ``spark.real_estate_bigdata.materialize`` (default ``"local"``).
    Whether a checkpoint must survive executor loss depends on the
    executors, not on the call, so it is a deployment setting:

    - ``"local"`` — ``localCheckpoint``: blocks live on executor-local
      storage, reclaimed by the ContextCleaner with the frame. Fastest,
      but NOT fault-tolerant: losing an executor mid-query fails the
      job instead of recomputing (lineage is truncated). The right
      default for on-demand/static executors and for local runs.
    - ``"reliable"`` — ``checkpoint``: blocks written to
      ``spark.sparkContext.setCheckpointDir(...)`` (typically HDFS/
      object storage); executor loss re-reads the checkpoint instead
      of failing. The posture for preemptible/spot executors or
      aggressive dynamic allocation — one durable write per
      checkpoint keeps multi-hour jobs restartable. Spark raises its
      own clear error if no checkpoint dir is set. The files of a
      dropped frame are deleted only because ``session.get_spark``
      pins ``spark.cleaner.referenceTracking.cleanCheckpoints=true``;
      without it every per-round and per-micro-batch checkpoint would
      stay on disk for the life of the checkpoint dir.

    ``persist(StorageLevel.DISK_ONLY)`` is deliberately NOT offered:
    a persisted relation sits in the session's cache manager until an
    explicit unpersist, which an operator cannot safely issue before
    its caller materializes the result — long sessions would
    accumulate cached relations indefinitely (the image_neardup_pairs
    docstring documents the same rejection).
    """
    mode = df.sparkSession.conf.get(MATERIALIZE_CONF, "local")
    if mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode == "reliable":
        return df.checkpoint(eager=eager)
    raise ValueError(
        f"unknown materialize mode {mode!r} — use 'local' or 'reliable'"
    )


def bounded_collect(df: DataFrame, k: int) -> list[Row] | None:
    """All rows of ``df`` when it has at most ``k`` of them, else None —
    the probe behind every driver-side fast path (connected components,
    pagerank, Dawid-Skene, Bradley-Terry, BPE, label_agreement). One
    ``LIMIT k+1`` collect: when it returns at most ``k`` rows those rows
    ARE the frame, so no separate count job runs; when it returns
    ``k+1`` the frame is over the bound and the rows are dropped.

    Driver bound: the session pins ``spark.sql.limit.initialNumPartitions``
    to its parallelism P (``session.get_spark``), so the first take
    round runs P tasks and each may return up to ``k+1`` rows — the
    driver can receive up to P·(k+1) rows before the limit applies,
    not ``k+1``. At Spark's default of 1 the first round is one task.
    """
    rows = df.limit(k + 1).collect()
    return rows if len(rows) <= k else None


def concurrently(*fns):
    """Run independent DataFrame builds in parallel driver threads and
    return their results in order (guide §2.6): an operator call that
    eagerly checkpoints blocks its thread in a Spark job, so two
    independent builds issued sequentially serialize their
    materialization jobs even when cores are idle. The threads only
    overlap Spark jobs (the GIL releases on the py4j socket).

    Each function runs under ``pyspark.inheritable_thread_target``, so
    the jobs it starts carry the caller's local properties (job group,
    description, scheduler pool) and tags: ``cancelJobGroup`` reaches
    them, and they land in the caller's pool."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target
    from pyspark.sql import SparkSession

    spark = SparkSession.active()
    # one wrapper per function: each clones the caller's properties, so
    # a thread that changes its own never leaks into its sibling
    targets = [inheritable_thread_target(spark)(f) for f in fns]
    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        futures = [pool.submit(t) for t in targets]
        return [f.result() for f in futures]


def local_frame(spark, rows, schema) -> DataFrame:
    """Driver-computed result rows -> DataFrame via the pandas/Arrow
    fast path instead of ``createDataFrame(list)``'s pickled-RDD path.

    ``createDataFrame`` over a plain Python list parallelizes PICKLED
    rows: every downstream scan of the frame then launches a Python
    worker per task just to unpickle them — measured as whole 32-task
    stages of executor runtime with ~zero JVM CPU on the fast-path
    operator outputs (union-find labels, numpy PageRank ranks), paid
    again on EVERY re-scan. Routing through pandas + Arrow ships the
    rows to the JVM once as Arrow batches at creation; scans are then
    JVM-native. Values are bit-identical (Arrow casts exact ints/
    floats/strings; None stays NULL). Falls back to the plain path if
    the pandas/Arrow conversion rejects the data (exotic types), so
    callers can use it unconditionally.
    """
    try:
        import pandas as pd

        if isinstance(schema, str):
            from pyspark.sql.types import _parse_datatype_string

            st = _parse_datatype_string(schema)
        else:
            st = schema
        names = [f.name for f in st.fields]
        data = {}
        for i, n in enumerate(names):
            col = pd.Series([r[i] for r in rows], dtype=object)
            data[n] = col
        pdf = pd.DataFrame(data, columns=names)
        return spark.createDataFrame(pdf, schema=st)
    except Exception:
        return spark.createDataFrame(rows, schema)


def is_missing_path_error(exc) -> bool:
    """True iff ``exc`` is Spark's missing-input-path error. Checks the
    STABLE error-class API first (``getCondition`` in PySpark 4,
    ``getErrorClass`` before it) so a Spark release rewording the
    message can't wedge a caller probing an optional path; the message
    substrings remain only as a last-resort fallback. Shared by the
    streaming store readers and the persisted-ANN-artifact readers."""
    for attr in ("getCondition", "getErrorClass"):
        fn = getattr(exc, attr, None)
        if fn is None:
            continue
        try:
            cls = fn()
        except Exception:
            continue
        if cls is not None:
            return cls == "PATH_NOT_FOUND"
    return "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc)


def write_epoch(df: DataFrame, path: str, batch_id: int, *sub_partitions: str) -> None:
    """Write ``df`` as epoch ``batch_id`` of the store at ``path`` — the
    one write of every crash-safe epoch store (streaming dedup lakes and
    stores, drift/eval reports, sketch stores, ANN and BM25 epoch tiers).

    Rows are tagged ``ingest_batch = batch_id`` and written with DYNAMIC
    partition overwrite under ``partitionBy("ingest_batch",
    *sub_partitions)``: only this epoch's partitions are replaced, so a
    replayed micro-batch (same epoch id after a crash) overwrites exactly
    its own half-written output and every other epoch stays untouched.
    Readers make the replay safe by reading only ``ingest_batch <
    batch_id`` (see ``streaming.ingest._read_prior_store``)."""
    from pyspark.sql import functions as F

    (
        df.withColumn("ingest_batch", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch", *sub_partitions)
        .parquet(path)
    )


def ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's default parallelism IF the input
    has fewer partitions — otherwise return the input untouched.

    Expensive map stages (shingle builds, per-row scoring) run at the
    SCAN's partition count until the first exchange; a small or
    single-file input pins them to 1-3 cores (measured ~2x on the text
    operators at sf0.1). On a real many-file 100 TB input the partition
    count already exceeds parallelism and this is a no-op — the check
    makes the repartition safe to bake into operators without taxing
    the large-scale path with a gratuitous full shuffle.

    The partition estimate comes from the file listing — driver-side
    metadata already cached by the file index — NOT ``df.rdd`` (which
    forces analysis + RDD conversion on every operator construction).
    Files >= parallelism means the scan is already parallel (each file
    is at least one partition) — no-op with zero further work. With
    FEWER files the scan may still be wide (few huge files split at
    ``spark.sql.files.maxPartitionBytes``), so the few files are
    stat'ed (cheap: count < parallelism by construction) and the
    split-based partition estimate decides — a 4-file 40 GB table is
    ~320 scan partitions and must NOT be repartitioned down to 32.
    Non-file sources (memory relations) estimate as 1 and rebalance,
    which is exactly the local/test case that needs it.
    """
    spark = df.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:  # non-file plans (streaming, pure-local) — assume narrow
        files = []
    if len(files) >= parallelism:
        return df
    if files:
        try:
            jvm = spark.sparkContext._jvm
            jsc = spark.sparkContext._jsc
            max_bytes = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
            )
            est_splits = 0
            for f in files:
                hpath = jvm.org.apache.hadoop.fs.Path(f)
                fs = hpath.getFileSystem(jsc.hadoopConfiguration())
                size = fs.getFileStatus(hpath).getLen()
                est_splits += max(1, -(-size // max(max_bytes, 1)))
            if est_splits >= parallelism:
                return df
        except Exception:  # FS probe failed — fall through to rebalance
            pass
    return df.repartition(parallelism)


def with_run_metrics(df, name: str = "run_metrics", count_col: str | None = None):
    """Attach an Observation collecting row count (and an optional
    non-null count) as the query runs — the engine's replacement for the
    reference's driver-side telemetry counters (`len(data_list)`,
    `success_count`; SURVEY A5), which each cost a separate action.
    Observation metrics ride along with whatever action executes the
    DataFrame: zero extra jobs, zero extra scans.

    Returns (df, observation); read ``observation.get`` AFTER an action.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    metrics = [F.count(F.lit(1)).alias("n_rows")]
    if count_col is not None:
        metrics.append(F.count(count_col).alias(f"n_{count_col}_nonnull"))
    obs = Observation(name)
    return df.observe(obs, *metrics), obs


def finish_pending_dir_swap(spark, live: str) -> None:
    """Crash recovery for the write-new/rename swap protocol shared by
    the persisted-artifact compactions (ANN lists/codes, BM25 tables):
    if a prior run wrote ``_<name>_new`` and renamed the live directory
    away but died before renaming ``_new`` in, finish that rename
    before anything else reads the artifact."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    import os.path

    parent, name = os.path.dirname(live.rstrip("/")), os.path.basename(
        live.rstrip("/")
    )
    new_p = jvm.org.apache.hadoop.fs.Path(f"{parent}/_{name}_new")
    live_p = jvm.org.apache.hadoop.fs.Path(live)
    fs = live_p.getFileSystem(conf)
    if fs.exists(new_p) and not fs.exists(live_p):
        if not fs.rename(new_p, live_p):
            raise IOError(
                f"swap recovery: rename({new_p}, {live_p}) returned false; "
                f"the pending replacement table is left intact at {new_p}"
            )


def swap_in_rewrite(spark, live: str) -> str:
    """Second half of the swap protocol: the caller has just written the
    replacement table to ``_<name>_new`` (the path this function
    returns for symmetry); rename live aside, rename new in, drop the
    old. Crash windows re-run to completion via
    :func:`finish_pending_dir_swap`."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    import os.path

    parent, name = os.path.dirname(live.rstrip("/")), os.path.basename(
        live.rstrip("/")
    )
    live_p = jvm.org.apache.hadoop.fs.Path(live)
    new_p = jvm.org.apache.hadoop.fs.Path(f"{parent}/_{name}_new")
    old_p = jvm.org.apache.hadoop.fs.Path(f"{parent}/_{name}_old")
    fs = live_p.getFileSystem(conf)
    if fs.exists(old_p):
        fs.delete(old_p, True)
    # Hadoop FileSystem.rename reports many failures (missing source,
    # existing destination, permission) as a FALSE return, not an
    # exception. Check both: a silent rename(new->live) failure after
    # rename(live->old) succeeded would otherwise be followed by the
    # unconditional delete(old) — destroying the only remaining copy.
    if not fs.rename(live_p, old_p):
        raise IOError(
            f"swap: rename({live_p}, {old_p}) returned false; live table untouched"
        )
    if not fs.rename(new_p, live_p):
        raise IOError(
            f"swap: rename({new_p}, {live_p}) returned false; prior live table "
            f"preserved at {old_p} — restore it by renaming back before retrying"
        )
    fs.delete(old_p, True)
    return f"{parent}/_{name}_new"


def delete_dir(spark, path: str) -> None:
    """Recursive Hadoop-FS delete (no-op when absent) — artifact
    maintenance helper."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    p.getFileSystem(conf).delete(p, True)


def write_fold_marker(
    spark, table_dir: str, value: int, name: str = "_folded_through"
) -> None:
    """Record, INSIDE a table directory (underscore-prefixed, so parquet
    readers ignore it), a high-water fencepost — by default the highest
    epoch id already folded into that table, which makes epoch-fold
    compactions re-runnable: a crash between a table's swap and the
    epoch-directory delete must not re-add (double-count) partials the
    table already contains. Written into the ``_new`` table BEFORE its
    swap, so the marker travels with the data it describes. ``name``
    selects the fencepost: the BM25 retraction ledger uses a second
    ``_retracted_through`` marker for its (non-idempotent) stats/df
    decrements."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(f"{table_dir.rstrip('/')}/{name}")
    out = p.getFileSystem(conf).create(p, True)
    out.write(bytearray(str(int(value)).encode("utf-8")))
    out.close()


def read_fold_marker(
    spark, table_dir: str, name: str = "_folded_through"
) -> int:
    """The table's fencepost; -1 when never written (fresh build)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(f"{table_dir.rstrip('/')}/{name}")
    fs = p.getFileSystem(conf)
    if not fs.exists(p):
        return -1
    stream = fs.open(p)
    try:
        txt = jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    return int(txt.strip() or -1)
