"""SparkSession factory tuned for the engine.

The reference creates bare sessions (`spark_jobs/count_by_district.py:7-9`)
and relies on defaults. We pin the settings that matter at scale:

- AQE on (runtime partition coalescing, skew-join splitting) — at 100 TB
  the static shuffle-partition count is always wrong for some stage.
- Arrow on — every Pandas UDF / toPandas crossing is batched, not per-row.
- ``spark.sql.shuffle.partitions`` sized from the env (tests/local runs
  use the core count; a real cluster overrides to ~2-3x total cores).
- Parquet pushdown knobs left at defaults (on) — predicate pushdown and
  column pruning are load-bearing for the scan-heavy queries.
- The Python worker daemon is ``worker_daemon`` — PySpark's daemon
  without the per-task re-read of ``pyspark.zip``'s directory, which
  cost every Python task 0.15-0.2 s on CPython < 3.13 (every
  ``mapInPandas`` kernel and Python UDF task paid it).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "real_estate_bigdata_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    On a real cluster, ``master`` comes from spark-submit and the shuffle
    partition count should be overridden; locally we default to
    ``local[$SPARK_GRAFT_CPUS]``.

    Session-conf contract (matters when EMBEDDING this package in an
    application that shares the session): this factory pins
    ``spark.sql.session.timeZone=UTC`` and the legacy parquet
    ``nanosAsLong`` conf at build time, and ``schema.load_table``
    RE-PINS both, permanently, on whatever session it is handed — the
    returned DataFrames are lazy and read the timezone at execution
    time, so restoring the conf after the call would corrupt their
    timestamp casts later (full rationale in ``schema.load_table``).
    A mixed-timezone application should therefore either run this
    package in its own session, or set its own timezone per-query via
    ``spark.conf.set`` AFTER materializing this package's results —
    there is deliberately no opt-out, because a non-UTC session would
    silently shift every timestamp the engine reads.

    Python-worker contract: the factory pins
    ``spark.python.daemon.module=real_estate_bigdata_spark.worker_daemon``.
    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task, and on CPython < 3.13 each ``zipimporter`` into ``pyspark.zip``
    then re-reads the archive's central directory (about 26,700 entries
    a task). The engine's daemon re-reads an archive only when it changed
    on disk (module docstring of ``worker_daemon``). Deployment
    requirement: executors must be able to import this package when the
    daemon starts (installed, on ``PYTHONPATH``, or in the working
    directory). The kernels already require it, because their closures
    pickle package functions by reference. A session built elsewhere
    (``getOrCreate`` over an existing SparkContext) keeps its own daemon.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # LIMIT-k+1 probe collects (util.bounded_collect, behind the
        # driver fast paths) execute as incremental take(): the first
        # round scans ONE partition, so a probe over a computed pipeline
        # serializes the whole projection on a single core before the
        # 4x scale-up rounds kick in (SPARK-40211's knob; measured the
        # q_domain_authority_cap edge probe at 0.57 s single-task vs
        # ~0.1 s wide). Start take() at the session's parallelism P.
        # The price is the driver bound: the first round runs P tasks
        # and each returns up to k+1 rows, so a probe can haul up to
        # P·(k+1) rows, not k+1 (local[4], 8 partitions, k=20,000:
        # 1.48 MB from 8 tasks, against 0.19 MB from 1 task at the
        # default of 1). The setting also reaches every other .limit().
        .config(
            "spark.sql.limit.initialNumPartitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # reliable checkpoints (util.checkpoint_frame) are files in the
        # checkpoint dir; without this they outlive their frames forever
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # PySpark's daemon minus the per-task zip directory re-read
        # (worker_daemon's docstring); the package must import on executors
        .config(
            "spark.python.daemon.module", "real_estate_bigdata_spark.worker_daemon"
        )
        # Some testdata generations encode events.ts as parquet
        # TIMESTAMP(NANOS), which the vectorized reader rejects; with this
        # conf the column surfaces as raw int64 nanos and schema.load_table
        # truncates to micros (exactly DuckDB's behavior). load_table also
        # re-pins this defensively for sessions built elsewhere. Harmless
        # for MICROS-encoded data (conf only affects NANOS columns).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The normalization layer targets permissive casts (try_cast /
        # try_to_date); ANSI off keeps plain casts null-on-error too, which
        # matches the reference's swallow-malformed-rows semantics
        # (mapper.py:29-40) and DuckDB's TRY_CAST oracle behavior.
        .config("spark.sql.ansi.enabled", "false")
        # InferFiltersFromGenerate rewrites `Project[expr AS a] -> explode(a)`
        # into a pre-Generate Filter whose predicate inlines `expr` — and
        # every array subscript inside the filter then re-evaluates the full
        # nested higher-order expression, turning O(len) shingle builds into
        # O(len^2) per row (measured 25x slowdown on the dedup operators).
        # The rule only helps when exploding STORED arrays with many
        # empties; this engine explodes computed arrays, so exclude it.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
