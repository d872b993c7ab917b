"""Continuous classifier-quality monitoring: per-micro-batch evaluation
statistics of a scored stream against its gold labels — the streaming
promotion of ``operators.evaluation`` (the quality-signal twin of
``streaming.drift_monitor``'s distribution guardrail).

A curation classifier (linear probe, Gopher/C4 battery, bigram LM) that
regresses silently keeps dropping — or keeping — the wrong documents
until someone audits the lake. The monitor scores every labeled
micro-batch as it arrives (a human-review trickle, a golden canary set
riding the stream, an A/B holdout) and writes one report row per batch:
confusion counts + accuracy/precision/recall/F1 at the serving
threshold, plus the exact tie-corrected AUC. A regression shows up in
the NEXT report, not the next audit.

Design for 100 TB:

- Each micro-batch costs exactly what the batch operators cost on the
  BATCH: one map-side-combined confusion aggregate + one
  distinct-score-histogram AUC pass. Nothing rescans history and no
  state accumulates in the stream (the report directory IS the
  history, rows-per-batch sized).
- Reports are parquet partitions keyed by the foreachBatch epoch id,
  written with dynamic partition overwrite — a replayed epoch
  recomputes the identical report and overwrites exactly its own
  partition (the same exactly-once recipe as ``drift_monitor`` and the
  ingest store writes).
- An EMPTY batch still writes a report row (``n = 0``, metrics NULL):
  a labeled feed going silent is an alert condition, not a non-event —
  and a batch where one class is absent reports a NULL AUC rather than
  a plausible number (``evaluation.auc_score``'s contract).

Alerting is a downstream read, never stream state:
``eval_alerts(read_eval_reports(...))``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from real_estate_bigdata_spark.operators.evaluation import (
    auc_score,
    confusion_at_threshold,
)
from real_estate_bigdata_spark.streaming.ingest import file_stream_ingest, start_sink
from real_estate_bigdata_spark.util import write_epoch

__all__ = [
    "batch_eval_report",
    "run_eval_monitor",
    "read_eval_reports",
    "eval_alerts",
]


def batch_eval_report(
    batch_df: DataFrame,
    score_col: str,
    label_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """ONE report row for one labeled batch: ``(n, tp, fp, tn, fn,
    accuracy, precision, recall, f1, auc, n_pos, n_neg)``.

    The confusion aggregate and the AUC histogram pass each read the
    batch once; their single-row results cross-join for free. ``n``
    counts the measured (non-null score AND label) rows — 0 with NULL
    metrics for an empty or fully-unlabeled batch.
    """
    cm = confusion_at_threshold(batch_df, score_col, label_col, threshold)
    auc = auc_score(batch_df, score_col, label_col)
    return cm.crossJoin(auc).select(
        (
            F.coalesce(F.col("n_pos"), F.lit(0))
            + F.coalesce(F.col("n_neg"), F.lit(0))
        ).alias("n"),
        "tp",
        "fp",
        "tn",
        "fn",
        "accuracy",
        "precision",
        "recall",
        "f1",
        "auc",
        F.coalesce(F.col("n_pos"), F.lit(0)).alias("n_pos"),
        F.coalesce(F.col("n_neg"), F.lit(0)).alias("n_neg"),
    )


def run_eval_monitor(
    spark: SparkSession,
    src_dir: str,
    report_dir: str,
    checkpoint_dir: str,
    score_col: str,
    label_col: str,
    schema: StructType,
    threshold: float = 0.5,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    processing_time: str = "60 seconds",
) -> StreamingQuery:
    """Launch the monitor over a JSONL drop directory of scored, labeled
    records: each micro-batch writes its report row at ``report_dir``
    partitioned by ``ingest_batch``.

    ``score_col``/``label_col`` are column NAMES (the closure rebinds
    against each batch DataFrame). ``threshold`` must be the SERVING
    threshold — a monitor watching a different operating point than
    production would certify the wrong classifier. Batch granularity is
    verdict granularity: one report per micro-batch, so size triggers
    (``max_files_per_trigger``) to the cadence decisions need.
    """

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        report = batch_eval_report(batch_df, score_col, label_col, threshold)
        write_epoch(report, report_dir, batch_id)

    raw = file_stream_ingest(
        spark, src_dir, schema=schema,
        max_files_per_trigger=max_files_per_trigger,
    )
    writer = raw.writeStream.foreachBatch(_process)
    return start_sink(writer, checkpoint_dir, available_now, processing_time)


def read_eval_reports(spark: SparkSession, report_dir: str) -> DataFrame:
    """All per-batch evaluation reports (partition column
    ``ingest_batch`` included) — the frame dashboards and alert jobs
    query."""
    return spark.read.parquet(report_dir)


def eval_alerts(
    report: DataFrame,
    min_auc: float | None = 0.6,
    min_accuracy: float | None = None,
    min_n: int = 1,
) -> DataFrame:
    """Batches whose quality signal is BROKEN or UNMEASURABLE ->
    ``(ingest_batch, n, accuracy, auc, reason)``, worst-first.

    A batch alerts when a requested floor is violated OR when the
    metric cannot be measured at all (``n < min_n``, or a NULL AUC from
    a single-class batch with ``min_auc`` set): an unmeasurable monitor
    is itself an incident — silently skipping it would certify a blind
    spot. Runs on report rows (one per batch), never batch data.
    """
    checks = [
        F.when(F.col("n") < min_n, F.lit("too_few_labeled_rows")),
    ]
    if min_auc is not None:
        checks.append(
            F.when(
                (F.col("n") >= min_n) & F.col("auc").isNull(),
                F.lit("auc_unmeasurable_single_class"),
            )
        )
        checks.append(
            F.when(F.col("auc") < min_auc, F.lit("auc_below_floor"))
        )
    if min_accuracy is not None:
        checks.append(
            F.when(
                F.col("accuracy") < min_accuracy,
                F.lit("accuracy_below_floor"),
            )
        )
    reason = F.array_compact(F.array(*checks))
    return (
        report.withColumn("reason", reason)
        .filter(F.size("reason") > 0)
        .select(
            "ingest_batch",
            "n",
            "accuracy",
            "auc",
            F.array_join("reason", ",").alias("reason"),
        )
        .orderBy(F.asc_nulls_first("auc"), "ingest_batch")
    )
