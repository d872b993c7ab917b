"""The two util helpers every fast path and checkpoint goes through:
``bounded_collect`` at its bound, and ``checkpoint_frame``'s reliable
mode reaching the routed sites.

Under ``spark.real_estate_bigdata.materialize=reliable`` the distributed
paths of connected components, pagerank and BPE, and in-place lake
compaction, must write their checkpoints to the checkpoint dir — no
``localCheckpoint`` at all — and return the rows of the default local
mode."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from real_estate_bigdata_spark.operators import bpe
from real_estate_bigdata_spark.operators import clustering as cl
from real_estate_bigdata_spark.sources import lake
from real_estate_bigdata_spark.util import MATERIALIZE_CONF, bounded_collect


@pytest.mark.parametrize("k", [0, 1, 5])
def test_bounded_collect_at_the_bound(spark, k):
    """Exactly k rows come back; k+1 rows are over the bound; an empty
    frame is an empty list, not None."""
    assert sorted(r.id for r in bounded_collect(spark.range(k), k)) == list(range(k))
    assert bounded_collect(spark.range(k + 1), k) is None
    assert bounded_collect(spark.range(0), k) == []


def _reliable_run(spark, ckpt_dir, run):
    """``run()`` under the reliable conf: its result, and the frames its
    checkpoints returned (held so the cleaner keeps their files until
    the caller has looked)."""
    cls = type(spark.range(1))
    real = cls.checkpoint
    kept = []

    def recording(self, eager=True):
        out = real(self, eager=eager)
        kept.append(out)
        return out

    def refused(self, eager=True):
        raise AssertionError("localCheckpoint under materialize=reliable")

    spark.sparkContext.setCheckpointDir(str(ckpt_dir))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cls, "checkpoint", recording)
        mp.setattr(cls, "localCheckpoint", refused)
        spark.conf.set(MATERIALIZE_CONF, "reliable")
        try:
            return run(), kept
        finally:
            spark.conf.unset(MATERIALIZE_CONF)


def _checkpoint_files(ckpt_dir) -> list:
    return [p for p in ckpt_dir.rglob("part-*") if p.is_file()]


def _assert_reliable_matches_local(spark, tmp_path, run):
    local = run()
    durable, kept = _reliable_run(spark, tmp_path / "ckpt", run)
    assert kept, "no reliable checkpoint taken"
    assert _checkpoint_files(tmp_path / "ckpt"), "no checkpoint files written"
    assert durable == local


def test_connected_components_rounds_go_reliable(spark, tmp_path):
    """hash-min rounds, then (max_iter=1 on a chain) the star fallback."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)] + [(20, 21)], "id_a long, id_b long"
    )

    def run():
        return sorted(
            map(
                tuple,
                cl.connected_components(
                    chain, max_iter=1, small_graph_threshold=0
                ).collect(),
            )
        )

    _assert_reliable_matches_local(spark, tmp_path, run)


def test_pagerank_rounds_go_reliable(spark, tmp_path):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1), (5, 4)], "src long, dst long"
    )

    def run():
        return sorted(
            map(
                tuple,
                cl.pagerank(
                    edges, max_iter=3, tol=None, small_edges_threshold=0
                ).collect(),
            )
        )

    _assert_reliable_matches_local(spark, tmp_path, run)


def test_bpe_distributed_loop_goes_reliable(spark, tmp_path):
    docs = spark.createDataFrame(
        [(0, "low lower lowest"), (1, "newer newest wider"), (2, "low new wide")],
        "doc_id long, text string",
    )

    def run():
        return bpe.train_bpe_batched(
            docs, n_merges=6, checkpoint_every=1, small_vocab_threshold=0
        )

    _assert_reliable_matches_local(spark, tmp_path, run)


def test_in_place_compaction_goes_reliable(spark, tmp_path):
    tables = itertools.count()

    def run():
        dest = str(tmp_path / f"lake{next(tables)}")
        spark.range(200).select(
            F.col("id"),
            F.lit("2025-04-24").cast("date").alias("ingest_date"),
            F.lit("alonhadat").alias("source"),
        ).repartition(8).write.partitionBy("ingest_date", "source").parquet(dest)
        lake.compact_partitions(spark, dest, target_rows_per_file=1000)
        return sorted(map(tuple, spark.read.parquet(dest).collect()))

    _assert_reliable_matches_local(spark, tmp_path, run)
