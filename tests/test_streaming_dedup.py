"""Streaming ingest with persistent-store dedup (SURVEY §1.2's broken
link-key re-crawl intent, end-to-end): every micro-batch drops documents
whose content fingerprint exists in the store built by prior batches,
across restarts; NULL-text docs always pass and never poison the store.
"""

from __future__ import annotations

import json
import shutil

from pyspark.sql import functions as F

from real_estate_bigdata_spark.streaming import ingest


def _write_jsonl(path, rows):
    with open(path, "w", encoding="utf-8") as f:
        for doc_id, text in rows:
            f.write(
                json.dumps(
                    {
                        "doc_id": doc_id,
                        "text": text,
                        "lang": "en",
                        "source": "s1",
                        "n_chars": len(text) if text else 0,
                    }
                )
                + "\n"
            )


def _run(spark, src, dest, store, ckpt):
    q = ingest.run_deduped_doc_ingest(
        spark, str(src), str(dest), str(store), str(ckpt)
    )
    q.awaitTermination(120)


def _lose_commit_and_lake_epoch(ckpt, dest, epoch=0):
    """Double crash after epoch ``epoch`` wrote its store partition: its
    lake partition is gone and its checkpoint commit never landed, so a
    restart on the same checkpoint re-runs the batch under the SAME id."""
    (ckpt / "commits" / str(epoch)).unlink()
    (ckpt / "commits" / f".{epoch}.crc").unlink()
    shutil.rmtree(dest / f"ingest_batch={epoch}")


def _lake_rows(spark, dest):
    """(doc_id, ingest_batch) of the lake, sorted; an empty lake reads as
    no rows instead of failing schema inference."""
    lake = spark.read.schema("doc_id bigint, ingest_batch int").parquet(str(dest))
    return sorted((r.doc_id, r.ingest_batch) for r in lake.collect())


class TestDedupedDocIngest:
    def test_cross_batch_dedup_across_restart(self, spark, tmp_path):
        src = tmp_path / "drop"
        src.mkdir()
        dest, store, ckpt = tmp_path / "lake", tmp_path / "store", tmp_path / "ckpt"

        # batch 1: doc 3 is a whitespace-variant duplicate of doc 1
        # (same normalized fingerprint); doc 4 has NULL text.
        _write_jsonl(
            src / "b1.jsonl",
            [(1, "aaa bbb"), (2, "ccc ddd"), (3, "aaa   bbb"), (4, None)],
        )
        _run(spark, src, dest, store, ckpt)
        out1 = spark.read.parquet(str(dest))
        assert sorted(r.doc_id for r in out1.collect()) == [1, 2, 4]

        # restart with new files: doc 5 replays doc 2's content
        # (cross-batch duplicate), 6 is novel, 7 is NULL again — NULL
        # must never dedup against the earlier NULL doc.
        _write_jsonl(
            src / "b2.jsonl", [(5, "ccc  ddd"), (6, "eee fff"), (7, None)]
        )
        _run(spark, src, dest, store, ckpt)
        out2 = spark.read.parquet(str(dest))
        assert sorted(r.doc_id for r in out2.collect()) == [1, 2, 4, 6, 7]

        # store holds exactly the three distinct non-NULL fingerprints,
        # each in the epoch partition that first saw it
        st = spark.read.parquet(str(store))
        assert st.select("fingerprint").distinct().count() == 3
        assert st.count() == 3
        assert st.filter(F.col("fingerprint").isNull()).count() == 0

        # restart with nothing new: a drained re-run must change nothing
        _run(spark, src, dest, store, ckpt)
        assert sorted(
            r.doc_id for r in spark.read.parquet(str(dest)).collect()
        ) == [1, 2, 4, 6, 7]
        assert spark.read.parquet(str(store)).count() == 3

    def test_replayed_epoch_is_idempotent(self, spark, tmp_path):
        """Simulate a crash AFTER the epoch's writes but BEFORE the
        checkpoint commit: wiping the checkpoint forces the same input
        to re-run as a fresh epoch against a store that already holds
        its fingerprints from the first attempt. The epoch-partition
        filter (ingest_batch < current) cannot apply here (the replay
        gets a new epoch id), so this instead pins the OUTER guarantee:
        re-ingesting already-stored content never duplicates the lake.
        """
        src = tmp_path / "drop"
        src.mkdir()
        dest, store = tmp_path / "lake", tmp_path / "store"
        _write_jsonl(src / "b1.jsonl", [(1, "aaa bbb"), (2, "ccc ddd")])
        _run(spark, src, dest, store, tmp_path / "ckpt1")
        # second run, fresh checkpoint: same file re-processed
        _run(spark, src, dest, store, tmp_path / "ckpt2")
        out = spark.read.parquet(str(dest))
        # the replayed epoch re-resolved to the SAME epoch partition and
        # overwrote it in place — no duplicate rows in the lake
        assert out.select("doc_id").distinct().count() == 2
        assert out.count() == 2
        assert spark.read.parquet(str(store)).count() == 2


    def test_same_epoch_replay_ignores_its_own_store_rows(self, spark, tmp_path):
        """The replayed batch keeps its id, and the store already holds
        that epoch's fingerprints from the first attempt. Only the
        prior-epoch read (``ingest_batch < batch_id``) keeps the batch
        from deduplicating against itself and losing every row."""
        src = tmp_path / "drop"
        src.mkdir()
        dest, store, ckpt = tmp_path / "lake", tmp_path / "store", tmp_path / "ckpt"
        _write_jsonl(src / "b1.jsonl", [(1, "aaa bbb"), (2, "ccc ddd")])
        _run(spark, src, dest, store, ckpt)
        assert _lake_rows(spark, dest) == [(1, 0), (2, 0)]

        _lose_commit_and_lake_epoch(ckpt, dest)
        _run(spark, src, dest, store, ckpt)
        assert _lake_rows(spark, dest) == [(1, 0), (2, 0)]
        assert spark.read.parquet(str(store)).count() == 2

    def test_continuous_trigger(self, spark, tmp_path):
        """``available_now=False`` starts the query on a processing-time
        trigger; it keeps running until stopped."""
        src = tmp_path / "drop"
        src.mkdir()
        dest, store, ckpt = tmp_path / "lake", tmp_path / "store", tmp_path / "ckpt"
        _write_jsonl(
            src / "b1.jsonl", [(1, "aaa bbb"), (2, "ccc ddd"), (3, "aaa   bbb")]
        )
        q = ingest.run_deduped_doc_ingest(
            spark,
            str(src),
            str(dest),
            str(store),
            str(ckpt),
            available_now=False,
            processing_time="0 seconds",
        )
        try:
            q.processAllAvailable()
            assert q.isActive
        finally:
            q.stop()
        assert [r[0] for r in _lake_rows(spark, dest)] == [1, 2]


class TestFingerprintStoreCompaction:
    def test_folds_epochs_and_ingest_continues(self, spark, tmp_path):
        src = tmp_path / "drop"
        src.mkdir()
        dest, store, ckpt = tmp_path / "lake", tmp_path / "store", tmp_path / "ckpt"
        table = "fp_compact_continue"

        _write_jsonl(src / "b1.jsonl", [(1, "aaa bbb"), (2, "ccc ddd")])
        _run(spark, src, dest, store, ckpt)
        _write_jsonl(src / "b2.jsonl", [(5, "ccc  ddd"), (6, "eee fff")])
        _run(spark, src, dest, store, ckpt)

        # two epochs on disk; default contract folds all but the newest
        # (only the newest could replay after a crash)
        folded = ingest.compact_fingerprint_store(spark, str(store), table=table)
        assert folded == 1
        remaining = spark.read.parquet(str(store))
        assert remaining.select("ingest_batch").distinct().count() == 1
        assert spark.table(table).count() == 2  # epoch-0 fingerprints

        # ingest continues: dups against BOTH store tiers must drop
        # (7 dups doc 1 - now only in the compacted table; 8 dups doc 6 -
        # still in the remaining epoch partition; 9 is novel)
        _write_jsonl(
            src / "b3.jsonl",
            [(7, "aaa   bbb"), (8, "eee  fff"), (9, "ggg hhh")],
        )
        q = ingest.run_deduped_doc_ingest(
            spark, str(src), str(dest), str(store), str(ckpt),
            compacted_table=table,
        )
        q.awaitTermination(120)
        got = sorted(r.doc_id for r in spark.read.parquet(str(dest)).collect())
        assert got == [1, 2, 6, 9]

        # second compaction folds the accumulated epochs into the table
        folded2 = ingest.compact_fingerprint_store(
            spark, str(store), table=table, up_to_batch=10**6
        )
        assert folded2 == 2  # epochs 1 and 2
        assert spark.table(table).count() == 4  # all distinct fingerprints

    def test_nothing_to_fold_is_a_noop(self, spark, tmp_path):
        assert (
            ingest.compact_fingerprint_store(
                spark, str(tmp_path / "absent"), table="fp_compact_noop"
            )
            == 0
        )
        # a single epoch: the newest is never folded by default
        src = tmp_path / "drop"
        src.mkdir()
        _write_jsonl(src / "b1.jsonl", [(1, "aaa bbb")])
        _run(spark, src, tmp_path / "lake", tmp_path / "store", tmp_path / "ckpt")
        assert (
            ingest.compact_fingerprint_store(
                spark, str(tmp_path / "store"), table="fp_compact_noop"
            )
            == 0
        )

    def test_post_compaction_antijoin_has_no_store_side_exchange(
        self, spark, tmp_path
    ):
        from real_estate_bigdata_spark.plans import plan_stats

        src = tmp_path / "drop"
        src.mkdir()
        dest, store, ckpt = tmp_path / "lake", tmp_path / "store", tmp_path / "ckpt"
        table = "fp_compact_plan"
        _write_jsonl(src / "b1.jsonl", [(1, "aaa bbb"), (2, "ccc ddd")])
        _run(spark, src, dest, store, ckpt)
        _write_jsonl(src / "b2.jsonl", [(6, "eee fff")])
        _run(spark, src, dest, store, ckpt)
        assert (
            ingest.compact_fingerprint_store(
                spark, str(store), table=table, up_to_batch=10**6
            )
            == 2
        )

        probe = spark.range(1000).select(F.col("id").alias("fingerprint"))
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            anti = probe.join(
                spark.table(table).select("fingerprint"), "fingerprint", "left_anti"
            )
            from real_estate_bigdata_spark.plans import executed_plan_str

            plan = executed_plan_str(anti)
            stats = plan_stats(anti)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        # bucketed store scan feeds the sort-merge anti join in place:
        # the ONLY exchange in the plan is the probe side's
        assert "SelectedBucketsCount" in plan, plan
        assert stats.shuffles == 1, f"{stats}\n{plan}"

    def test_compaction_rerun_after_partial_crash_is_idempotent(
        self, spark, tmp_path
    ):
        """Crash window: write_bucketed committed the new version but the
        epoch deletes never ran. A re-run with the same up_to must not
        read-and-overwrite the version against itself — it finishes the
        deletes and the store stays correct."""
        import shutil

        src = tmp_path / "drop"
        src.mkdir()
        dest, store, ckpt = tmp_path / "lake", tmp_path / "store", tmp_path / "ckpt"
        table = "fp_compact_crash"
        _write_jsonl(src / "b1.jsonl", [(1, "aaa bbb"), (2, "ccc ddd")])
        _run(spark, src, dest, store, ckpt)
        _write_jsonl(src / "b2.jsonl", [(6, "eee fff")])
        _run(spark, src, dest, store, ckpt)

        # first compaction succeeds fully
        assert ingest.compact_fingerprint_store(
            spark, str(store), table=table, up_to_batch=10**6
        ) == 2
        # simulate the crash: restore one folded epoch dir as if its
        # delete never happened (table already holds its fingerprints)
        restored = store / "ingest_batch=0"
        restored.mkdir(parents=True)
        (restored / "dummy").write_bytes(b"")
        shutil.rmtree(restored)
        # rebuild epoch 0 properly from a fresh ingest of same content
        # into a scratch store, then copy the partition dir over
        src2 = tmp_path / "drop2"
        src2.mkdir()
        _write_jsonl(src2 / "b1.jsonl", [(1, "aaa bbb"), (2, "ccc ddd")])
        _run(spark, src2, tmp_path / "lake2", tmp_path / "store2", tmp_path / "ckpt2")
        shutil.copytree(
            tmp_path / "store2" / "ingest_batch=0", store / "ingest_batch=0"
        )
        before = spark.table(table).count()
        # re-run with the SAME up_to: must fold the leftover epoch dir
        # away WITHOUT rewriting v{up_to} against itself
        assert ingest.compact_fingerprint_store(
            spark, str(store), table=table, up_to_batch=10**6
        ) == 1
        assert not (store / "ingest_batch=0").exists()
        assert spark.table(table).count() == before  # no loss, no dupes


BASE_TEXT = (
    "the quick brown fox jumps over the lazy dog near the old river "
    "bank while seven other foxes watch from the tall dry summer grass"
)
OTHER_TEXT = (
    "completely different text about spark catalyst plans and adaptive "
    "query execution rewriting joins at terabyte scale every single day"
)


def _run_near(spark, src, dest, store, ckpt):
    q = ingest.run_neardup_doc_ingest(
        spark, str(src), str(dest), str(store), str(ckpt)
    )
    q.awaitTermination(120)


class TestNeardupDocIngest:
    """Near-dup streaming ingest against the persistent signature store
    (fuzzy sibling of TestDedupedDocIngest — re-crawls that come back
    slightly edited must still dedup)."""

    def test_cross_batch_neardup_across_restart(self, spark, tmp_path):
        src = tmp_path / "drop"
        src.mkdir()
        dest, store, ckpt = tmp_path / "lake", tmp_path / "store", tmp_path / "ckpt"

        # batch 1: doc 3 is a one-word edit of doc 1; doc 4 NULL text
        _write_jsonl(
            src / "b1.jsonl",
            [
                (1, BASE_TEXT),
                (2, OTHER_TEXT),
                (3, BASE_TEXT.replace("summer", "winter")),
                (4, None),
            ],
        )
        _run_near(spark, src, dest, store, ckpt)
        out1 = spark.read.parquet(str(dest))
        assert sorted(r.doc_id for r in out1.collect()) == [1, 2, 4]

        # restart: doc 5 is ANOTHER one-word edit of stored doc 1 (not
        # byte-identical to anything ever written), 6 novel, 7 NULL
        _write_jsonl(
            src / "b2.jsonl",
            [
                (5, BASE_TEXT.replace("summer", "autumn")),
                (6, "a brand new document mentioning entirely fresh "
                    "topics like lakehouse table formats and manifests"),
                (7, None),
            ],
        )
        _run_near(spark, src, dest, store, ckpt)
        out2 = spark.read.parquet(str(dest))
        assert sorted(r.doc_id for r in out2.collect()) == [1, 2, 4, 6, 7]

        # signature store: one row per kept signature-bearing doc, in
        # the epoch partition that admitted it; NULL-text docs absent
        st = spark.read.parquet(str(store))
        assert sorted(r.doc_id for r in st.collect()) == [1, 2, 6]

        # drained re-run changes nothing
        _run_near(spark, src, dest, store, ckpt)
        assert sorted(
            r.doc_id for r in spark.read.parquet(str(dest)).collect()
        ) == [1, 2, 4, 6, 7]
        assert spark.read.parquet(str(store)).count() == 3

    def test_replayed_epoch_is_idempotent(self, spark, tmp_path):
        """Crash-after-write/before-commit: a fresh checkpoint replays
        the same input against a store already holding its signatures;
        the lake must not gain duplicate rows."""
        src = tmp_path / "drop"
        src.mkdir()
        dest, store = tmp_path / "lake", tmp_path / "store"
        _write_jsonl(src / "b1.jsonl", [(1, BASE_TEXT), (2, OTHER_TEXT)])
        _run_near(spark, src, dest, store, tmp_path / "ckpt1")
        _run_near(spark, src, dest, store, tmp_path / "ckpt2")
        out = spark.read.parquet(str(dest))
        assert out.select("doc_id").distinct().count() == 2
        assert out.count() == 2
        assert spark.read.parquet(str(store)).count() == 2


    def test_same_epoch_replay_ignores_its_own_store_rows(self, spark, tmp_path):
        """Near-dup twin of the exact ingest's same-epoch replay: the
        replayed batch must not near-dup-match its own signatures."""
        src = tmp_path / "drop"
        src.mkdir()
        dest, store, ckpt = tmp_path / "lake", tmp_path / "store", tmp_path / "ckpt"
        _write_jsonl(src / "b1.jsonl", [(1, BASE_TEXT), (2, OTHER_TEXT)])
        _run_near(spark, src, dest, store, ckpt)
        assert _lake_rows(spark, dest) == [(1, 0), (2, 0)]

        _lose_commit_and_lake_epoch(ckpt, dest)
        _run_near(spark, src, dest, store, ckpt)
        assert _lake_rows(spark, dest) == [(1, 0), (2, 0)]
        assert sorted(r.doc_id for r in spark.read.parquet(str(store)).collect()) == [
            1,
            2,
        ]


def test_neardup_ingest_string_ids(spark, tmp_path):
    """Review fix: the signature-store read schema follows the stream's
    id type — a hardcoded bigint wedged the stream permanently on
    string ids (schema mismatch != PATH_NOT_FOUND, so every retry
    failed)."""
    import json as _json

    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        [StructField("doc_id", StringType()), StructField("text", StringType())]
    )
    src = tmp_path / "drop"
    src.mkdir()
    dest, store, ckpt = tmp_path / "lake", tmp_path / "store", tmp_path / "ckpt"

    def w(name, rows):
        with open(src / name, "w", encoding="utf-8") as f:
            for i, t in rows:
                f.write(_json.dumps({"doc_id": i, "text": t}) + "\n")

    w("b1.jsonl", [("a", BASE_TEXT), ("b", OTHER_TEXT)])
    q = ingest.run_neardup_doc_ingest(
        spark, str(src), str(dest), str(store), str(ckpt), schema=schema,
    )
    q.awaitTermination(120)
    # second batch exercises the store READ with string ids — the
    # wedge was here, not in the first write
    w("b2.jsonl", [("c", BASE_TEXT.replace("summer", "spring")), ("d", "totally novel words about parquet readers")])
    q = ingest.run_neardup_doc_ingest(
        spark, str(src), str(dest), str(store), str(ckpt), schema=schema,
    )
    q.awaitTermination(120)
    assert sorted(r.doc_id for r in spark.read.parquet(str(dest)).collect()) == [
        "a", "b", "d",
    ]
    assert sorted(r.doc_id for r in spark.read.parquet(str(store)).collect()) == [
        "a", "b", "d",
    ]


class TestSignatureStoreCompaction:
    """compact_signature_store: epoch folding + continued near-dup
    ingest against both store tiers (compacted table + epoch dirs)."""

    def test_folds_epochs_and_neardup_ingest_continues(self, spark, tmp_path):
        src = tmp_path / "drop"
        src.mkdir()
        dest, store, ckpt = tmp_path / "lake", tmp_path / "store", tmp_path / "ckpt"
        table = "sig_compact_continue"

        third = (
            "a third completely separate document about bucketed join "
            "layouts and the exchanges they remove from batch plans "
            "when both sides of an equality join are clustered into "
            "the same number of sorted buckets on the very same key "
            "so that no repartitioning is ever required at read time"
        )
        _write_jsonl(src / "b1.jsonl", [(1, BASE_TEXT), (2, OTHER_TEXT)])
        _run_near(spark, src, dest, store, ckpt)
        _write_jsonl(src / "b2.jsonl", [(6, third)])
        _run_near(spark, src, dest, store, ckpt)

        # default contract: fold all but the newest epoch
        folded = ingest.compact_signature_store(spark, str(store), table=table)
        assert folded == 1
        assert spark.read.parquet(str(store)).select(
            "ingest_batch"
        ).distinct().count() == 1
        assert sorted(r.doc_id for r in spark.table(table).collect()) == [1, 2]

        # near-dups against BOTH tiers drop: 7 edits doc 1 (compacted
        # tier), 8 edits doc 6 (epoch tier), 9 novel
        _write_jsonl(
            src / "b3.jsonl",
            [
                (7, BASE_TEXT.replace("summer", "spring")),
                (8, third.replace("bucketed", "clustered")),
                (9, "fresh corpus entry about arrow batches and codegen"),
            ],
        )
        q = ingest.run_neardup_doc_ingest(
            spark, str(src), str(dest), str(store), str(ckpt),
            compacted_table=table,
        )
        q.awaitTermination(120)
        got = sorted(r.doc_id for r in spark.read.parquet(str(dest)).collect())
        assert got == [1, 2, 6, 9]

        # second fold sweeps the accumulated epochs into the table
        folded2 = ingest.compact_signature_store(
            spark, str(store), table=table, up_to_batch=10**6
        )
        assert folded2 == 2
        assert sorted(r.doc_id for r in spark.table(table).collect()) == [1, 2, 6, 9]

    def test_noop_on_absent_store(self, spark, tmp_path):
        assert (
            ingest.compact_signature_store(
                spark, str(tmp_path / "absent"), table="sig_compact_noop"
            )
            == 0
        )


def test_compaction_refuses_reused_up_to_batch(spark, tmp_path):
    """Review fix: a NEW fold that reuses an old up_to_batch after the
    stream wrote fresh epochs must refuse — skipping the merge would
    delete epoch rows never written to the table (silent store loss)."""
    import pytest as _pytest

    src = tmp_path / "drop"
    src.mkdir()
    dest, store, ckpt = tmp_path / "lake", tmp_path / "store", tmp_path / "ckpt"
    table = "fp_compact_reuse_guard"
    _write_jsonl(src / "b1.jsonl", [(1, "aaa bbb"), (2, "ccc ddd")])
    _run(spark, src, dest, store, ckpt)
    assert ingest.compact_fingerprint_store(
        spark, str(store), table=table, up_to_batch=100
    ) == 1
    _write_jsonl(src / "b2.jsonl", [(6, "eee fff")])
    _run(spark, src, dest, store, ckpt)
    with _pytest.raises(ValueError, match="v100 already exists"):
        ingest.compact_fingerprint_store(
            spark, str(store), table=table, up_to_batch=100
        )
    # the fresh epoch survived the refused fold
    assert spark.read.parquet(str(store)).count() >= 1
    # a HIGHER up_to folds it cleanly
    assert ingest.compact_fingerprint_store(
        spark, str(store), table=table, up_to_batch=200
    ) == 1
    assert spark.table(table).count() == 3
