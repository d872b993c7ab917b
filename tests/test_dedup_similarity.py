"""Semantic tests for dedup + similarity operators beyond the oracle
harness: planted near-dup recall, determinism, scale-shape invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_estate_bigdata_spark.functions.text import (
    hashed_ngrams_from_token_hashes,
    tokenize,
)
from real_estate_bigdata_spark.operators import dedup as dd
from real_estate_bigdata_spark.operators import sampling as sp_sampling
from real_estate_bigdata_spark.operators import similarity as sim
from real_estate_bigdata_spark.schema import load_table

SF = "/root/testdata/sf0.01"


def _simhash64_spec(text_col, n: int = 2):
    """Per-row 64-bit SimHash Column over word n-gram features — the
    spec the numpy kernel behind ``dd.simhash_signatures`` is pinned
    against.

    Classic bit-voting: for each of 64 bit positions, sum +1/-1 votes of
    each feature's hash bit; sign -> bit. Features are hashed n-grams
    built from per-token xxhash64 with a rolling n-wise combine (same
    construction as ``dd._hashed_shingles``, duplicates kept so they
    vote repeatedly).
    """
    toks = tokenize(text_col)
    th = F.transform(toks, lambda t: F.xxhash64(t))
    hashes = hashed_ngrams_from_token_hashes(th, n)
    bit_votes = [
        F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(
                h.bitwiseAND(F.shiftleft(F.lit(1).cast("bigint"), i)) != 0, 1
            ).otherwise(-1),
        )
        for i in range(64)
    ]
    out = F.lit(0).cast("bigint")
    for i, v in enumerate(bit_votes):
        out = out + F.when(v > 0, F.shiftleft(F.lit(1).cast("bigint"), i)).otherwise(0)
    return out


def _minhash_signature_spec(shingles, num_hashes: int = 32):
    """Per-row MinHash signature Column -> array<bigint> of length
    ``num_hashes``: lane i is ``min(xxhash64(shingle, seed=i))`` over
    the doc's shingle set. Empty shingle set -> array of NULLs."""
    return F.array(
        *[
            F.array_min(F.transform(shingles, lambda s: F.xxhash64(s, F.lit(i))))
            for i in range(num_hashes)
        ]
    )


def test_minhash_lsh_finds_planted_neardups(spark):
    """sf0.01 documents contain 25 planted pairs with jaccard >= 0.9;
    the LSH pipeline must recover all of them (verified exact)."""
    docs = load_table(spark, SF, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in dd.ngram_jaccard_pairs(docs, n=3, threshold=0.8).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in dd.minhash_lsh_pairs(
            docs, n=3, num_hashes=64, bands=16, threshold=0.8
        ).collect()
    }
    assert exact, "expected planted near-dup pairs in testdata"
    assert lsh == exact


def test_stop_shingle_cap_conservative_and_exact_when_loose(spark):
    """The 100 TB stop-shingle knob: a cap larger than every posting is
    a no-op (bit-identical to exact); a tight cap only REMOVES pairs or
    lowers jaccard (dropped shingles shrink intersections) — it must
    never invent a pair or raise a score above the exact value."""
    docs = load_table(spark, SF, "documents")
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.ngram_jaccard_pairs(docs, n=3, threshold=0.8).collect()
    }
    loose = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.ngram_jaccard_pairs(
            docs, n=3, threshold=0.8, max_posting_len=10**6
        ).collect()
    }
    assert loose == exact
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.ngram_jaccard_pairs(
            docs, n=3, threshold=0.8, max_posting_len=2
        ).collect()
    }
    assert set(capped) <= set(exact)
    assert all(capped[p] <= exact[p] + 1e-9 for p in capped)
    import pytest

    with pytest.raises(ValueError, match="max_posting_len"):
        dd.ngram_jaccard_pairs(docs, max_posting_len=1).collect()


def test_exact_dedup_survivor_is_min_id(spark):
    df = spark.createDataFrame(
        [(3, "a"), (1, "a"), (2, "b"), (5, "a")], "doc_id long, text string"
    )
    out = dd.exact_dedup(df, ["text"], "doc_id").collect()
    survivors = {r.text: r.doc_id for r in out}
    assert survivors == {"a": 1, "b": 2}


def test_simhash_deterministic_and_neardup_sensitive(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words about spark shuffles and parquet files"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    sigs1 = {r.doc_id: r.s for r in df.select("doc_id", _simhash64_spec(F.col("text")).alias("s")).collect()}
    sigs2 = {r.doc_id: r.s for r in df.select("doc_id", _simhash64_spec(F.col("text")).alias("s")).collect()}
    assert sigs1 == sigs2  # deterministic across runs
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(sigs1[1], sigs1[2]) < ham(sigs1[1], sigs1[3])


def test_simhash_signatures_match_per_row_spec(spark):
    """The exploded/group-by formulation (the 100 TB path) must produce
    bit-identical signatures to the per-row Column spec, including the
    zero signature for empty docs."""
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox leaps over the lazy dog"),
            (3, "completely different words about spark and parquet"),
            (4, ""),
            (5, "   "),
        ],
        "doc_id long, text string",
    )
    spec = {r.doc_id: r.s for r in df.select("doc_id", _simhash64_spec(F.col("text")).alias("s")).collect()}
    fast = {r.doc_id: r.sim for r in dd.simhash_signatures(df).collect()}
    assert fast == spec


def test_minhash_agg_signatures_match_per_row_spec(spark):
    """The exploded/group-by minhash signature (minhash_lsh_pairs'
    formulation) must equal the per-row Column spec
    ``_minhash_signature_spec`` applied to the same hashed-shingle
    arrays."""
    from real_estate_bigdata_spark.operators.dedup import _hashed_shingles

    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f h"), (3, "x y z w v u t")],
        "doc_id long, text string",
    )
    hsh = _hashed_shingles(df, 3, "doc_id", "text")
    spec = {
        r.doc_id: r.sig
        for r in hsh.select(
            "doc_id", _minhash_signature_spec(F.col("hs"), 16).alias("sig")
        ).collect()
    }
    agg = (
        hsh.select(F.col("doc_id"), F.explode("hs").alias("s"))
        .groupBy("doc_id")
        .agg(*[F.min(F.xxhash64("s", F.lit(i))).alias(f"h{i}") for i in range(16)])
        .select("doc_id", F.array(*[F.col(f"h{i}") for i in range(16)]).alias("sig"))
    )
    fast = {r.doc_id: r.sig for r in agg.collect()}
    assert fast == spec


def test_hashed_shingles_match_string_shingles(spark):
    """Hashed shingle ids must be exactly xxhash64-consistent in set
    size with the string n-gram formulation (no duplicate collapse
    beyond true duplicates)."""
    from real_estate_bigdata_spark.operators.dedup import (
        _distinct_shingles,
        _hashed_shingles,
    )

    docs = load_table(spark, SF, "documents")
    s1 = {r[0]: r[1] for r in _distinct_shingles(docs, 3, "doc_id", "text")
          .select("doc_id", F.size("shingles")).collect()}
    s2 = {r[0]: r[1] for r in _hashed_shingles(docs, 3, "doc_id", "text")
          .select("doc_id", F.size("hs")).collect()}
    assert s1 == s2


def test_embedding_blocked_gemm_matches_exact(spark):
    """Blocked-GEMM all-pairs cosine (applyInPandas, the scale path) must
    emit the same pairs with bit-identical round-6 cosines as the
    expression-tree variant."""
    emb = load_table(spark, SF, "embeddings")
    exact = {(r.id_a, r.id_b): r.cosine for r in dd.embedding_neardup_pairs(emb, 0.4).collect()}
    gemm = {
        (r.id_a, r.id_b): r.cosine
        for r in dd.embedding_neardup_pairs_blocked(emb, 0.4, n_blocks=5).collect()
    }
    assert gemm == exact and len(exact) > 0


def test_lsh_bucket_tolerates_null_vectors(spark):
    """NULL / wrong-length embeddings must hash to a well-defined bucket
    (0 per band), not crash the Arrow worker."""
    df = spark.createDataFrame(
        [(1, [0.5] * 8), (2, None), (3, [0.1] * 3)],
        "vec_id long, embedding array<double>",
    )
    out = sim.hyperplane_lsh_bucket(df, dim=8, bits=4, bands=2).collect()
    assert len(out) == 6  # 3 rows x 2 bands
    null_buckets = {r.bucket for r in out if r.vec_id in (2, 3)}
    assert null_buckets == {0}


def test_lsh_topk_recall_vs_bruteforce(spark):
    """Hyperplane-LSH ANN should recover a reasonable share of the true
    top-10 (approximate; 8 bands x 4 bits tuned for the weak-correlation
    regime of random embeddings)."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = sim.brute_force_topk(emb, queries, k=10).collect()
    approx = sim.lsh_topk(emb, queries, dim=64, k=10).collect()
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact}
    approx_pairs = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.4, f"LSH recall collapsed: {recall}"


def test_brute_force_topk_excludes_self_and_ranks(spark):
    emb = load_table(spark, SF, "embeddings")
    out = sim.brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=5).collect()
    assert len(out) == 5
    assert all(r.neighbor_id != 0 for r in out)
    cosines = [r.cosine for r in sorted(out, key=lambda r: r.rn)]
    assert cosines == sorted(cosines, reverse=True)


def test_ivf_topk_recall_vs_bruteforce(spark):
    """IVF (k-means inverted lists, nprobe=6/16) should recover most of
    the true top-10 on random embeddings (measured ~0.8; assert a
    conservative floor)."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id) for r in sim.brute_force_topk(emb, queries, k=10).collect()}
    approx = {(r.query_id, r.neighbor_id) for r in sim.ivf_topk(emb, queries, k=10, n_probe=6).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall collapsed: {recall}"


def test_ivf_topk_tolerates_null_corpus_vectors(spark):
    """NULL corpus vectors must be excluded from the index, not crash
    the k-means fit; queries still get ranked neighbors."""
    rows = [(i, [float(i % 7 + j) for j in range(8)]) for i in range(40)]
    rows += [(100, None), (101, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sim.ivf_topk(df, df.filter(F.col("vec_id") == 0), k=5, n_lists=4, n_probe=2)
    got = out.collect()
    assert len(got) == 5
    assert all(r.neighbor_id not in (100, 101) for r in got)


def test_ivf_topk_tolerates_ragged_and_null_queries(spark):
    """Wrong-length corpus vectors must be excluded (not crash the
    k-means fit) and NULL/ragged QUERY vectors must return no rows, not
    k fake NULL-cosine neighbors."""
    rows = [(i, [float(i % 7 + j) for j in range(8)]) for i in range(40)]
    rows += [(100, None), (101, [1.0, 2.0, 3.0])]  # null + ragged corpus
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(0, [float(j) for j in range(8)]), (200, None), (201, [9.9] * 3)],
        "vec_id long, embedding array<double>",
    )
    got = sim.ivf_topk(df, queries, k=5, n_lists=4, n_probe=2).collect()
    assert {r.query_id for r in got} == {0}
    assert all(r.neighbor_id not in (100, 101) for r in got)


def test_tune_n_probe_picks_cheapest_meeting_target(spark):
    """The tuner must return the SMALLEST ladder step whose chosen
    recall stat meets the target, with the swept trail auditable and
    monotone-terminating (full probe == brute force => recall 1.0)."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.orderBy("vec_id").limit(8)
    index = sim.build_ivf_index(emb, n_lists=16, seed=42)
    tuned = sim.tune_n_probe(
        index, emb, queries, k=10, target_recall=0.8, recall_stat="min"
    )
    assert tuned["n_probe"] in {1, 2, 4, 8, 16}
    # the returned step meets the target...
    last = tuned["swept"][-1]
    assert last["n_probe"] == tuned["n_probe"]
    assert last["min_recall"] >= 0.8
    # ...and every EARLIER step missed it (cheapest, not just any)
    for step in tuned["swept"][:-1]:
        assert step["min_recall"] < 0.8
    # ladder is strictly increasing (early-stop sweep, no repeats)
    probes = [s["n_probe"] for s in tuned["swept"]]
    assert probes == sorted(set(probes))


def test_tune_n_probe_terminates_at_full_probe_for_target_1(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.orderBy("vec_id").limit(4)
    index = sim.build_ivf_index(emb, n_lists=8, seed=42)
    tuned = sim.tune_n_probe(
        index, emb, queries, k=5, target_recall=1.0, recall_stat="min",
        candidates=[8],
    )
    # full probe == brute force, so target 1.0 is reachable
    assert tuned["n_probe"] == 8
    assert tuned["swept"][-1]["min_recall"] == 1.0


def test_tuned_point_persists_with_artifact_and_pins_driver_constant(
    spark, tmp_path
):
    """Tune offline, serve cheap (r10): tune_n_probe stamps the index
    object, save_ivf_index persists the point, load_ivf_index restores
    it — so a serving job never re-pays the ladder. The driver query's
    pinned constant must equal what the live tuner derives on the same
    corpus/params, or the pin has drifted from the tuner."""
    import __spark_entry__ as entry_mod

    emb = load_table(spark, SF, "embeddings")
    queries = emb.orderBy("vec_id").limit(8)
    index = sim.build_ivf_index(emb, n_lists=16, seed=42)
    assert index.tuned_n_probe is None  # untuned until the offline job
    tuned = sim.tune_n_probe(
        index, emb, queries, k=10, target_recall=0.8, recall_stat="min",
        candidates=[4, 8],
    )
    assert index.tuned_n_probe == tuned["n_probe"]
    assert tuned["n_probe"] == entry_mod._ANN_PINNED_N_PROBE

    path = str(tmp_path / "tuned_idx")
    sim.save_ivf_index(index, path)
    loaded = sim.load_ivf_index(spark, path)
    assert loaded.tuned_n_probe == tuned["n_probe"]
    # an untuned artifact round-trips as untuned (no meta tier)
    fresh = sim.build_ivf_index(emb.limit(50), n_lists=4, seed=1)
    path2 = str(tmp_path / "untuned_idx")
    sim.save_ivf_index(fresh, path2)
    assert sim.load_ivf_index(spark, path2).tuned_n_probe is None

    # torn meta write (ADVICE r10): a crash mid-meta-write leaves a
    # partial dir without _SUCCESS — the load must degrade to an
    # UNTUNED index, not raise on the parquet read
    import os
    import shutil

    torn = str(tmp_path / "torn_idx")
    sim.save_ivf_index(index, torn)
    os.remove(f"{torn}/meta/_SUCCESS")
    for f in os.listdir(f"{torn}/meta"):  # simulate partial data files
        if f.endswith(".parquet"):
            os.remove(f"{torn}/meta/{f}")
    degraded = sim.load_ivf_index(spark, torn)
    assert degraded.tuned_n_probe is None
    # and the degraded index still serves (untuned caller picks n_probe)
    got = sim.ivf_search(degraded, queries.limit(2), k=3, n_probe=16)
    assert got.count() > 0
    shutil.rmtree(torn)


def test_tune_n_probe_validates_args(spark):
    import pytest

    emb = load_table(spark, SF, "embeddings")
    index = sim.build_ivf_index(emb.limit(40), n_lists=4, seed=1)
    with pytest.raises(ValueError):
        sim.tune_n_probe(index, emb, emb.limit(2), target_recall=0.0)
    with pytest.raises(ValueError):
        sim.tune_n_probe(index, emb, emb.limit(2), recall_stat="median")


def test_minhash_lsh_rejects_bad_band_config(spark):
    import pytest

    docs = load_table(spark, SF, "documents")
    for bands, num_hashes in ((3, 64), (0, 64), (65, 64), (-4, 64)):
        with pytest.raises(ValueError):
            dd.minhash_lsh_pairs(docs, num_hashes=num_hashes, bands=bands)


def test_ivf_build_once_search_twice_no_refit(spark, tmp_path, monkeypatch):
    """A built index must serve repeated searches without re-fitting
    k-means (the r1 design flaw: ivf_topk retrained per call)."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    index = sim.build_ivf_index(emb, n_lists=16, seed=42)

    # any k-means fit after build is a bug
    def _bomb(*a, **kw):
        raise AssertionError("k-means fit called during ivf_search")

    monkeypatch.setattr(sim, "_kmeans_fit", _bomb)
    first = sorted(map(tuple, sim.ivf_search(index, queries, k=10, n_probe=6).collect()))
    second = sorted(map(tuple, sim.ivf_search(index, queries, k=10, n_probe=6).collect()))
    assert first == second and len(first) == 50


def test_ivf_save_load_roundtrip_and_partition_pruning(spark, tmp_path):
    """Persisted index must return the same results, and a probe-limited
    search must scan ONLY the probed list partitions (static pruning —
    the property that makes IVF a scale win on a 100 TB corpus)."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    built = sim.build_ivf_index(emb, n_lists=16, seed=42)
    mem = sorted(map(tuple, sim.ivf_search(built, queries, k=10, n_probe=6).collect()))

    path = str(tmp_path / "ivf_index")
    sim.save_ivf_index(built, path)
    loaded = sim.load_ivf_index(spark, path)
    disk = sorted(map(tuple, sim.ivf_search(loaded, queries, k=10, n_probe=6).collect()))
    assert mem == disk


def test_ivf_search_prune_reads_subset_of_partitions(spark, tmp_path):
    """A probed search over a persisted index must plan a scan over a
    strict subset of the list partitions (static partition pruning)."""
    rows = [(i, [float((i * 13 + j * 7) % 29) for j in range(8)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    index = sim.build_ivf_index(df, n_lists=8, seed=1)
    path = str(tmp_path / "idx")
    sim.save_ivf_index(index, path)
    loaded = sim.load_ivf_index(spark, path)

    # inputFiles() lists the whole relation pre-filter, so assert on the
    # files actually READ: a 2-list filter must touch fewer distinct
    # files than the full index scan
    pruned = loaded.lists.filter(F.col("__list").isin([0, 1]))
    read_pruned = {
        r.f for r in pruned.select(F.input_file_name().alias("f")).distinct().collect()
    }
    read_all = {
        r.f
        for r in loaded.lists.select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert read_pruned and read_pruned < read_all

    # and ivf_search results over the pruned index stay correct
    q = df.filter(F.col("vec_id") == 0)
    got = sim.ivf_search(loaded, q, k=3, n_probe=2).collect()
    assert len(got) == 3
    assert all(r.neighbor_id != 0 for r in got)


def test_curate_corpus_stages(spark):
    """Curation composite: exact dup -> min-id survivor; near-dup pair ->
    later id dropped; short docs -> filtered; NULL text -> filtered."""
    from real_estate_bigdata_spark.operators.curation import curate_corpus

    # one word changed in a 30-token doc: 28 distinct 3-grams, 3 differ
    # -> jaccard = 25/31 ~ 0.806, just over the 0.8 threshold (shorter
    # texts fall under it: a 14-token doc lands at 0.6)
    base = " ".join(f"word{i}" for i in range(16)) + " " + \
        "the quick brown fox jumps over the lazy dog again and again today ok"
    near = base.replace("today", "tomorrow")
    rows = [
        (1, "a", base),                 # kept (earliest of 1/2/4)
        (2, "a", base),                 # exact dup of 1 -> dropped
        (3, "a", near),                 # near dup of 1 -> dropped (later id)
        (4, "a", "  " + base + " "),    # whitespace-variant exact dup -> dropped
        (5, "b", "completely different words about spark shuffles parquet files here"),  # kept
        (6, "b", "too short"),          # under token floor -> dropped
        (7, "b", None),                 # NULL text -> dropped
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    kept = {r.doc_id: r.n_tokens for r in curate_corpus(docs, threshold=0.8).collect()}
    assert set(kept) == {1, 5}
    assert kept[1] == 30
    # deterministic across runs
    again = {r.doc_id for r in curate_corpus(docs, threshold=0.8).collect()}
    assert again == {1, 5}


def test_ivf_build_sampling_is_partition_independent(spark):
    """When the corpus exceeds max_train, the training sample (seeded
    hash top-k, not Bernoulli) must be content-deterministic: the same
    corpus under different partitioning yields identical centroids."""
    import numpy as np

    rows = [(i, [float((i * 31 + j * 11) % 17) for j in range(8)]) for i in range(300)]
    a = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(3)
    b = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(7)
    ia = sim.build_ivf_index(a, n_lists=4, seed=7, max_train=100)
    ib = sim.build_ivf_index(b, n_lists=4, seed=7, max_train=100)
    assert np.array_equal(ia.centroids, ib.centroids)
    la = sorted(map(tuple, ia.lists.select("neighbor_id", "__list").collect()))
    lb = sorted(map(tuple, ib.lists.select("neighbor_id", "__list").collect()))
    assert la == lb


def test_label_agreement_flags_planted_mislabel(spark):
    """A vector given a wrong label while sitting on top of a
    same-direction cluster must come back agree=false; clean cluster
    members agree with their neighbors."""
    import random

    rng = random.Random(7)

    def vec(base, eps):
        return [b + rng.uniform(-eps, eps) for b in base]

    a = [1.0, 0.0, 0.0, 0.0]
    b = [0.0, 1.0, 0.0, 0.0]
    rows = (
        [(i, vec(a, 0.01), 0) for i in range(5)]
        + [(10 + i, vec(b, 0.01), 1) for i in range(5)]
        + [(99, vec(a, 0.01), 1)]  # A-cluster geometry, B label
    )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r.vec_id: r for r in sim.label_agreement(emb).collect()}
    assert len(out) == 11
    assert out[99].agree is False and out[99].nn_label == 0
    clean = [r for i, r in out.items() if i != 99]
    # clusters are tight, so everyone else's 1-NN is a same-cluster
    # member — except whichever A-vector has 99 as its nearest neighbor
    assert sum(not r.agree for r in clean) <= 1

    # tiling invariance (r6: the x30 scale point caught the unblocked
    # GEMM page-thrashing; results must be identical at ANY tile size):
    # _tile_elems=1 forces one-column tiles — every boundary and
    # cross-tile tie-break path executes — and must reproduce the
    # default's nn assignments bit-for-bit
    tiled = {
        r.vec_id: (r.nn_id, r.nn_label, r.agree)
        for r in sim.label_agreement(emb, _tile_elems=1).collect()
    }
    assert tiled == {
        i: (r.nn_id, r.nn_label, r.agree) for i, r in out.items()
    }


def test_label_agreement_max_rows_boundary(spark):
    """The driver snapshot takes exactly ``max_rows`` rows and refuses
    one more."""
    import pytest

    rows = [(i, [1.0, float(i)], i % 2) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    assert sim.label_agreement(emb, max_rows=6).count() == 6
    with pytest.raises(ValueError, match="exceeds max_rows=5"):
        sim.label_agreement(emb, max_rows=5)


def test_portable_hash64_matches_duckdb_on_adversarial_strings(spark):
    """portable_hash64 is the cross-engine contract every portable-mode
    oracle rests on (SimHash, fingerprints, hash_split); pin Spark ==
    DuckDB over unicode, whitespace, quotes, long and empty strings."""
    import duckdb

    from real_estate_bigdata_spark.functions.text import portable_hash64

    corpus = [
        "", " ", "a", "Đống Đa — Quận 1", "tỷ/triệu", "🏠🏡", "a" * 10_000,
        "line\nbreak", "tab\tsep", "quote'dq\"uote", "null\x00byte-ish",
        "ngram one two", "ngram one  two", "ẵặẳẴỹ", "ß", "\\backslash",
    ] + [f"tok{i}" for i in range(50)]
    df = spark.createDataFrame([(s,) for s in corpus], "s string")
    got = {r.s: r.h for r in df.select("s", portable_hash64(F.col("s")).alias("h")).collect()}
    con = duckdb.connect()
    for s in corpus:
        (exp,) = con.execute(
            "SELECT ('0x' || substr(md5(?), 1, 15))::BIGINT", [s]
        ).fetchone()
        assert got[s] == exp, f"hash mismatch for {s!r}"


def test_cluster_safe_split_empty_pair_stream(spark):
    """No near-dups at all: the split must degrade to plain hash_split
    over every doc (singleton fallback), not fail on the empty edge set."""
    from real_estate_bigdata_spark.operators.clustering import cluster_safe_split
    from real_estate_bigdata_spark.operators.sampling import hash_split

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(1, 30)], "doc_id long, text string"
    )
    empty = spark.createDataFrame([], "id_a long, id_b long")
    out = {
        r.doc_id: r.split
        for r in cluster_safe_split(docs, empty, {"train": 0.8, "holdout": 0.2})
        .select("doc_id", "split")
        .collect()
    }
    plain = {
        r.doc_id: r.split
        for r in hash_split(docs, {"train": 0.8, "holdout": 0.2})
        .select("doc_id", "split")
        .collect()
    }
    assert out == plain


def test_dedup_against_store_incremental_batches(spark):
    """The continuous-ingest loop: batch 2 must drop docs whose content
    (whitespace-normalized) already entered the lake in batch 1, resolve
    within-batch dups to the min id, pass NULL-text docs through without
    poisoning the store, and leave the store distinct."""
    empty_store = spark.createDataFrame([], "fingerprint bigint")
    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha  beta"), (4, None)],
        "doc_id long, text string",
    )
    novel1, store1 = dd.dedup_against_store(b1, empty_store)
    got1 = {r.doc_id for r in novel1.collect()}
    # 3 is a whitespace-variant dup of 1 (min id survives); NULL passes
    assert got1 == {1, 2, 4}
    assert store1.count() == 2  # alpha-beta + gamma-delta; no NULL entry

    b2 = spark.createDataFrame(
        [(10, "alpha beta"), (11, "brand new"), (12, "brand new"), (13, None)],
        "doc_id long, text string",
    )
    novel2, store2 = dd.dedup_against_store(b2, store1)
    got2 = {r.doc_id for r in novel2.collect()}
    # 10 dups batch-1 content; 12 dups 11 within-batch; NULL passes again
    assert got2 == {11, 13}
    assert store2.count() == 3
    assert novel2.columns == b2.columns
    # replay batch 2: nothing novel except the NULL pass-through
    novel3, store3 = dd.dedup_against_store(b2, store2)
    assert {r.doc_id for r in novel3.collect()} == {13}
    assert store3.count() == 3


def test_embedding_neardup_pairs_ivf_recall_vs_exact(spark):
    """VERDICT r3 task #7: IVF-blocked pair generation must recover
    >= 0.95 of the exact generator's pairs at threshold 0.4, and every
    emitted pair must be a genuine above-threshold pair (no junk beyond
    round-6 boundary slack)."""
    emb = load_table(spark, SF, "embeddings")
    exact = {
        (r.id_a, r.id_b)
        for r in dd.embedding_neardup_pairs(emb, threshold=0.4).collect()
    }
    got_rows = dd.embedding_neardup_pairs_ivf(
        emb, threshold=0.4, n_lists=16, n_probe=6, seed=42
    ).collect()
    got = {(r.id_a, r.id_b) for r in got_rows}
    assert exact, "expected above-threshold embedding pairs in testdata"
    recall = len(got & exact) / len(exact)
    assert recall >= 0.95, f"IVF recall {recall:.3f} < 0.95 ({len(exact)} exact)"
    assert all(r.id_a < r.id_b for r in got_rows)
    # precision up to the round-6 boundary: anything emitted must be in
    # the exact pair set computed with that slack
    slack = {
        (r.id_a, r.id_b)
        for r in dd.embedding_neardup_pairs(emb, threshold=0.4 - 1e-6).collect()
    }
    assert got <= slack
    # multi-list co-occurrences collapsed: one row per pair
    assert len(got_rows) == len(got)


def test_embedding_neardup_pairs_pca_dense_fallback_equals_exact(spark):
    """r13 adaptive kernel, DENSE branch: a single tight cluster makes
    the projected mask pass nearly every pair (> the 25% density bar),
    so every chunk falls back to the full raw GEMM — and with
    n_lists=1 there is no probe-set miss either, so the output must
    EQUAL the exact generator bit-for-bit (pairs AND cosines): the
    dense branch has zero candidate misses by construction."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal(16)
    rows = [
        (i, [float(v) for v in (base + 0.05 * rng.standard_normal(16))])
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in dd.embedding_neardup_pairs(df, threshold=0.9).collect()
    }
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in dd.embedding_neardup_pairs_pca(
            df, threshold=0.9, k=8, candidate_threshold=0.3, n_lists=1
        ).collect()
    }
    assert exact and got == exact


def test_embedding_neardup_pairs_pca_sparse_mask_path(spark):
    """r13 adaptive kernel, SPARSE branch: near-orthogonal scattered
    vectors plus a few planted near-dup pairs keep mask density far
    below the dense bar, so pairs flow through the masked
    gather+einsum path — planted pairs must surface with exact
    cosines and nothing spurious may appear."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = []
    for i in range(200):
        v = rng.standard_normal(32)
        rows.append((i, [float(x) for x in v]))
        if i % 40 == 0:  # plant a near-copy
            rows.append(
                (10_000 + i, [float(x) for x in v + 0.01 * rng.standard_normal(32)])
            )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in dd.embedding_neardup_pairs(df, threshold=0.9).collect()
    }
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in dd.embedding_neardup_pairs_pca(
            df, threshold=0.9, k=16, candidate_threshold=0.3, n_lists=1
        ).collect()
    }
    planted = {(i, 10_000 + i) for i in range(0, 200, 40)}
    assert planted <= set(exact)
    assert got == exact  # n_lists=1: only the mask could lose a pair


def test_embedding_neardup_pairs_pca_chunk_order_invariance(spark):
    """r14 (ADVICE r13): the emitted pair SET must be a pure function
    of the list CONTENT — rows are sorted by vid before chunking, so a
    borderline pair (raw cosine >= threshold, projected cosine below
    the candidate bar — recoverable only through a dense-fallback
    chunk) is emitted or not identically across input partitionings;
    and a pair recovered by a dense chunk that holds only its
    HIGHER-id row survives (min/max emission — the old ga<gb filter
    dropped that orientation).

    Fixture geometry (> one 2048-row chunk, mixed branches): corpus
    variance is concentrated in dims 0-7 (big cluster + big scattered
    filler), so the top-8 uncentered directions span dims 0-7 exactly
    and the planted pairs — living in dims 8-31 with LOW ids paired to
    HIGH ids — project to ~zero: invisible to the mask. Sorted by vid,
    the low-id partners land in the sparse scattered chunk and the
    high-id partners in the dense cluster chunk, so each planted pair
    is recovered ONLY via the dense chunk that contains its higher id.
    """
    import numpy as np

    rng = np.random.default_rng(23)
    rows = []
    # 300 low-id planted partners: unit vectors in dims 8-31 only
    ws = []
    for i in range(300):
        w = np.zeros(32)
        w[8:] = rng.standard_normal(24)
        w /= np.linalg.norm(w)
        ws.append(w)
        rows.append((i, [float(x) for x in w]))
    # scattered filler in dims 0-7, amplitude x10 (ids 1000..2747)
    for i in range(1748):
        v = np.zeros(32)
        v[:8] = 10.0 * rng.standard_normal(8)
        rows.append((1_000 + i, [float(x) for x in v]))
    # tight cluster in dims 0-7, amplitude x10 (ids 10000..11699)
    base = np.zeros(32)
    base[:8] = 10.0 * rng.standard_normal(8)
    for i in range(1700):
        v = base.copy()
        v[:8] += 0.05 * rng.standard_normal(8)
        rows.append((10_000 + i, [float(x) for x in v]))
    # 300 high-id planted rows: near-copies of the low-id partners
    for i in range(300):
        w2 = ws[i] + 0.01 * rng.standard_normal(32)
        rows.append((20_000 + i, [float(x) for x in w2]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def run(frame):
        out = dd.embedding_neardup_pairs_pca(
            frame, threshold=0.9, k=8, candidate_threshold=0.6, n_lists=1
        ).collect()
        return {(r.id_a, r.id_b): r.cosine for r in out}

    got = run(df)
    planted = {(i, 20_000 + i) for i in range(300)}
    missing = planted - set(got)
    assert not missing, f"{len(missing)} dense-recovered pairs lost"
    # identical output across opposite input orders and partitionings
    reshuffled = df.orderBy(F.col("vec_id").desc()).repartition(7)
    assert run(reshuffled) == got


def test_embedding_neardup_pairs_pca_fat_width_recall_and_parity(spark):
    """r14 (VERDICT r13 task #4): the operator's stated target is FAT
    embeddings, so pin recall and surviving-cosine parity at d=768 —
    the same synthesis the scale battery measures the crossover with
    (bench_scale._synth_embeddings_fat: rank-64 block signal + 0.02
    tail noise widened from the sf0.001 corpus), k=64 projection."""
    import sys

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parents[1]))
    from bench_scale import _synth_embeddings_fat

    emb = load_table(spark, SF, "embeddings")
    fat = _synth_embeddings_fat(emb, 0).localCheckpoint(eager=False)
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in dd.embedding_neardup_pairs(fat, threshold=0.4).collect()
    }
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in dd.embedding_neardup_pairs_pca(
            fat, threshold=0.4, k=64
        ).collect()
    }
    assert exact, "expected above-threshold pairs in the fat corpus"
    recall = len(got.keys() & exact.keys()) / len(exact)
    assert recall >= 0.9, f"fat-width recall {recall:.3f} < 0.9 ({len(exact)})"
    assert set(got) <= set(exact)
    assert all(got[p] == exact[p] for p in got)
    # the battery's near-dup operating point (threshold 0.9, candidate
    # 0.75): the planted ~0.99 duplicate clusters must be recovered
    # EXACTLY — the corpus's random-pair band tops out ~0.56, so the
    # answer set is precisely the planted pairs, both generators
    from bench_scale import FAT_DUP_OFFSET

    hi = {
        (r.id_a, r.id_b): r.cosine
        for r in dd.embedding_neardup_pairs_pca(
            fat, threshold=0.9, candidate_threshold=0.75, k=64
        ).collect()
    }
    exact_hi = {
        (r.id_a, r.id_b): r.cosine
        for r in dd.embedding_neardup_pairs(fat, threshold=0.9).collect()
    }
    planted = {
        (r.vec_id, r.vec_id + FAT_DUP_OFFSET)
        for r in fat.where(F.pmod("vec_id", F.lit(10)) == 0)
        .where(F.col("vec_id") < FAT_DUP_OFFSET)
        .select("vec_id")
        .collect()
    }
    assert set(exact_hi) == planted
    assert hi == exact_hi


def test_embedding_neardup_pairs_pca_recall_and_exact_verify(spark):
    """r13 (VERDICT r12 task #4): the PCA-candidates + exact-verify
    generator must (a) recover >= 0.9 of the exact generator's pairs
    at the default operating point (k=32, candidate 0.3 — measured
    end-to-end 0.963 at sf0.1 with the IVF stage's own miss
    multiplied in), and (b) emit ONLY genuine pairs with
    the exact cosine BIT-IDENTICAL to the exact generator (the verify
    stage shares cosine_from_norms on the raw vectors — precision is
    1.0 by construction, not up-to-slack like the projected score)."""
    emb = load_table(spark, SF, "embeddings")
    exact_rows = dd.embedding_neardup_pairs(emb, threshold=0.4).collect()
    exact = {(r.id_a, r.id_b): r.cosine for r in exact_rows}
    got_rows = dd.embedding_neardup_pairs_pca(emb, threshold=0.4).collect()
    got = {(r.id_a, r.id_b): r.cosine for r in got_rows}
    assert exact, "expected above-threshold embedding pairs in testdata"
    recall = len(got.keys() & exact.keys()) / len(exact)
    assert recall >= 0.9, f"PCA recall {recall:.3f} < 0.9 ({len(exact)} exact)"
    # every emitted pair is in the exact set with a bit-identical cosine
    assert set(got) <= set(exact)
    assert all(got[p] == exact[p] for p in got)
    assert all(r.id_a < r.id_b for r in got_rows)
    assert len(got_rows) == len(got)


def test_embedding_neardup_pairs_pca_prefit_model_reused(spark):
    """A prefit PcaModel must short-circuit the fit pass and produce
    the same pairs (the persisted-model/serve-many shape)."""
    from real_estate_bigdata_spark.operators.projection import fit_pca

    emb = load_table(spark, SF, "embeddings")
    model = fit_pca(emb, k=32, whiten=False, center=False)
    a = {
        (r.id_a, r.id_b, r.cosine)
        for r in dd.embedding_neardup_pairs_pca(emb, model=model).collect()
    }
    b = {
        (r.id_a, r.id_b, r.cosine)
        for r in dd.embedding_neardup_pairs_pca(emb).collect()
    }
    assert a == b


def test_embedding_neardup_pairs_ivf_shard_prunes_partitions(spark, tmp_path):
    """`within_lists` over a persisted index must plan a partition-
    pruned list scan (only the named list directories read) and emit
    only pairs among those lists' primary members."""
    from real_estate_bigdata_spark.plans.audit import executed_plan_str

    rows = [(i, [float((i * 13 + j * 7) % 29) for j in range(8)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    index = sim.build_ivf_index(df, n_lists=8, seed=1)
    path = str(tmp_path / "idx")
    sim.save_ivf_index(index, path)
    loaded = sim.load_ivf_index(spark, path)

    out = dd.embedding_neardup_pairs_ivf(
        df, threshold=0.4, n_probe=2, index=loaded, within_lists=[0, 1]
    )
    plan = executed_plan_str(out)
    assert "PartitionFilters" in plan and "__list" in plan
    # the scan must read a strict subset of the list directories
    shard_members = {
        r.neighbor_id
        for r in loaded.lists.filter(F.col("__list").isin([0, 1])).collect()
    }
    for r in out.collect():
        assert r.id_a in shard_members and r.id_b in shard_members

    # unsharded run over the same persisted index covers at least as much
    full = {
        (r.id_a, r.id_b)
        for r in dd.embedding_neardup_pairs_ivf(
            df, threshold=0.4, n_probe=2, index=loaded
        ).collect()
    }
    shard = {(r.id_a, r.id_b) for r in out.collect()}
    assert shard <= full


def test_ivf_hot_list_autosplit_bounded_tasks_same_pairs(spark):
    """VERDICT r4 task #4: one planted dense cluster (every vector probes
    the same lists) must NOT become one monster applyInPandas task —
    over-sized lists hash-split into sub-block pairs with bounded rows
    per group, and the emitted pair set is IDENTICAL to the unsplit
    run."""
    # 600 near-identical vectors (one dense semantic cluster) + 100
    # scattered ones
    rows = [
        (i, [10.0 + (i % 7) * 1e-4 + j for j in range(8)]) for i in range(600)
    ]
    rows += [
        (1000 + i, [float((i * 37 + j * 11) % 23) - 11.0 for j in range(8)])
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    unsplit = {
        (r.id_a, r.id_b, r.cosine)
        for r in dd.embedding_neardup_pairs_ivf(
            df, threshold=0.9, n_lists=4, n_probe=2, seed=7,
            max_list_rows=10**9,
        ).collect()
    }
    split = {
        (r.id_a, r.id_b, r.cosine)
        for r in dd.embedding_neardup_pairs_ivf(
            df, threshold=0.9, n_lists=4, n_probe=2, seed=7, max_list_rows=64
        ).collect()
    }
    assert split == unsplit
    assert len(unsplit) >= 600 * 599 / 2  # the dense cluster is all-pairs

    # the expansion itself: per-(list, sx, sy) group sizes stay bounded
    assigned = df.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").alias("v"),
        F.lit(0).alias("__plist"),  # worst case: EVERYTHING in one list
    )
    expanded = dd._expand_hot_lists(assigned, max_list_rows=64)
    sizes = [
        r.n
        for r in expanded.groupBy("__plist", "__sx", "__sy")
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    # hash balance slack: diagonal groups ~max_list_rows, cross groups
    # ~2*max_list_rows; allow 1.5x for hash imbalance at this small n
    assert max(sizes) <= int(2 * 64 * 1.5), f"unbounded group: {max(sizes)}"
    # every vector pair of the single list is covered exactly once
    n_sub = (700 + 63) // 64
    assert len(sizes) == n_sub * (n_sub + 1) // 2


def test_ivf_autosplit_rejects_bad_bound(spark):
    import pytest

    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError):
        dd.embedding_neardup_pairs_ivf(df, max_list_rows=0)


def test_semantic_dedup_min_id_survivors_and_default_path(spark):
    emb = load_table(spark, SF, "embeddings")
    n = emb.count()
    exact_pairs = dd.embedding_neardup_pairs(emb, threshold=0.4)
    survivors = dd.semantic_dedup(emb, pairs=exact_pairs)
    kept = {r.vec_id for r in survivors.select("vec_id").collect()}
    # every component keeps exactly its min id; singletons pass through
    from real_estate_bigdata_spark.operators.clustering import (
        connected_components,
    )

    cc = connected_components(exact_pairs).collect()
    victims = {r.id for r in cc if r.id != r.cluster_id}
    assert kept == {
        r.vec_id for r in emb.select("vec_id").collect()
    } - victims
    assert len(kept) == n - len(victims) and victims
    # full input schema preserved
    assert survivors.columns == emb.columns
    # the default (IVF-blocked) path: same survivors on this corpus
    # (recall 1.0 observed at threshold 0.4, pinned by the recall test)
    ivf_kept = {
        r.vec_id
        for r in dd.semantic_dedup(emb, threshold=0.4, n_lists=16, n_probe=6)
        .select("vec_id")
        .collect()
    }
    assert ivf_kept == kept


def test_ivf_autosplit_tolerates_empty_sub_blocks(spark):
    """A list barely over a tiny max_list_rows can hash all rows into a
    subset of its sub-blocks; empty cross-pair sides must emit nothing,
    not crash np.stack (review r5)."""
    rows = [(i, [float(i % 3) + 1.0, 1.0]) for i in range(9)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.id_a, r.id_b)
        for r in dd.embedding_neardup_pairs_ivf(
            df, threshold=0.99, n_lists=1, n_probe=1, max_list_rows=2
        ).collect()
    }
    exact = {
        (r.id_a, r.id_b)
        for r in dd.embedding_neardup_pairs(df, threshold=0.99).collect()
    }
    assert got == exact  # single list + sub-split covers all pairs


def test_redact_duplicate_spans_keeps_first_occurrence(spark):
    """ExactSubstr policy: the minimum (id, start) occurrence of a
    duplicated n-gram window survives byte-identical; every other
    occurrence — cross-doc AND within-doc — is redacted token-wise."""
    corpus = spark.createDataFrame(
        [
            # first (min doc_id) occurrence of "q w e r" — survives
            (1, "q w e r tail1"),
            # same 4-gram mid-doc — redacted, neighbors survive
            (2, "keep1 keep2 q w e r keep3"),
            # within-doc repeat: occurrence at 0 is ALSO non-first
            # (doc 1 holds the minimum), both windows go
            (3, "q w e r q w e r end"),
            # clean doc with irregular whitespace — byte-identical
            (4, "clean   doc\twith  spacing"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r for r in dd.redact_duplicate_spans(corpus, n=4).collect()
    }
    assert out[1].text == "q w e r tail1" and out[1].n_redacted == 0
    assert out[2].text == "keep1 keep2 keep3" and out[2].n_redacted == 1
    assert out[3].text == "end" and out[3].n_redacted == 2
    assert out[4].text == "clean   doc\twith  spacing"
    assert out[4].n_redacted == 0
    assert out[5].text is None and out[5].n_redacted == 0
    assert set(out) == {1, 2, 3, 4, 5}  # every row survives


def test_redact_duplicate_spans_within_doc_first_kept(spark):
    """When the duplicated window's FIRST occurrence is within the same
    doc, it survives and only later starts are redacted."""
    corpus = spark.createDataFrame(
        [(7, "a b c d a b c d z")], "doc_id long, text string"
    )
    row = dd.redact_duplicate_spans(corpus, n=4).collect()[0]
    assert row.text == "a b c d z" and row.n_redacted == 1


def test_redact_duplicate_spans_null_id_passthrough(spark):
    """NULL-id rows keep byte-identical text and do not vote in the
    duplication count: a gram shared only between a NULL-id row and one
    keyed row is NOT corpus-duplicated from the keyed row's view."""
    corpus = spark.createDataFrame(
        [(None, "x y z w pad"), (9, "x y z w other")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dd.redact_duplicate_spans(corpus, n=4).collect()}
    assert out[None].text == "x y z w pad" and out[None].n_redacted == 0
    assert out[9].text == "x y z w other" and out[9].n_redacted == 0


def test_redact_duplicate_spans_plan_shape(spark):
    """Hash aggregate on the gram stream (partial-agg safe, NOT a
    window sort over g), no Python anywhere, text payload moves once:
    gram-count agg + span agg + (AQE-planned) joins stay within a small
    exchange budget and zero sort-merge joins at this scale."""
    from real_estate_bigdata_spark.plans import assert_plan

    docs = load_table(spark, SF, "documents")
    stats = assert_plan(
        dd.redact_duplicate_spans(docs, n=8),
        forbid_python=True,
        max_sortmerge_joins=0,
    )
    assert stats.shuffles <= 4, stats


class TestNeardupAgainstStore:
    """Incremental MinHash-LSH dedup vs a persisted signature store —
    the near-dup analogue of dedup_against_store. Oracle: pytest-only
    (two inputs + multi-batch state; no single-table SQL shape)."""

    BASE = (
        "the quick brown fox jumps over the lazy dog near the old river "
        "bank while seven other foxes watch from the tall dry summer grass"
    )

    def _near(self, tail: str) -> str:
        # one-word change: jaccard on word-3-grams ~ 0.9
        return self.BASE.replace("summer", tail)

    def _empty_store(self, spark):
        return spark.createDataFrame([], "doc_id long, sig array<bigint>")

    def test_within_batch_and_cross_batch_dedup(self, spark):
        b1 = spark.createDataFrame(
            [
                (1, self.BASE),
                (2, "completely different text about spark catalyst plans "
                    "and adaptive query execution at terabyte scale today"),
                (3, self._near("winter")),  # near-dup of 1 -> dropped
                (4, None),                   # NULL text passes through
            ],
            "doc_id long, text string",
        )
        novel1, store1 = dd.neardup_against_store(b1, self._empty_store(spark))
        assert {r.doc_id for r in novel1.collect()} == {1, 2, 4}
        # store holds signatures of the 2 kept signature-bearing docs
        assert {r.doc_id for r in store1.collect()} == {1, 2}

        b2 = spark.createDataFrame(
            [
                (10, self._near("autumn")),  # near-dup of stored 1
                (11, "a brand new document mentioning entirely fresh "
                     "topics like lakehouse table formats and manifests"),
                (12, None),
            ],
            "doc_id long, text string",
        )
        novel2, store2 = dd.neardup_against_store(b2, store1)
        assert {r.doc_id for r in novel2.collect()} == {11, 12}
        assert {r.doc_id for r in store2.collect()} == {1, 2, 11}
        assert novel2.columns == b2.columns

    def test_replay_is_idempotent(self, spark):
        b = spark.createDataFrame(
            [(1, self.BASE), (2, None)], "doc_id long, text string"
        )
        novel1, store1 = dd.neardup_against_store(b, self._empty_store(spark))
        assert {r.doc_id for r in novel1.collect()} == {1, 2}
        # replaying the exact same batch: only the NULL passes again
        novel2, store2 = dd.neardup_against_store(b, store1)
        assert {r.doc_id for r in novel2.collect()} == {2}
        assert store2.count() == store1.count()

    def test_exact_duplicate_always_caught(self, spark):
        b1 = spark.createDataFrame([(1, self.BASE)], "doc_id long, text string")
        _, store1 = dd.neardup_against_store(b1, self._empty_store(spark))
        b2 = spark.createDataFrame([(9, self.BASE)], "doc_id long, text string")
        novel2, _ = dd.neardup_against_store(b2, store1)
        assert novel2.count() == 0

    def test_unrelated_docs_never_dropped(self, spark):
        texts = [
            (i, f"document number {i} talks about subject {i} in its own "
                f"particular words with token{i} sprinkled throughout the "
                f"entire body of this text specimen number {i}")
            for i in range(1, 8)
        ]
        b = spark.createDataFrame(texts, "doc_id long, text string")
        novel, store = dd.neardup_against_store(b, self._empty_store(spark))
        assert novel.count() == 7
        assert store.count() == 7

    def test_validates_params(self, spark):
        b = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        import pytest as _pytest

        with _pytest.raises(ValueError):
            dd.neardup_against_store(b, self._empty_store(spark), bands=7)
        with _pytest.raises(ValueError):
            dd.neardup_against_store(b, self._empty_store(spark), threshold=0.0)

    def test_wrong_length_store_signature_fails_fast(self, spark):
        """A store written under a different num_hashes must ERROR, not
        silently admit every historical near-dup: band keys hashed over
        different-length slices never collide, so without the guard an
        exact re-crawl of a stored doc would sail through as novel
        (ADVICE r5 #1). The guard lives inside the bucket expression so
        column pruning cannot drop it."""
        from pyspark.errors import PySparkException

        b1 = spark.createDataFrame([(1, self.BASE)], "doc_id long, text string")
        # a store produced with num_hashes=32 — wrong for the default 64
        _, short_store = dd.neardup_against_store(
            b1, self._empty_store(spark), num_hashes=32, bands=16
        )
        b2 = spark.createDataFrame([(9, self.BASE)], "doc_id long, text string")
        novel, _ = dd.neardup_against_store(b2, short_store)
        import pytest as _pytest

        with _pytest.raises(PySparkException, match="signature length mismatch"):
            novel.collect()


class TestCrossCorpusLshPairs:
    BASE = TestNeardupAgainstStore.BASE

    def test_planted_cross_pairs_found_exactly(self, spark):
        a = spark.createDataFrame(
            [
                (1, self.BASE),
                (2, "totally unrelated text on catalyst plan rewrites and "
                    "shuffle partition coalescing under adaptive execution"),
            ],
            "doc_id long, text string",
        )
        b = spark.createDataFrame(
            [
                (10, self.BASE.replace("summer", "winter")),  # ~ doc 1
                (11, "another distinct document about parquet footers and "
                     "column statistics used for file-level skipping"),
                (1, self.BASE),  # same id on both sides is a legit pair
            ],
            "doc_id long, text string",
        )
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in dd.cross_corpus_lsh_pairs(a, b).collect()
        }
        assert (1, 10) in got and 0.8 <= got[(1, 10)] < 1.0
        assert got[(1, 1)] == 1.0
        assert all(k[0] in (1, 2) and k[1] in (10, 11, 1) for k in got)
        assert (2, 11) not in got

    def test_matches_exact_pairs_on_testdata_split(self, spark):
        """LSH + exact verify must reproduce the exact all-pairs join
        across the even/odd testdata split (the oracle's construction)."""
        from real_estate_bigdata_spark.schema import load_table

        docs = load_table(spark, "/root/testdata/sf0.01", "documents")
        a = docs.filter(F.col("doc_id") % 2 == 0)
        b = docs.filter(F.col("doc_id") % 2 == 1)
        got = {
            (r.id_a, r.id_b) for r in dd.cross_corpus_lsh_pairs(a, b).collect()
        }
        exact = {
            (r.id_a, r.id_b) if r.id_a % 2 == 0 else (r.id_b, r.id_a)
            for r in dd.ngram_jaccard_pairs(docs).collect()
            if r.id_a % 2 != r.id_b % 2
        }
        assert got == exact

    def test_validates_banding(self, spark):
        a = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        import pytest as _pytest

        with _pytest.raises(ValueError):
            dd.cross_corpus_lsh_pairs(a, a, bands=7)


class TestClusterBalancedSample:
    def test_caps_dense_cluster_keeps_sparse_whole(self, spark):
        import numpy as np

        from real_estate_bigdata_spark.operators.similarity import (
            cluster_balanced_sample,
        )

        rng = np.random.default_rng(7)
        # dense blob around +e0 (80 pts), sparse blob around -e0 (5 pts)
        dense = [
            (i, (np.eye(8)[0] + 0.01 * rng.standard_normal(8)).tolist())
            for i in range(80)
        ]
        sparse = [
            (100 + i, (-np.eye(8)[0] + 0.01 * rng.standard_normal(8)).tolist())
            for i in range(5)
        ]
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in dense + sparse],
            "vec_id long, embedding array<float>",
        )
        out = cluster_balanced_sample(df, n_clusters=2, cap=10)
        counts = {
            r.cluster: r.n
            for r in out.groupBy("cluster").agg(F.count("*").alias("n")).collect()
        }
        assert all(n <= 10 for n in counts.values())
        # sparse side survives whole (5 <= cap), dense side capped at 10
        assert sorted(counts.values()) == [5, 10]
        # original schema preserved + cluster column
        assert set(out.columns) == {"vec_id", "embedding", "cluster"}

    def test_deterministic_and_pass_through_under_cap(self, spark):
        from real_estate_bigdata_spark.operators.similarity import (
            cluster_balanced_sample,
        )
        from real_estate_bigdata_spark.schema import load_table

        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        a = {r.vec_id for r in cluster_balanced_sample(emb, 4, cap=50).collect()}
        b = {
            r.vec_id
            for r in cluster_balanced_sample(emb.repartition(13), 4, cap=50).collect()
        }
        assert a == b
        # cap above any cluster size: everything survives
        total = emb.count()
        assert cluster_balanced_sample(emb, 4, cap=total).count() == total

    def test_validates_cap(self, spark):
        from real_estate_bigdata_spark.operators.similarity import (
            cluster_balanced_sample,
        )
        from real_estate_bigdata_spark.schema import load_table

        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        import pytest as _pytest

        with _pytest.raises(ValueError):
            cluster_balanced_sample(emb, 4, cap=0)


def test_hamming_banded_pairs_single_band_exact_match(spark):
    """Review fix: bands=1 (64-bit exact-match blocking) must not
    overflow the band-key mask literal."""
    sig = spark.createDataFrame(
        [(1, 5), (2, 5), (3, -9223372036854775808)], "id long, s long"
    )
    rows = dd.hamming_banded_pairs(sig, "s", max_hamming=0, bands=1, id_col="id")
    assert [(r.id_a, r.id_b, r.hamming) for r in rows.collect()] == [(1, 2, 0)]


def test_temperature_mixture_alpha_zero_integer_exact(spark):
    """Review fix: the alpha=0 endpoint reuses mixture_balance's
    integer floor-division — the double path differs by one bucket on
    ratios like 3/5000."""
    rows = (
        [(i, "big", 1) for i in range(5000)] + [(10000 + i, "small", 1) for i in range(3)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    flat = {r.doc_id for r in sp_sampling.temperature_mixture(df, alpha=0.0).collect()}
    bal = {r.doc_id for r in sp_sampling.mixture_balance(df).collect()}
    assert flat == bal


def test_neardup_store_same_id_recrawl_no_duplicate_store_row(spark):
    """Review fix: a same-id re-crawl whose rewrite falls BELOW the
    threshold passes as novel but must not add a second store row; the
    stored signature stays first-seen. NULL-id sigs never enter."""
    base = TestNeardupAgainstStore.BASE
    b1 = spark.createDataFrame([(1, base)], "doc_id long, text string")
    empty = spark.createDataFrame([], "doc_id long, sig array<bigint>")
    _, store1 = dd.neardup_against_store(b1, empty)
    rewrite = "an entirely rewritten listing with none of the original words left"
    b2 = spark.createDataFrame(
        [(1, rewrite), (None, base + " with a null id")],
        "doc_id long, text string",
    )
    novel2, store2 = dd.neardup_against_store(b2, store1)
    assert novel2.count() == 2  # rewrite + NULL-id doc both pass
    assert store2.count() == 1  # still one row for id 1, none for NULL
    assert store2.filter(F.col("doc_id").isNull()).count() == 0


class TestExtendIvfIndex:
    def test_extend_matches_full_build_assignment(self, spark):
        """Appending under FIXED centroids must give every new vector
        the same list a from-scratch assignment against those centroids
        would — extend(half2) ∪ build(half1).lists == assign(all)."""
        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        half1 = emb.filter(F.col("vec_id") % 2 == 0)
        half2 = emb.filter(F.col("vec_id") % 2 == 1)
        idx = sim.build_ivf_index(half1, n_lists=8)
        ext = sim.extend_ivf_index(idx, half2)
        # same centroids object, no refit
        assert ext.centroids is idx.centroids
        got = {r.neighbor_id: r["__list"] for r in ext.lists.collect()}
        want = {
            r.neighbor_id: r["__list"]
            for r in sim._assign_lists(
                emb.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").cast("array<double>").alias("c_vec"),
                ),
                idx.centroids,
            ).collect()
        }
        assert got == want

    def test_extend_drops_null_and_ragged(self, spark):
        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        idx = sim.build_ivf_index(emb, n_lists=4)
        bad = spark.createDataFrame(
            [(90001, None), (90002, [1.0, 2.0])],
            "vec_id long, embedding array<float>",
        )
        ext = sim.extend_ivf_index(idx, bad)
        assert ext.lists.count() == idx.lists.count()

    def test_extended_index_searches_new_vectors(self, spark):
        """A query equal to an appended vector must retrieve it."""
        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        half1 = emb.filter(F.col("vec_id") % 2 == 0)
        newbies = emb.filter(F.col("vec_id") % 2 == 1).limit(5)
        idx = sim.extend_ivf_index(sim.build_ivf_index(half1, n_lists=8), newbies)
        hits = sim.ivf_search(idx, newbies, k=1, n_probe=8)
        got = {r.query_id: r.neighbor_id for r in hits.collect()}
        # k=1 with self-match excluded? ivf_search semantics: check
        # the appended vector is at least REACHABLE: its exact twin is
        # itself, excluded, so assert every query returns SOME hit
        assert set(got) == {r.vec_id for r in newbies.select("vec_id").collect()}


class TestProductQuantization:
    def test_codes_shape_and_determinism(self, spark):
        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        cb = sim.train_pq(emb, m=8, ksub=16)
        assert cb.centroids.shape == (8, 16, 8)  # dim 64 / m 8
        codes_a = {r.vec_id: list(r.code) for r in sim.pq_encode(emb, cb).collect()}
        codes_b = {
            r.vec_id: list(r.code)
            for r in sim.pq_encode(emb.repartition(13), cb).collect()
        }
        assert codes_a == codes_b
        assert all(len(c) == 8 and all(0 <= x < 16 for x in c) for c in codes_a.values())
        # codebook itself is partition-independent (seeded-hash sample)
        cb2 = sim.train_pq(emb.repartition(7), m=8, ksub=16)
        assert (cb.centroids == cb2.centroids).all()

    def test_reranked_recall_vs_bruteforce(self, spark):
        """Two-stage ADC + exact rerank must recover most of the exact
        top-10 — the standard IVF-PQ quality bar."""
        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        queries = emb.limit(8)
        cb = sim.train_pq(emb, m=8, ksub=32)
        codes = sim.pq_encode(emb, cb)
        approx = sim.pq_topk(codes, cb, queries, k=10, rerank=emb, rerank_factor=5)
        exact = sim.brute_force_topk(emb, queries, k=10)
        a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
        e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
        assert len(a & e) / len(e) >= 0.6, len(a & e) / len(e)
        # reranked scores are EXACT cosines: every common pair agrees
        ax = {(r.query_id, r.neighbor_id): r.cosine for r in approx.collect()}
        ex = {(r.query_id, r.neighbor_id): r.cosine for r in exact.collect()}
        assert all(abs(ax[p] - ex[p]) < 1e-6 for p in a & e)

    def test_pure_adc_finds_planted_twins(self, spark):
        """Without rerank, ADC quantization noise can shuffle weak
        (near-orthogonal) neighbors, but a planted near-copy (cosine
        ~0.99) survives quantization: its code differs in few
        sub-spaces, so it must appear in the ADC top-10."""
        import numpy as np

        rng = np.random.default_rng(3)
        base = rng.standard_normal((200, 64))
        twins = base[:10] + 0.05 * rng.standard_normal((10, 64))
        rows = [
            (i, [float(x) for x in v]) for i, v in enumerate(base)
        ] + [
            (1000 + i, [float(x) for x in v]) for i, v in enumerate(twins)
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        queries = emb.filter(F.col("vec_id") < 10)
        cb = sim.train_pq(emb, m=8, ksub=32)
        codes = sim.pq_encode(emb, cb)
        hits = {
            (r.query_id, r.neighbor_id)
            for r in sim.pq_topk(codes, cb, queries, k=10).collect()
        }
        found = sum(1 for i in range(10) if (i, 1000 + i) in hits)
        assert found >= 8, found

    def test_validation(self, spark):
        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        import pytest as _pytest

        with _pytest.raises(ValueError):
            sim.train_pq(emb, m=7)  # 7 does not divide 64
        cb = sim.train_pq(emb, m=8, ksub=8)
        with _pytest.raises(ValueError):
            sim.pq_topk(sim.pq_encode(emb, cb), cb, emb.limit(1), k=0)


def test_pq_self_mask_keeps_full_k_and_null_ids_tolerated(spark):
    """Review fixes: (1) a query drawn from the corpus still gets k
    full neighbors in the pure-ADC path (self excluded BEFORE the
    per-batch truncation); (2) NULL-id corpus rows are dropped, not a
    pandas-worker crash; (3) non-integral ids fail fast."""
    import numpy as np
    import pytest as _pytest

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(40)]
    rows.append((None, [0.5] * 16))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = sim.train_pq(emb, m=4, ksub=8)
    codes = sim.pq_encode(emb, cb)
    assert codes.count() == 40  # NULL id silently excluded
    out = sim.pq_topk(codes, cb, emb.filter(F.col("vec_id") == 0), k=10)
    got = out.collect()
    assert len(got) == 10  # full k despite the query being in the corpus
    assert all(r.neighbor_id != 0 for r in got)

    strs = spark.createDataFrame([("a", [0.1] * 16)], "vec_id string, embedding array<float>")
    with _pytest.raises(TypeError):
        sim.pq_encode(strs, cb)


def test_pq_save_load_roundtrip(spark, tmp_path):
    """Persisted codebook+codes reload bit-identically and search the
    same — the build-once/search-many contract extended to PQ."""
    import numpy as np

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    cb = sim.train_pq(emb, m=8, ksub=16)
    codes = sim.pq_encode(emb, cb)
    sim.save_pq(cb, codes, str(tmp_path / "pq"))
    cb2, codes2 = sim.load_pq(spark, str(tmp_path / "pq"))
    assert (cb2.centroids == cb.centroids).all()
    a = {r.vec_id: list(r.code) for r in codes.collect()}
    b = {r.vec_id: list(r.code) for r in codes2.collect()}
    assert a == b
    q = emb.limit(3)
    r1 = {(r.query_id, r.rn): r.neighbor_id for r in sim.pq_topk(codes, cb, q, k=5).collect()}
    r2 = {(r.query_id, r.rn): r.neighbor_id for r in sim.pq_topk(codes2, cb2, q, k=5).collect()}
    assert r1 == r2


class TestIvfPq:
    def test_recall_tracks_pq_fullscan_and_prunes(self, spark):
        """IVF-PQ at full probe count covers the same candidates as
        plain PQ (near-identical output — ADC ties at the shortlist
        boundary may break differently under the semi-join's
        repartition, so compare with a tight overlap floor, not set
        equality); at n_probe < n_lists the candidate codes are a
        strict subset and recall stays usable."""
        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        queries = emb.orderBy("vec_id").limit(5)  # deterministic choice
        idx = sim.build_ivf_index(emb, n_lists=8)
        cb = sim.train_pq(emb, m=8, ksub=32)
        codes = sim.pq_encode(emb, cb)
        full = {
            (r.query_id, r.neighbor_id)
            for r in sim.pq_topk(codes, cb, queries, k=10, rerank=emb).collect()
        }
        allprobe = {
            (r.query_id, r.neighbor_id)
            for r in sim.ivfpq_topk(
                idx, cb, codes, queries, k=10, n_probe=8, rerank=emb
            ).collect()
        }
        assert len(allprobe & full) / len(full) >= 0.95
        pruned = {
            (r.query_id, r.neighbor_id)
            for r in sim.ivfpq_topk(
                idx, cb, codes, queries, k=10, n_probe=4, rerank=emb
            ).collect()
        }
        assert len(pruned & full) / len(full) >= 0.5

    def test_probed_scan_reads_partition_subset(self, spark, tmp_path):
        """With the persisted list layout, the probe filter prunes list
        directories at the scan: the files actually READ by the
        candidate-id side are a strict subset of the full index (same
        input_file_name technique as the ivf_search pruning test —
        asserting on plan strings is vacuous, '__list' appears in any
        scan of the lists)."""
        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        idx = sim.build_ivf_index(emb, n_lists=8)
        sim.save_ivf_index(idx, str(tmp_path / "idx"))
        loaded = sim.load_ivf_index(spark, str(tmp_path / "idx"))
        cb = sim.train_pq(emb, m=8, ksub=16)
        codes = sim.pq_encode(emb, cb)

        pruned_side = loaded.lists.filter(F.col("__list").isin([0, 1]))
        read_pruned = {
            r.f
            for r in pruned_side.select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        }
        read_all = {
            r.f
            for r in loaded.lists.select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        }
        assert read_pruned and read_pruned < read_all

        out = sim.ivfpq_topk(
            loaded, cb, codes, emb.orderBy("vec_id").limit(2), k=5, n_probe=2
        )
        assert out.count() > 0

    def test_mismatched_artifacts_fail_fast(self, spark):
        """Review fix: a codebook and index built on different
        embedding spaces must raise a clear error naming both dims,
        not an opaque numpy broadcast failure."""
        import pytest as _pytest

        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        idx = sim.build_ivf_index(emb, n_lists=4)
        short = emb.select(
            "vec_id", F.slice("embedding", 1, 32).alias("embedding")
        )
        cb32 = sim.train_pq(short, m=8, ksub=8)
        with _pytest.raises(ValueError, match="different embedding spaces"):
            sim.ivfpq_topk(idx, cb32, sim.pq_encode(short, cb32), emb.limit(1))


class TestNoveltyScores:
    def test_first_doc_fully_novel_copies_score_zero(self, spark):
        base = (
            "alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon"
        )
        df = spark.createDataFrame(
            [
                (1, base),            # owns every gram
                (2, base),            # exact copy: nothing novel
                (3, base + " extra tail words here"),  # mostly seen
                (4, "entirely different text about spark plans and joins"),
                (5, ""),              # no grams
                (6, None),            # no grams
            ],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in dd.novelty_scores(df).collect()}
        assert rows[1].novelty == 1.0
        assert rows[2].novelty == 0.0 and rows[2].n_grams > 0
        assert 0.0 < rows[3].novelty < 1.0
        assert rows[4].novelty == 1.0
        assert rows[5].n_grams == 0 and rows[5].novelty is None
        assert rows[6].n_grams == 0 and rows[6].novelty is None

    def test_null_ids_excluded_and_determinism(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e f"), (None, "a b c d e f")],
            "doc_id long, text string",
        )
        out = dd.novelty_scores(df).collect()
        # NULL-id doc excluded entirely — cannot own or consume grams
        assert [r.doc_id for r in out] == [1]
        assert out[0].novelty == 1.0
        a = {(r.doc_id, r.novelty) for r in dd.novelty_scores(df).collect()}
        b = {
            (r.doc_id, r.novelty)
            for r in dd.novelty_scores(df.repartition(7)).collect()
        }
        assert a == b

    def test_rejects_bad_n(self, spark):
        import pytest as _pytest

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with _pytest.raises(ValueError):
            dd.novelty_scores(df, n=0)


class TestLabelAgreementIvf:
    """IVF-blocked 1-NN label audit (VERDICT r6 task #4): exact-path
    equality at full probe, planted-mislabel detection when pruned, and
    the same validation contract."""

    def test_full_probe_equals_exact_path(self, spark):
        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        exact = {
            r.vec_id: (r.nn_id, r.nn_label, r.agree)
            for r in sim.label_agreement(emb).collect()
        }
        ivf = {
            r.vec_id: (r.nn_id, r.nn_label, r.agree)
            for r in sim.label_agreement_ivf(
                emb, n_lists=8, n_probe=8
            ).collect()
        }
        assert ivf == exact  # full probe == full candidate set

    def test_pruned_probe_detects_planted_mislabel(self, spark):
        import random

        rng = random.Random(7)

        def vec(base, eps):
            return [b + rng.uniform(-eps, eps) for b in base]

        a = [1.0, 0.0, 0.0, 0.0]
        b = [0.0, 1.0, 0.0, 0.0]
        rows = (
            [(i, vec(a, 0.01), 0) for i in range(8)]
            + [(10 + i, vec(b, 0.01), 1) for i in range(8)]
            + [(99, vec(a, 0.01), 1)]  # A-cluster geometry, B label
        )
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        out = {
            r.vec_id: r
            for r in sim.label_agreement_ivf(
                emb, n_lists=4, n_probe=1
            ).collect()
        }
        # the mislabel sits inside the A cluster: its probed list IS the
        # A region, so pruning cannot hide it
        assert out[99].agree is False and out[99].nn_label == 0
        clean = [r for i, r in out.items() if i != 99]
        assert sum(not r.agree for r in clean) <= 1

    def test_pruned_probe_agreement_rate_near_exact(self, spark):
        """n_probe < n_lists may miss a true 1-NN, but on real data the
        vast majority of verdicts must match the exact audit."""
        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        exact = {r.vec_id: r.agree for r in sim.label_agreement(emb).collect()}
        pruned = {
            r.vec_id: r.agree
            for r in sim.label_agreement_ivf(
                emb, n_lists=8, n_probe=4
            ).collect()
        }
        assert set(pruned) == set(exact)  # every vector still audited
        same = sum(pruned[i] == exact[i] for i in exact)
        assert same / len(exact) >= 0.9

    def test_validates_integral_columns(self, spark):
        import pytest as _pytest

        emb = spark.createDataFrame(
            [("x", [0.1, 0.2], 0)],
            "vec_id string, embedding array<float>, label int",
        )
        with _pytest.raises(TypeError, match="integral"):
            sim.label_agreement_ivf(emb)

    def test_exact_path_error_points_here(self, spark):
        import pytest as _pytest

        emb = spark.createDataFrame(
            [(i, [float(i), 1.0], 0) for i in range(5)],
            "vec_id long, embedding array<float>, label int",
        )
        with _pytest.raises(ValueError, match="label_agreement_ivf"):
            sim.label_agreement(emb, max_rows=3)

    def test_validates_null_ids_and_labels(self, spark):
        """ADVICE r7: a NULL id/label must raise the same clear contract
        error as the exact path, not crash the pandas kernel's int64
        pack executor-side."""
        import pytest as _pytest

        rows = [(i, [float(i), 1.0], 0) for i in range(5)]
        null_id = spark.createDataFrame(
            rows + [(None, [0.5, 0.5], 1)],
            "vec_id long, embedding array<float>, label int",
        )
        with _pytest.raises(ValueError, match="non-null"):
            sim.label_agreement_ivf(null_id, n_lists=2, n_probe=2)
        null_lab = spark.createDataFrame(
            rows + [(9, [0.5, 0.5], None)],
            "vec_id long, embedding array<float>, label int",
        )
        with _pytest.raises(ValueError, match="non-null"):
            sim.label_agreement_ivf(null_lab, n_lists=2, n_probe=2)


def test_ngram_containment_pairs_catches_subset_jaccard_misses(spark):
    """A short doc quoted wholesale inside a long one: containment of
    the short side is 1.0 while jaccard stays below any sane threshold
    — the asymmetric relationship the operator exists for."""
    import pytest

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),                    # 3 distinct 3-grams
            (2, "a b c d e f g h i j k l"),      # 10, superset of doc 1's
            (3, "z y x w v u"),                  # unrelated
        ],
        "doc_id long, text string",
    )
    pairs = dd.ngram_containment_pairs(docs, n=3, threshold=0.9).collect()
    assert len(pairs) == 1
    r = pairs[0]
    assert (r.id_a, r.id_b) == (1, 2)
    assert r.containment_a == 1.0
    assert r.containment_b == pytest.approx(3 / 10, abs=1e-6)
    assert r.overlap == 1.0
    # jaccard on the same corpus: 3/10 = 0.3, invisible at 0.8
    assert dd.ngram_jaccard_pairs(docs, n=3, threshold=0.8).count() == 0
    with pytest.raises(ValueError):
        dd.ngram_containment_pairs(docs, threshold=0.0)


def test_containment_cap_bounds_viral_shingle_blowup(spark):
    """r10 skewed-posting pin for the containment family: one viral
    3-gram shared by EVERY doc otherwise makes every doc pair a
    candidate (k(k-1)/2 expansion on a single shuffle key — the 100 TB
    failure mode); the stop-shingle cap must cut exactly that posting
    while real subset duplication (many RARE shared shingles, each
    posting far under the cap) survives untouched."""
    viral = []
    for i in range(60):
        viral.append(
            (i, f"common viral marker u{i}a u{i}b u{i}c u{i}d u{i}e")
        )
    # a genuine subset pair: doc 100's text embeds verbatim in doc 101
    quoted = "q1 q2 q3 q4 q5 q6"
    viral.append((100, quoted))
    viral.append((101, quoted + " tail1 tail2 tail3 tail4"))
    docs = spark.createDataFrame(viral, "doc_id long, text string")

    uncapped = dd.ngram_containment_pairs(docs, n=3, threshold=0.15)
    capped = dd.ngram_containment_pairs(
        docs, n=3, threshold=0.15, max_posting_len=8
    )
    got_un = {(r.id_a, r.id_b): r.overlap for r in uncapped.collect()}
    got_cap = {(r.id_a, r.id_b): r.overlap for r in capped.collect()}

    # uncapped: the viral shingle alone pairs all 60 boilerplate docs
    # (1 shared of 6 shingles each = overlap 1/6 >= 0.15) + the real pair
    assert len(got_un) == 60 * 59 // 2 + 1
    # capped: the 62-doc viral posting is dropped; ONLY the real subset
    # pair remains, its rare-shingle postings (len 2) under the cap
    assert set(got_cap) == {(100, 101)}
    assert got_cap[(100, 101)] == 1.0
    # cap is conservative: subset of pairs, never a raised score
    assert set(got_cap) <= set(got_un)
    assert all(got_cap[p] <= got_un[p] + 1e-9 for p in got_cap)


def test_materialize_reliable_matches_local(spark, tmp_path):
    """The checkpoint fleet's fault-tolerance setting: the session conf
    spark.real_estate_bigdata.materialize=reliable routes the shared
    intermediate through a durable spark checkpoint (executor loss
    re-reads instead of failing the job), writes it to the checkpoint
    dir, and must be row-identical to the default localCheckpoint
    path; an unknown mode fails loudly."""
    import pytest

    from real_estate_bigdata_spark.util import MATERIALIZE_CONF, checkpoint_frame

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g h"),
            (3, "a b c d e f x y"),
            (4, "p q r s t u v w"),
        ],
        "doc_id long, text string",
    )
    ckpt = tmp_path / "ckpt"
    spark.sparkContext.setCheckpointDir(str(ckpt))
    local = dd.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    spark.conf.set(MATERIALIZE_CONF, "reliable")
    try:
        durable = dd.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
        # durable still references its checkpoint, so the cleaner keeps it
        assert [p for p in ckpt.rglob("part-*") if p.is_file()]
        assert sorted(map(tuple, local.collect())) == sorted(
            map(tuple, durable.collect())
        )
    finally:
        spark.conf.unset(MATERIALIZE_CONF)
    spark.conf.set(MATERIALIZE_CONF, "ramdisk")
    try:
        with pytest.raises(ValueError, match="materialize"):
            checkpoint_frame(docs)
    finally:
        spark.conf.unset(MATERIALIZE_CONF)
