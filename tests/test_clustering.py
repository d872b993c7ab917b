"""Connected-components semantics the oracle can't fully pin: transitive
chains, multi-component graphs, determinism under repartitioning,
survivor policy, the star fallback when hash-min does not converge,
and the union-find threshold boundary."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_estate_bigdata_spark.operators import clustering as cl
from real_estate_bigdata_spark.operators.dedup import minhash_lsh_pairs
from real_estate_bigdata_spark.schema import load_table

SF = "/root/testdata/sf0.01"


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long")


def _edges(spark, rows):
    """The checkpointed (u, v) frame the distributed label paths read."""
    return spark.createDataFrame(rows, "u long, v long").localCheckpoint(eager=True)


def test_transitive_chain_collapses_to_one_cluster(spark):
    # 1-2, 2-3, 3-4: (1,4) never paired but same component; separate 7-8
    got = {
        (r.id, r.cluster_id)
        for r in cl.connected_components(
            _pairs(spark, [(1, 2), (2, 3), (3, 4), (7, 8)])
        ).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (7, 7), (8, 7)}


def test_labels_independent_of_partitioning_and_order(spark):
    rows = [(10, 2), (2, 30), (5, 6), (30, 40), (6, 50)]
    base = cl.connected_components(_pairs(spark, rows))
    shuffled = cl.connected_components(
        _pairs(spark, rows[::-1]).repartition(7)
    )
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, shuffled.collect()))


def test_diameter_equal_to_max_iter_converges(spark):
    # path 1-2-3-4 has diameter 3: labels change for exactly 3 rounds,
    # the allowed extra confirming round must NOT count against max_iter
    got = {
        (r.id, r.cluster_id)
        for r in cl.connected_components(
            _pairs(spark, [(1, 2), (2, 3), (3, 4)]), max_iter=3
        ).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1)}


def test_non_convergence_raises(spark):
    # path graph of diameter 5 with max_iter=2 cannot finish under
    # hash-min; connected_components falls back to star contraction
    rows = [(i, i + 1) for i in range(1, 7)]
    chain = _pairs(spark, rows)
    assert cl._hashmin_labels(_edges(spark, rows), 2) is None
    with pytest.raises(ValueError):
        cl.connected_components(chain, max_iter=0)
    # distributed path forced: the star fallback must rescue it
    got = {
        (r.id, r.cluster_id)
        for r in cl.connected_components(
            chain, max_iter=2, small_graph_threshold=0
        ).collect()
    }
    assert got == {(i, 1) for i in range(1, 8)}


def test_star_labels_match_hashmin_on_random_graph(spark):
    import random

    rng = random.Random(42)
    rows = [
        (rng.randrange(1, 200), rng.randrange(1, 200))
        for _ in range(150)
    ]
    rows = [(a, b) for a, b in rows if a != b]
    cp = _edges(spark, rows)
    hm = sorted(map(tuple, cl._hashmin_labels(cp, 25).collect()))
    st = sorted(map(tuple, cl._star_labels(cp).collect()))
    assert hm == st
    # the distributed policy (hash-min converges here) agrees with both
    dist = sorted(
        map(
            tuple,
            cl.connected_components(
                _pairs(spark, rows), small_graph_threshold=0
            ).collect(),
        )
    )
    assert dist == hm
    # the default (bounded union-find fast path) must agree with both
    uf = sorted(
        map(tuple, cl.connected_components(_pairs(spark, rows)).collect())
    )
    assert uf == hm


def test_star_converges_on_10k_node_chain(spark):
    """The high-diameter case hash-min cannot finish (VERDICT r2 task
    #5): a 10k-node path has diameter 9999, but star contraction is
    O(log²n) rounds, so the star fallback must converge and label every
    node with the chain minimum."""
    n = 10_000
    chain = _pairs(spark, [(i, i + 1) for i in range(1, n)])
    cc = cl.connected_components(chain, max_iter=3, small_graph_threshold=0)
    agg = cc.agg(
        F.count("*").alias("n"),
        F.countDistinct("cluster_id").alias("k"),
        F.min("cluster_id").alias("lo"),
        F.max("cluster_id").alias("hi"),
    ).first()
    assert (agg.n, agg.k, agg.lo, agg.hi) == (n, 1, 1, 1)


def test_survivors_one_per_cluster_plus_singletons(spark):
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(1, 10)], "doc_id long, text string"
    )
    out = cl.near_dup_survivors(docs, _pairs(spark, [(1, 2), (2, 3), (5, 6)]))
    assert {r.doc_id for r in out.collect()} == {1, 4, 5, 7, 8, 9}
    assert out.columns == docs.columns


def test_real_corpus_clusters_match_pairs(spark):
    """Every emitted pair lands inside one cluster, and every clustered
    doc appears in >= 1 pair (no invented members)."""
    docs = load_table(spark, SF, "documents")
    pairs = minhash_lsh_pairs(docs)
    cc = cl.connected_components(pairs)
    label = {r.id: r.cluster_id for r in cc.collect()}
    pr = [(r.id_a, r.id_b) for r in pairs.collect()]
    assert pr  # planted near-dups make this non-trivial
    assert all(label[a] == label[b] for a, b in pr)
    assert set(label) == {i for p in pr for i in p}


def test_cluster_safe_split_no_leakage_and_covers_all(spark):
    """Every near-dup cluster lands wholly in one split; every doc gets
    exactly one split; singleton assignment matches plain hash_split
    (same key, same bucketing), so only clustered docs can move."""
    from real_estate_bigdata_spark.operators.dedup import minhash_lsh_pairs
    from real_estate_bigdata_spark.operators.sampling import hash_split

    docs = load_table(spark, SF, "documents")
    pairs = minhash_lsh_pairs(docs)
    out = cl.cluster_safe_split(docs, pairs, {"train": 0.9, "holdout": 0.1})
    split = {r.doc_id: r.split for r in out.select("doc_id", "split").collect()}
    assert len(split) == docs.count()
    pr = [(r.id_a, r.id_b) for r in pairs.collect()]
    assert pr
    assert all(split[a] == split[b] for a, b in pr)
    clustered = {i for p in pr for i in p}
    plain = {
        r.doc_id: r.split
        for r in hash_split(docs, {"train": 0.9, "holdout": 0.1})
        .select("doc_id", "split")
        .collect()
    }
    for d, s in split.items():
        if d not in clustered:
            assert s == plain[d]


def test_unionfind_fast_path_matches_distributed_incl_self_pairs(spark):
    """The bounded driver-side fast path must produce byte-identical
    labels to both distributed algorithms, including self-pair-only
    vertices (singleton labels) and just-over-threshold handoff."""
    import random

    rng = random.Random(99)
    rows = [(rng.randrange(1, 300), rng.randrange(1, 300)) for _ in range(200)]
    rows += [(500, 500), (501, 501)]  # self-pair-only vertices
    df = _pairs(spark, rows)
    fast = sorted(map(tuple, cl.connected_components(df).collect()))
    slow = sorted(
        map(
            tuple,
            cl.connected_components(df, small_graph_threshold=0).collect(),
        )
    )
    assert fast == slow
    # threshold below the edge count: distributed path takes over, same
    # labels either way
    over = sorted(
        map(
            tuple,
            cl.connected_components(df, small_graph_threshold=10).collect(),
        )
    )
    assert over == fast


def test_small_graph_threshold_boundary(spark, monkeypatch):
    """At ``small_graph_threshold`` equal to the edge count the labels
    come from driver-side union-find; one below, from the distributed
    path. Both label sets are identical, self-pair-only vertex
    included."""
    rows = [(1, 2), (2, 3), (7, 8), (9, 9), (3, 1)]
    n = len(rows)
    calls = []
    for name in ("_unionfind_labels", "_hashmin_labels"):
        real = getattr(cl, name)

        def spy(*args, _real=real, _name=name):
            calls.append(_name)
            return _real(*args)

        monkeypatch.setattr(cl, name, spy)
    got = {}
    for th, path in ((n, "_unionfind_labels"), (n - 1, "_hashmin_labels")):
        calls.clear()
        got[th] = sorted(
            map(
                tuple,
                cl.connected_components(
                    _pairs(spark, rows), small_graph_threshold=th
                ).collect(),
            )
        )
        assert calls == [path], th
    assert got[n] == got[n - 1]
    assert got[n] == [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7), (9, 9)]


def test_unionfind_tolerates_null_endpoints(spark):
    """NULL edge endpoints never connect anything on the distributed
    paths (NULL keys match no join row); the fast path must mirror that
    instead of raising TypeError (review r5)."""
    df = spark.createDataFrame(
        [(1, 2), (None, 3), (4, None)], "id_a long, id_b long"
    )
    fast = sorted(
        map(tuple, cl.connected_components(df).collect()),
        key=lambda t: (t[0] is None, t),
    )
    slow = sorted(
        map(
            tuple,
            cl.connected_components(df, small_graph_threshold=0).collect(),
        ),
        key=lambda t: (t[0] is None, t),
    )
    assert fast == slow
    labels = dict(fast)
    assert labels[1] == 1 and labels[2] == 1  # real edge still unions
    assert labels[3] == 3 and labels[4] == 4  # NULL neighbors isolate


class TestBestSurvivors:
    """Quality-priority survivor policy (r11): argmax score per
    cluster, min-id tie-break, NULL scores lose, singletons pass."""

    def _fixture(self, spark):
        docs = spark.createDataFrame(
            [
                (1, 10.0), (2, 30.0), (3, 30.0),   # cluster {1,2,3}
                (4, None), (5, 1.0),               # cluster {4,5}
                (6, None), (7, None),              # cluster {6,7}: all NULL
                (8, 99.0),                         # singleton
            ],
            "doc_id long, score double",
        )
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (4, 5), (6, 7)], "id_a long, id_b long"
        )
        return docs, pairs

    def test_argmax_tiebreak_null_singleton(self, spark):
        docs, pairs = self._fixture(spark)
        got = sorted(
            r.doc_id
            for r in cl.best_survivors(docs, pairs, "score").collect()
        )
        # {1,2,3}: 2 and 3 tie at 30 -> min id 2; {4,5}: NULL loses -> 5;
        # {6,7}: all NULL -> min id 6; 8 singleton survives
        assert got == [2, 5, 6, 8]

    def test_full_schema_and_partition_independence(self, spark):
        docs, pairs = self._fixture(spark)
        out = cl.best_survivors(docs.repartition(7), pairs, "score")
        assert out.columns == docs.columns
        assert sorted(r.doc_id for r in out.collect()) == [2, 5, 6, 8]

    def test_validates_score_col(self, spark):
        docs, pairs = self._fixture(spark)
        with pytest.raises(ValueError, match="score_col"):
            cl.best_survivors(docs, pairs, "nope")

    def test_matches_minid_policy_when_scores_equal(self, spark):
        docs, pairs = self._fixture(spark)
        flat = docs.withColumn("score", F.lit(1.0))
        best = sorted(
            r.doc_id for r in cl.best_survivors(flat, pairs, "score").collect()
        )
        minid = sorted(
            r.doc_id
            for r in cl.near_dup_survivors(flat, pairs).collect()
        )
        assert best == minid


def test_source_overlap_matrix_buckets_unordered_pairs(spark):
    """r11: side-a is always the lexicographically-lesser source; the
    diagonal counts within-source duplication; endpoint distincts are
    per side."""
    from real_estate_bigdata_spark.operators.dedup import source_overlap_matrix

    docs = spark.createDataFrame(
        [(1, "sA"), (2, "sB"), (3, "sA"), (4, "sA"), (5, "sB")],
        "doc_id long, source string",
    )
    # (1,2): A-B; (2,3): A-B reversed endpoint order; (1,3): A-A; (2,5): B-B
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (2, 5)], "id_a long, id_b long"
    )
    got = {
        (r.source_a, r.source_b): (r.n_pairs, r.n_docs_a, r.n_docs_b)
        for r in source_overlap_matrix(docs, pairs).collect()
    }
    # A-B pairs: (1,2) -> a-side doc 1; (2,3) -> a-side doc 3 (source A
    # is the lesser, so the A endpoint is side a regardless of id order)
    assert got[("sA", "sB")] == (2, 2, 1)
    assert got[("sA", "sA")] == (1, 1, 1)
    assert got[("sB", "sB")] == (1, 1, 1)


class TestPagerank:
    """r12: PageRank semantics on hand-checkable graphs, an independent
    numpy power-iteration mirror, distributed-vs-fast parity, and the
    sum-to-1 / dedup / null contracts."""

    @staticmethod
    def _mirror(edge_list, damping=0.85, n_iter=50):
        """Independent dense power iteration (matrix formulation)."""
        import numpy as np

        nodes = sorted({a for a, _ in edge_list} | {b for _, b in edge_list})
        idx = {v: i for i, v in enumerate(nodes)}
        n = len(nodes)
        m = np.zeros((n, n))
        deg = {}
        dedup = sorted({(a, b) for a, b in edge_list if a != b})
        for a, _ in dedup:
            deg[a] = deg.get(a, 0) + 1
        for a, b in dedup:
            m[idx[b], idx[a]] = 1.0 / deg[a]
        r = np.full(n, 1.0 / n)
        for _ in range(n_iter):
            dangling = sum(r[idx[v]] for v in nodes if v not in deg)
            r = (1 - damping) / n + damping * (m @ r + dangling / n)
        return {v: r[idx[v]] for v in nodes}

    def _df(self, spark, edge_list):
        return spark.createDataFrame(edge_list, "src long, dst long")

    def test_two_cycle_is_uniform(self, spark):
        from real_estate_bigdata_spark.operators.clustering import pagerank

        got = {r.node: r.rank for r in pagerank(
            self._df(spark, [(1, 2), (2, 1)])).collect()}
        assert got == {1: 0.5, 2: 0.5}

    def test_directed_cycle_exact_uniform(self, spark):
        from real_estate_bigdata_spark.operators.clustering import pagerank

        k = 5
        edges = [(i, (i + 1) % k) for i in range(k)]
        got = {r.node: r.rank for r in pagerank(self._df(spark, edges)).collect()}
        assert all(abs(v - 1 / k) < 1e-9 for v in got.values()), got

    def test_hub_outranks_spokes_and_matches_mirror(self, spark):
        import pytest as _pytest

        from real_estate_bigdata_spark.operators.clustering import pagerank

        # spokes 1..6 -> hub 0; hub -> 1 (so the hub is not dangling)
        edges = [(i, 0) for i in range(1, 7)] + [(0, 1)]
        # identical fixed budgets: at damping 0.85 the residual after k
        # rounds is ~0.85^k, so mismatched budgets show at 1e-6
        got = {
            r.node: r.rank
            for r in pagerank(
                self._df(spark, edges), tol=None, max_iter=50
            ).collect()
        }
        want = self._mirror(edges, n_iter=50)
        assert got[0] == max(got.values())
        for v, r in got.items():
            assert r == _pytest.approx(want[v], abs=1e-6), v
        assert sum(got.values()) == _pytest.approx(1.0, abs=1e-7)

    def test_dangling_mass_redistributed_sum_one(self, spark):
        import pytest as _pytest

        from real_estate_bigdata_spark.operators.clustering import pagerank

        # 2 is dangling; ranks must still sum to 1 and match the mirror
        edges = [(1, 2), (3, 2), (3, 1)]
        got = {r.node: r.rank for r in pagerank(
            self._df(spark, edges), tol=None, max_iter=30).collect()}
        want = self._mirror(edges, n_iter=30)
        assert sum(got.values()) == _pytest.approx(1.0, abs=1e-7)
        for v in got:
            assert got[v] == _pytest.approx(want[v], abs=1e-6)

    def test_parallel_edges_and_self_loops_ignored(self, spark):
        from real_estate_bigdata_spark.operators.clustering import pagerank

        base = [(1, 2), (2, 1)]
        noisy = base + [(1, 2), (1, 2), (1, 1), (2, 2)]
        a = {r.node: r.rank for r in pagerank(self._df(spark, base)).collect()}
        b = {r.node: r.rank for r in pagerank(self._df(spark, noisy)).collect()}
        assert a == b

    def test_null_endpoints_dropped_and_empty(self, spark):
        from real_estate_bigdata_spark.operators.clustering import pagerank

        df = spark.createDataFrame(
            [(1, 2), (2, 1), (None, 1), (2, None)], "src long, dst long"
        )
        got = {r.node: r.rank for r in pagerank(df).collect()}
        assert got == {1: 0.5, 2: 0.5}
        empty = spark.createDataFrame([], "src long, dst long")
        assert pagerank(empty).count() == 0

    def test_distributed_path_matches_fast(self, spark):
        import random as _random

        import pytest as _pytest

        from real_estate_bigdata_spark.operators.clustering import pagerank

        rng = _random.Random(17)
        edges = list({(rng.randrange(40), rng.randrange(40)) for _ in range(150)})
        df = self._df(spark, edges).repartition(5)
        for kw in ({"tol": None, "max_iter": 8}, {"tol": 1e-8, "max_iter": 40}):
            fast = {r.node: r.rank for r in pagerank(df, **kw).collect()}
            dist = {
                r.node: r.rank
                for r in pagerank(df, small_edges_threshold=0, **kw).collect()
            }
            assert set(fast) == set(dist)
            for v in fast:
                assert fast[v] == _pytest.approx(dist[v], abs=1e-7), (kw, v)

    def test_small_edges_threshold_boundary(self, spark, monkeypatch):
        """At ``small_edges_threshold`` equal to the edge count the
        ranks come from the numpy path after the raw-edge probe; one
        below, from the distributed loop. The double probe: one raw
        edge over the threshold that dedupes to the threshold falls
        through the raw probe and takes the numpy path on the distinct
        probe. All three give the same ranks."""
        edges = [(1, 2), (2, 3), (3, 1), (4, 1), (5, 4), (2, 5)]
        n = len(edges)
        probes = []
        real = cl.bounded_collect

        def spy(df, k):
            rows = real(df, k)
            probes.append(None if rows is None else len(rows))
            return rows

        monkeypatch.setattr(cl, "bounded_collect", spy)
        got = {}
        for case, rows, th, want_probes in (
            ("raw", edges, n, [n]),
            ("distributed", edges, n - 1, [None, None]),
            ("distinct", edges + [(1, 2)], n, [None, n]),
        ):
            probes.clear()
            got[case] = {
                r.node: r.rank
                for r in cl.pagerank(
                    self._df(spark, rows), max_iter=5, tol=None,
                    small_edges_threshold=th,
                ).collect()
            }
            assert probes == want_probes, case
        for case in ("raw", "distinct"):
            assert set(got[case]) == set(got["distributed"])
            for v, rank in got[case].items():
                assert rank == pytest.approx(got["distributed"][v], abs=1e-7)

    def test_validation(self, spark):
        import pytest as _pytest

        from real_estate_bigdata_spark.operators.clustering import pagerank

        df = self._df(spark, [(1, 2)])
        with _pytest.raises(ValueError, match="max_iter"):
            pagerank(df, max_iter=0)
        with _pytest.raises(ValueError, match="damping"):
            pagerank(df, damping=1.0)


class TestPagerankWeighted:
    """r12: weighted edges — mass splits proportionally to out-strength;
    parallel edges SUM under weight_col (vs deduping without it)."""

    def test_weight_ratio_drives_rank_ratio(self, spark):
        import pytest as _pytest

        from real_estate_bigdata_spark.operators.clustering import pagerank

        # A sends 3x more mass to B than to C; B and C both return to A
        df = spark.createDataFrame(
            [(1, 2, 3.0), (1, 3, 1.0), (2, 1, 1.0), (3, 1, 1.0)],
            "src long, dst long, w double",
        )
        got = {
            r.node: r.rank
            for r in pagerank(df, weight_col="w", tol=None, max_iter=60).collect()
        }
        assert got[2] > got[3]
        # closed form at the fixpoint: in-flow(B) = 0.75*d*r_A vs
        # in-flow(C) = 0.25*d*r_A, both + teleport
        t, d = 0.15 / 3, 0.85
        assert (got[2] - t) / (got[3] - t) == _pytest.approx(3.0, rel=1e-4)
        assert sum(got.values()) == _pytest.approx(1.0, abs=1e-7)

    def test_parallel_edges_sum_as_weights(self, spark):
        from real_estate_bigdata_spark.operators.clustering import pagerank

        # 3 parallel (1->2) edges with weight 1 == one edge with weight 3
        multi = spark.createDataFrame(
            [(1, 2, 1.0)] * 3 + [(1, 3, 1.0), (2, 1, 1.0), (3, 1, 1.0)],
            "src long, dst long, w double",
        )
        single = spark.createDataFrame(
            [(1, 2, 3.0), (1, 3, 1.0), (2, 1, 1.0), (3, 1, 1.0)],
            "src long, dst long, w double",
        )
        a = {r.node: r.rank for r in pagerank(multi, weight_col="w").collect()}
        b = {r.node: r.rank for r in pagerank(single, weight_col="w").collect()}
        assert a == b

    def test_invalid_weights_dropped_and_unweighted_unchanged(self, spark):
        from real_estate_bigdata_spark.operators.clustering import pagerank

        dirty = spark.createDataFrame(
            [(1, 2, 1.0), (2, 1, 1.0), (1, 3, None), (1, 3, -5.0), (1, 3, 0.0)],
            "src long, dst long, w double",
        )
        got = {r.node: r.rank for r in pagerank(dirty, weight_col="w").collect()}
        assert got == {1: 0.5, 2: 0.5}  # the invalid 1->3 edges vanish
        # without weight_col the same frame DEDUPES parallel edges
        clean = {
            r.node: r.rank
            for r in pagerank(dirty.select("src", "dst")).collect()
        }
        assert set(clean) == {1, 2, 3}

    def test_weighted_distributed_matches_fast(self, spark):
        import random as _random

        import pytest as _pytest

        from real_estate_bigdata_spark.operators.clustering import pagerank

        rng = _random.Random(23)
        rows = [
            (rng.randrange(30), rng.randrange(30), float(rng.randint(1, 5)))
            for _ in range(120)
        ]
        df = spark.createDataFrame(rows, "src long, dst long, w double")
        fast = {
            r.node: r.rank
            for r in pagerank(df, weight_col="w", tol=None, max_iter=6).collect()
        }
        dist = {
            r.node: r.rank
            for r in pagerank(
                df, weight_col="w", tol=None, max_iter=6,
                small_edges_threshold=0,
            ).collect()
        }
        assert set(fast) == set(dist)
        for v in fast:
            assert fast[v] == _pytest.approx(dist[v], abs=1e-7), v
