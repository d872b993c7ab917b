"""Duplicate-cluster resolution: connected components over a candidate
pair stream, plus cluster-aware survivor selection.

The dedup family (`operators.dedup`) emits verified near-duplicate
PAIRS (id_a, id_b, score). Removing duplicates needs one more step a
pair list can't express: transitive grouping — if A~B and B~C then
{A,B,C} is one cluster and exactly one survivor should remain even
though (A,C) was never emitted as a pair. This module closes that gap.
The reference repo has no analogue (its 667 LoC are crawl/count
pipelines — see `map_reduce/mapper.py`, `kafka_cc/`); this is a
north-star training-pipeline operator like the rest of the dedup
family.

Scale posture (100 TB): the input is the VERIFIED pair stream — tiny
relative to the corpus (near-dup rate x corpus, not corpus²) — and the
algorithm is hash-min label propagation: each iteration is one
shuffle-join of the edge list against the current labels plus one
aggregate, both on the vertex id. Iterations needed = component
diameter, and near-duplicate clusters are dense by construction
(members pairwise-similar to a shared ancestor), so diameters are
single-digit; ``max_iter`` guards the pathological chain. Each
iteration is localCheckpoint-ed to truncate lineage — without it the
plan doubles per iteration and the job dies on plan size long before
data size. For high-diameter graphs (not dedup-shaped, but callers may
feed arbitrary edge lists) the O(log²n)-round large-star/small-star
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14) is implemented as the fallback: ``connected_components``
runs hash-min for ``max_iter`` label-changing rounds and, instead of
raising, switches to star contraction on the already-checkpointed edge
set. Both produce identical labels (component minimum), so the switch
is purely a round-count/shuffle-width trade: hash-min does one cheap
join+agg per diameter step, star contraction rewires edges toward the
minimum and converges in logarithmic rounds regardless of diameter. On
dedup graphs hash-min is the cheaper of the two, so it runs first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from real_estate_bigdata_spark.util import bounded_collect, checkpoint_frame, local_frame

__all__ = [
    "connected_components",
    "near_dup_survivors",
    "cluster_safe_split",
    "best_survivors",
    "pagerank",
]


#: pair count at or below which components are resolved driver-side
#: (union-find over the collected edge list, ~32 B/edge => <= ~3 MB at
#: the default). The VERIFIED pair stream is near-dup-rate sized, so
#: most real corpora fit; the distributed paths are the fallback, not
#: the common case. Bounded + LIMIT-probed like label_agreement's
#: snapshot.
SMALL_GRAPH_THRESHOLD = 100_000


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    out_id: str = "id",
    out_label: str = "cluster_id",
    small_graph_threshold: int = SMALL_GRAPH_THRESHOLD,
) -> DataFrame:
    """(id, cluster_id) for every vertex appearing in ``pairs``, where
    ``cluster_id`` is the MINIMUM vertex id of its connected component
    — deterministic regardless of partitioning, pair order, or
    the path taken. Vertices not in any pair (singletons) are absent
    by construction; callers wanting them keep ``left_anti`` of the
    corpus against this result.

    Path policy, in order:

    - union-find on the driver when the pair set has at most
      ``small_graph_threshold`` edges (below);
    - hash-min — min-label propagation; one join + one aggregate per
      round, rounds = component diameter. The cheap distributed path
      for dedup-shaped graphs (dense clusters, single-digit diameter);
    - star contraction (Kiveris et al. large-star/small-star) if
      hash-min hasn't converged after ``max_iter`` rounds, restarted on
      the same checkpointed edge set; it converges in O(log²n) rounds
      regardless of diameter. Dedup graphs never hit the fallback; a
      pathological chain costs the abandoned hash-min rounds, then
      converges.

    The input ``pairs`` plan is checkpointed up front: both union
    branches and every round read the materialized pair set, not the
    (possibly expensive — e.g. LSH verify) upstream plan.

    Small-graph fast path: when the checkpointed pair set has at most
    ``small_graph_threshold`` edges (probed with a bounded
    ``LIMIT threshold+1`` count), components are resolved with
    driver-side union-find over the collected edges — one collect of a
    few MB replaces several shuffle rounds whose per-round overhead
    dominates at this size. Labels are identical (component minimum)
    and the result is parallelized straight back. Pass ``0`` to force
    the distributed algorithms (the scale harness does, so the measured
    exponents are the at-scale path's).
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    a, b = F.col(src), F.col(dst)
    cp = checkpoint_frame(pairs.select(a.alias("u"), b.alias("v")))

    if small_graph_threshold > 0:
        # the probe reads the checkpoint, never the upstream plan
        rows = bounded_collect(cp, small_graph_threshold)
        if rows is not None:
            return _unionfind_labels(cp, rows, out_id, out_label)

    labels = _hashmin_labels(cp, max_iter)
    if labels is None:
        labels = _star_labels(cp)
    return labels.select(F.col("id").alias(out_id), F.col("label").alias(out_label))


def _unionfind_labels(
    cp: DataFrame, edges: list, out_id: str, out_label: str
) -> DataFrame:
    """Driver-side union-find over a SMALL collected edge list ->
    (out_id, out_label = component min). Only called under the bounded
    threshold probe in :func:`connected_components`, which passes the
    already-collected rows (``cp`` supplies schema/session only);
    output vertex/label types mirror the input edge type exactly (ids
    need not be longs)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        # a NULL endpoint never joins anything — a NULL key matches no
        # row in the distributed joins, which leave it as an isolated
        # (NULL, NULL)-labeled vertex; mirror that instead of comparing
        # None against real ids below
        if u is None or v is None:
            continue
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    comp_min: dict = {}
    for x in parent:
        r = find(x)
        m = comp_min.get(r)
        if m is None or x < m:
            comp_min[r] = x
    rows = [(x, comp_min[find(x)]) for x in parent]
    id_type = cp.schema["u"].dataType
    schema = StructType(
        [StructField(out_id, id_type), StructField(out_label, id_type)]
    )
    # Arrow-backed local frame: the label table is re-scanned by every
    # downstream join; the pickled-RDD form paid a Python worker per
    # task per scan (see util.local_frame)
    return local_frame(cp.sparkSession, rows, schema)


def _hashmin_labels(cp: DataFrame, max_iter: int) -> DataFrame | None:
    """Min-label propagation over checkpointed (u, v) pairs -> (id,
    label), or None if not converged within ``max_iter`` label-changing
    rounds (one extra confirming round is always allowed, so a graph of
    diameter exactly ``max_iter`` still converges). Convergence is
    detected by the SUM of labels (monotonically non-increasing under
    min-propagation), so each round costs one join + one aggregate and
    no extra change-count join.
    """
    edges = cp.unionAll(cp.select(F.col("v").alias("u"), F.col("u").alias("v")))
    labels = checkpoint_frame(
        edges.select("u").distinct().select(F.col("u").alias("id"), F.col("u").alias("label"))
    )
    prev_sum = labels.agg(F.sum("label")).first()[0]

    for _ in range(max_iter + 1):
        nbr = (
            edges.join(labels, edges["v"] == labels["id"])
            .groupBy("u")
            .agg(F.min("label").alias("nbr_min"))
        )
        labels = checkpoint_frame(
            labels.join(nbr, labels["id"] == nbr["u"], "left")
            .select(
                F.col("id"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
                ).alias("label"),
            )
        )
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum
    return None


#: star contraction is O(log²n) rounds by proof; 100 is ~(log₂ of 10^15)²
#: /2 headroom — hitting it means a logic bug, not a big graph.
_STAR_MAX_ROUNDS = 100


def _star_labels(cp: DataFrame) -> DataFrame:
    """Large-star/small-star contraction (Kiveris et al., SoCC'14) over
    checkpointed (u, v) pairs -> (id, label = component min).

    Each round:

    - **large-star**: for every vertex u, connect each neighbor v > u
      to m(u) = min(Γ(u) ∪ {u}) — strictly-larger neighbors re-point
      at the local minimum (keeps the edge count bounded: only larger
      endpoints move).
    - **small-star**: orient edges (u > v); for every u, connect each
      smaller neighbor v (and u itself) to m(u) = min(Γ⁻(u) ∪ {u}) —
      collapses chains of small edges into stars.

    Both emit edges oriented (larger, smaller), deduped. At the fixed
    point every component of size >= 2 is exactly the star
    {(x, root) | x != root} with root = component min, so the label
    map reads straight off the edge list. Convergence = edge multiset
    unchanged (count equality + empty exceptAll — exact, and cheap at
    O(log²n) total rounds). Every round is two self-joins on vertex
    ids with map-side combinable aggregates; localCheckpoint truncates
    the per-round lineage exactly like the hash-min path.

    Vertices appearing ONLY in self-pairs (u == v) carry no contraction
    edge, so they are re-unioned at the end as (id, id) singleton labels
    — keeping hashmin and star outputs identical on any input.
    """
    self_only = (
        cp.filter(F.col("u") == F.col("v"))
        .select(F.col("u").alias("id"))
        .distinct()
    )
    # canonical orientation (big, small), no self-loops
    edges = checkpoint_frame(
        cp.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"),
            F.least("u", "v").alias("v"),
        )
        .distinct()
    )

    for _ in range(_STAR_MAX_ROUNDS):
        # ---- large-star ----
        bidir = edges.unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = bidir.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            bidir.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star (input already oriented u > v) ----
        sm = large.groupBy("u").agg(F.min("v").alias("m"))
        joined = large.join(sm, "u")
        small = checkpoint_frame(
            joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(joined.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        n_prev, n_cur = edges.count(), small.count()
        if n_prev == n_cur and small.exceptAll(edges).isEmpty():
            edges = small
            break
        edges = small
    else:
        raise RuntimeError(
            f"star contraction did not converge in {_STAR_MAX_ROUNDS} rounds "
            f"— logic bug, not graph size"
        )

    roots = edges.select(F.col("v").alias("id")).distinct()
    labeled = edges.select(
        F.col("u").alias("id"), F.col("v").alias("label")
    ).unionAll(roots.select("id", F.col("id").alias("label")))
    singles = self_only.join(labeled, "id", "left_anti")
    return labeled.unionAll(singles.select("id", F.col("id").alias("label")))


def near_dup_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """The deduplicated corpus: every singleton plus the min-id member
    of each near-duplicate cluster, full original schema. One survivor
    per TRANSITIVE cluster — stricter than dropping only paired ids,
    identical policy to `dedup.exact_dedup`'s min-id survivor.

    The victim list (clustered, non-minimum ids) is near-dup-rate
    sized, so the anti-join's build side is small; left to AQE rather
    than force-broadcast for the pathological all-dup corpus.
    """
    cc = connected_components(pairs, src=src, dst=dst, max_iter=max_iter)
    victims = cc.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(victims, id_col, "left_anti")


def best_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Quality-priority dedup survivors (r11): every singleton plus the
    HIGHEST-``score_col`` member of each near-duplicate cluster (ties
    and NULL scores break to the smallest id — a NULL-scored doc never
    beats a scored one). The curation-realistic upgrade of
    :func:`near_dup_survivors`'s min-id policy: when a boilerplate farm
    and a clean original collide, keep the clean one, not the one that
    happened to be crawled first.

    Scale shape: cluster labels come from the pair stream (near-dup-
    rate sized); the docs table joins the label side once on the id
    (inner — only clustered docs carry a label), the per-cluster argmax
    is ONE aggregate over clustered docs only (struct-min: max score,
    then min id — no window sort over the corpus), and the final
    victim anti-join's build side is victims-only. Full original
    schema passes through untouched.
    """
    if score_col not in docs.columns:
        raise ValueError(f"score_col {score_col!r} not in docs columns")
    cc = connected_components(pairs, src=src, dst=dst, max_iter=max_iter)
    labeled = docs.select(
        F.col(id_col).alias("__id"), F.col(score_col).alias("__s")
    ).join(cc.select(F.col("id").alias("__id"), "cluster_id"), "__id")
    # argmax score / min id via one struct-min aggregate: NULL scores
    # rank BELOW every real score (coalesce to +inf on the negated key)
    winners = (
        labeled.groupBy("cluster_id")
        .agg(
            F.min(
                F.struct(
                    F.coalesce(-F.col("__s").cast("double"), F.lit(float("inf"))).alias(
                        "__neg"
                    ),
                    F.col("__id").alias("__id"),
                )
            ).alias("__w")
        )
        .select(F.col("__w.__id").alias("__id"))
    )
    victims = labeled.select("__id").join(winners, "__id", "left_anti")
    return docs.join(
        victims.select(F.col("__id").alias(id_col)), id_col, "left_anti"
    )


def cluster_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    salt: str = "",
    split_col: str = "split",
    max_iter: int = 25,
) -> DataFrame:
    """Leakage-safe train/eval split: every near-duplicate CLUSTER lands
    wholly inside one split. Splitting by document id leaks — a doc in
    train and its near-copy in holdout inflates eval scores exactly the
    way benchmark contamination does — so the split key is the cluster
    label (component-min id from :func:`connected_components`),
    falling back to the document's own id for singletons. Downstream
    the assignment is :func:`operators.sampling.hash_split` — portable,
    deterministic, partition-independent.

    Scale shape: the pair stream is near-dup-rate sized, the label join
    is one shuffle on the doc id (label side is small — only clustered
    docs), and the split itself is map-only. Weight skew note: a split
    receives whole clusters, so realized fractions drift from
    ``weights`` by at most the mass of the largest cluster — at corpus
    scale that drift is noise.
    """
    cc = connected_components(pairs, src=src, dst=dst, max_iter=max_iter)
    from real_estate_bigdata_spark.operators.sampling import hash_split

    labeled = docs.join(
        cc.select(F.col("id").alias(id_col), "cluster_id"), id_col, "left"
    ).withColumn("__split_key", F.coalesce(F.col("cluster_id"), F.col(id_col)))
    return hash_split(
        labeled, weights, key_col="__split_key", salt=salt, split_col=split_col
    ).drop("__split_key", "cluster_id")


#: edge count at or below which PageRank iterates as vectorized numpy
#: on the collected edge list (the connected-components union-find /
#: Bradley-Terry precedent): crawl-graph ranking jobs routinely rank
#: host-level graphs of thousands-to-millions of edges where per-round
#: Spark job overhead dwarfs the arithmetic. Above it the loop runs
#: distributed (one edge-sized join + one vertex aggregate per round).
PAGERANK_SMALL_EDGES = 2_000_000


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float | None = 1e-6,
    weight_col: str | None = None,
    small_edges_threshold: int = PAGERANK_SMALL_EDGES,
) -> DataFrame:
    """PageRank (Page et al. 1999) over a directed edge list —
    ``(node, rank)`` with ranks a probability distribution (sum 1).
    The crawl-graph quality signal LLM curation actually uses: a
    page/host linked by well-linked pages outranks link-farm spokes,
    and the rank feeds quality floors and per-domain mixture weights
    the same way the text/gopher scores do (the reference crawls one
    portal and has no graph surface — north-star ABSENT category).

    Semantics: NULL endpoints dropped, self-loops dropped; without
    ``weight_col`` parallel edges deduplicate (unweighted classic
    formulation), with it they SUM into one weighted edge and each
    node's mass splits proportionally to edge weight over its total
    out-strength (link multiplicity as strength — the crawl-graph
    reality; NULL / non-positive weights are invalid rows, dropped
    like NULL endpoints); the node set
    is the union of endpoints; dangling nodes (no out-edges)
    redistribute their mass uniformly each round — so the invariant
    ``sum(rank) == 1`` holds exactly at every iteration. ``tol`` stops
    early when the L1 delta falls below it (None = exactly
    ``max_iter`` rounds, one action fewer per round — the Dawid-Skene
    budget contract). Like BPE / CC / Dawid-Skene / Bradley-Terry the
    fixpoint is not ANSI-SQL-expressible — rows-only at the oracle
    gate, pinned against an independent numpy mirror plus
    hand-checkable graphs in ``tests/test_clustering.py``.

    Distributed shape: per round, ranks join the (deduped, checkpointed
    once) edge list on ``src`` — an edge-sized shuffle, never more —
    then ONE aggregate on ``dst`` rebuilds in-flows; the dangling mass
    is a scalar aggregate broadcast back; new ranks right-join the node
    frame so zero-in-degree nodes keep their teleport share. Ranks
    localCheckpoint per round (the CC lineage precedent). Under
    ``small_edges_threshold`` (LIMIT-probed) the same iteration runs
    vectorized on the collected edge list instead — strengths-only
    driver state, the payload never moves.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    if not (0.0 < damping < 1.0):
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    base = edges.filter(
        F.col(src).isNotNull()
        & F.col(dst).isNotNull()
        & (F.col(src) != F.col(dst))
    )
    if weight_col is None:
        raw = base.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
        # r16: probe the RAW bounded edge list and dedupe on the driver
        # — the unweighted fast path otherwise paid a full distinct
        # exchange (2 AQE jobs, ~0.4 s at sf0.1) just to bound the
        # collect. A graph whose raw edge rows exceed the threshold
        # falls through to the second LIMIT probe below, on the distinct
        # frame, which still takes the local path when its distinct
        # edges fit (so that case pays two bounded collects); both
        # paths are exact and spec-pinned.
        spark = edges.sparkSession
        id_t = raw.schema["__s"].dataType.simpleString()
        out_schema = f"node {id_t}, rank double"
        rows = bounded_collect(raw, small_edges_threshold)
        if rows is not None:
            if not rows:
                return spark.createDataFrame([], out_schema)
            deduped = sorted({(r["__s"], r["__d"]) for r in rows})
            return local_frame(
                spark,
                _pagerank_numpy(
                    [{"__s": s, "__d": d, "__w": 1.0} for s, d in deduped],
                    damping,
                    max_iter,
                    tol,
                ),
                out_schema,
            )
        e = raw.distinct().withColumn("__w", F.lit(1.0))
    else:
        e = (
            base.filter(
                F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
            )
            .groupBy(
                F.col(src).alias("__s"), F.col(dst).alias("__d")
            )
            .agg(F.sum(F.col(weight_col).cast("double")).alias("__w"))
        )
    spark = edges.sparkSession
    id_t = e.schema["__s"].dataType.simpleString()
    out_schema = f"node {id_t}, rank double"
    # e is deliberately unmaterialized here: the probe evaluates the
    # edge aggregation once, and only the distributed loop checkpoints
    rows = bounded_collect(e, small_edges_threshold)
    if rows is not None:
        if not rows:
            return spark.createDataFrame([], out_schema)
        # Arrow-backed local frame: callers re-scan the rank table
        # (filters + broadcast joins); the pickled-RDD form paid a
        # Python worker per task per scan (see util.local_frame)
        return local_frame(
            spark, _pagerank_numpy(rows, damping, max_iter, tol), out_schema
        )
    e = checkpoint_frame(e)
    nodes = checkpoint_frame(
        e.select(F.col("__s").alias("node"))
        .unionByName(e.select(F.col("__d").alias("node")))
        .distinct()
    )
    n = nodes.count()
    deg = e.groupBy(F.col("__s").alias("node")).agg(
        F.sum("__w").alias("__deg")
    )
    # (node, deg) with 0 for dangling — reused every round
    nd = checkpoint_frame(
        nodes.join(deg, "node", "left").select(
            "node", F.coalesce("__deg", F.lit(0.0)).alias("__deg")
        )
    )
    ranks = checkpoint_frame(nodes.select("node", F.lit(1.0 / n).alias("__r")))
    teleport = (1.0 - damping) / n
    for _ in range(max_iter):
        rd = ranks.join(nd, "node")
        dangling = rd.agg(
            F.coalesce(
                F.sum(F.when(F.col("__deg") == 0.0, F.col("__r"))), F.lit(0.0)
            ).alias("__dm")
        )
        inflow = (
            e.join(
                rd.filter(F.col("__deg") > 0.0).select(
                    F.col("node").alias("__s"),
                    (F.col("__r") / F.col("__deg")).alias("__c"),
                ),
                "__s",
            )
            .groupBy(F.col("__d").alias("node"))
            .agg(F.sum(F.col("__c") * F.col("__w")).alias("__in"))
        )
        new_ranks = checkpoint_frame(
            nodes.join(inflow, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("__in"), F.lit(0.0))
                        + F.col("__dm") / n
                    )
                ).alias("__r"),
            )
        )
        if tol is not None:
            delta = (
                new_ranks.join(
                    ranks.select("node", F.col("__r").alias("__r0")), "node"
                )
                .agg(F.sum(F.abs(F.col("__r") - F.col("__r0"))))
                .collect()[0][0]
            )
            ranks = new_ranks
            if delta is not None and delta < tol:
                break
        else:
            ranks = new_ranks
    return ranks.select("node", F.round("__r", 9).alias("rank"))


def _pagerank_numpy(rows, damping, max_iter, tol):
    """Vectorized PageRank on collected ``(__s, __d, __w)`` edge rows —
    the bounded fast path of :func:`pagerank`; identical semantics
    (uniform init, weighted out-strength splits, dangling
    redistribution, teleport, L1 ``tol``)."""
    import numpy as np

    nodes = sorted({r["__s"] for r in rows} | {r["__d"] for r in rows})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    s = np.array([idx[r["__s"]] for r in rows])
    d = np.array([idx[r["__d"]] for r in rows])
    w = np.array([r["__w"] for r in rows])
    deg = np.zeros(n)
    np.add.at(deg, s, w)
    r = np.full(n, 1.0 / n)
    teleport = (1.0 - damping) / n
    for _ in range(max_iter):
        dangling = r[deg == 0.0].sum()
        contrib = np.zeros(n)
        np.add.at(contrib, d, r[s] * w / deg[s])
        new_r = teleport + damping * (contrib + dangling / n)
        l1 = float(np.abs(new_r - r).sum())
        r = new_r
        if tol is not None and l1 < tol:
            break
    return [(v, round(float(r[idx[v]]), 9)) for v in nodes]
