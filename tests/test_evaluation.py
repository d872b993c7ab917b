"""Evaluation statistics (operators.evaluation) vs pure-Python mirrors.

The AUC mirror is the O(n log n) rank-sum definition with explicit tie
handling — independent of the Spark histogram/window formulation, so an
agreement pins the distributed algebra, not a reimplementation of it.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from real_estate_bigdata_spark.operators.evaluation import (
    auc_bootstrap_ci,
    auc_by_slice,
    auc_score,
    calibration_bins,
    cohens_kappa,
    consensus_labels,
    bradley_terry,
    dawid_skene,
    confusion_at_threshold,
    expected_calibration_error,
    fleiss_kappa,
    item_disagreement,
    krippendorff_alpha,
    rater_reliability,
    pair_set_metrics,
    pairwise_win_rates,
    precision_at_k,
    rank_biased_overlap,
    ranking_compare,
    ranking_metrics,
    ranking_summary,
    topk_recall,
)
from real_estate_bigdata_spark.operators.linear_probe import (
    linear_probe_scores,
)
from real_estate_bigdata_spark.plans import assert_plan


def mirror_auc(pairs):
    """Rank-sum AUC with average ranks for ties (Mann-Whitney)."""
    pos = sorted(s for s, y in pairs if y == 1)
    neg = sorted(s for s, y in pairs if y == 0)
    if not pos or not neg:
        return None
    num = 0.0
    for p in pos:
        # binary-search-free mirror: count strictly-below and ties
        below = sum(1 for n in neg if n < p)
        ties = sum(1 for n in neg if n == p)
        num += below + 0.5 * ties
    return num / (len(pos) * len(neg))


@pytest.fixture(scope="module")
def scored(spark):
    rng = random.Random(8)
    rows = []
    for i in range(400):
        y = rng.random() < 0.4
        # overlapping classes + deliberate ties (scores on a coarse grid)
        s = round(rng.gauss(1.0 if y else 0.0, 1.0), 1)
        rows.append((i, float(s), int(y)))
    # null score and null label rows must be excluded everywhere
    rows.append((9001, None, 1))
    rows.append((9002, 0.5, None))
    return spark.createDataFrame(rows, "id long, score double, label int")


def test_auc_matches_rank_sum_mirror(scored):
    got = auc_score(scored, "score", "label").collect()[0]
    pairs = [
        (r["score"], r["label"])
        for r in scored.collect()
        if r["score"] is not None and r["label"] is not None
    ]
    want = mirror_auc(pairs)
    assert got["auc"] == pytest.approx(want, abs=1e-6)
    assert got["n_pos"] == sum(1 for _, y in pairs if y == 1)
    assert got["n_neg"] == sum(1 for _, y in pairs if y == 0)


def test_auc_extremes(spark):
    sep = spark.createDataFrame(
        [(float(i), int(i >= 5)) for i in range(10)], "score double, label int"
    )
    assert auc_score(sep, "score", "label").collect()[0]["auc"] == 1.0
    rev = sep.withColumn("label", 1 - F.col("label"))
    assert auc_score(rev, "score", "label").collect()[0]["auc"] == 0.0
    # all ties -> exactly 0.5 regardless of class balance
    flat = spark.createDataFrame(
        [(1.0, i % 2) for i in range(10)], "score double, label int"
    )
    assert auc_score(flat, "score", "label").collect()[0]["auc"] == 0.5


def test_weighted_auc_equals_expanded_rows(scored):
    # integer weights: the weighted AUC must equal the plain AUC of
    # the row-expanded multiset — the definition of importance weights
    wdf = scored.withColumn(
        "w", (1 + F.pmod(F.col("id"), F.lit(3))).cast("double")
    )
    got = auc_score(wdf, "score", "label", weight_col="w").collect()[0]
    pairs = []
    for r in wdf.collect():
        if r["score"] is None or r["label"] is None:
            continue
        pairs.extend([(r["score"], r["label"])] * int(r["w"]))
    assert got["auc"] == pytest.approx(mirror_auc(pairs), abs=1e-6)
    assert got["n_pos"] == pytest.approx(
        sum(1 for _, y in pairs if y == 1), abs=1e-6
    )
    # weight 1 everywhere == the unweighted path (values; types differ
    # by documented contract: weighted masses are DOUBLE)
    ones = scored.withColumn("w", F.lit(1.0))
    a = auc_score(ones, "score", "label", weight_col="w").collect()[0]
    b = auc_score(scored, "score", "label").collect()[0]
    assert a["auc"] == b["auc"] and a["n_pos"] == float(b["n_pos"])
    # NULL weights are excluded like NULL labels
    holed = scored.withColumn(
        "w", F.when(F.col("id") % 2 == 0, 1.0)
    )
    h = auc_score(holed, "score", "label", weight_col="w").collect()[0]
    assert h["n_pos"] + h["n_neg"] < b["n_pos"] + b["n_neg"]


def test_weighted_confusion_matches_manual(scored):
    wdf = scored.withColumn(
        "w", (1 + F.pmod(F.col("id"), F.lit(3))).cast("double")
    )
    got = confusion_at_threshold(
        wdf, "score", "label", 0.5, weight_col="w"
    ).collect()[0]
    rows = [
        r
        for r in wdf.collect()
        if r["score"] is not None and r["label"] is not None
    ]
    tp = sum(r["w"] for r in rows if r["score"] >= 0.5 and r["label"] == 1)
    fp = sum(r["w"] for r in rows if r["score"] >= 0.5 and r["label"] == 0)
    fn = sum(r["w"] for r in rows if r["score"] < 0.5 and r["label"] == 1)
    assert got["tp"] == pytest.approx(tp, abs=1e-6)
    assert got["fp"] == pytest.approx(fp, abs=1e-6)
    assert got["precision"] == pytest.approx(tp / (tp + fp), abs=1e-5)
    assert got["recall"] == pytest.approx(tp / (tp + fn), abs=1e-5)


def test_auc_degenerate_class_is_null(spark):
    onecls = spark.createDataFrame(
        [(float(i), 1) for i in range(5)], "score double, label int"
    )
    row = auc_score(onecls, "score", "label").collect()[0]
    assert row["auc"] is None and row["n_pos"] == 5 and row["n_neg"] == 0


def test_calibration_bins_clamp_and_mass(scored):
    out = calibration_bins(scored, "score", "label", lo=0.0, hi=1.0, bins=4)
    rows = {r["bin"]: r for r in out.collect()}
    assert set(rows) <= set(range(4))
    # every non-null row lands in exactly one bin (out-of-range clamped)
    n_valid = scored.filter(
        F.col("score").isNotNull() & F.col("label").isNotNull()
    ).count()
    assert sum(r["n"] for r in rows.values()) == n_valid
    # clamped edge bins hold the out-of-range mass, so their mean
    # score sits outside [lo, hi)
    assert rows[0]["mean_score"] < 0.25
    assert rows[3]["mean_score"] > 0.75


def test_calibration_validates_args(scored):
    with pytest.raises(ValueError):
        calibration_bins(scored, bins=0)
    with pytest.raises(ValueError):
        calibration_bins(scored, lo=1.0, hi=1.0)


def test_confusion_matches_manual(scored):
    got = confusion_at_threshold(scored, "score", "label", 0.5).collect()[0]
    pairs = [
        (r["score"], r["label"])
        for r in scored.collect()
        if r["score"] is not None and r["label"] is not None
    ]
    tp = sum(1 for s, y in pairs if s >= 0.5 and y == 1)
    fp = sum(1 for s, y in pairs if s >= 0.5 and y == 0)
    tn = sum(1 for s, y in pairs if s < 0.5 and y == 0)
    fn = sum(1 for s, y in pairs if s < 0.5 and y == 1)
    assert (got["tp"], got["fp"], got["tn"], got["fn"]) == (tp, fp, tn, fn)
    assert got["accuracy"] == pytest.approx((tp + tn) / len(pairs), abs=1e-6)
    assert got["precision"] == pytest.approx(tp / (tp + fp), abs=1e-6)
    assert got["recall"] == pytest.approx(tp / (tp + fn), abs=1e-6)
    p, r = tp / (tp + fp), tp / (tp + fn)
    assert got["f1"] == pytest.approx(2 * p * r / (p + r), abs=1e-6)


def test_confusion_null_rates_when_degenerate(spark):
    # threshold above every score: no predicted positives -> precision
    # NULL (not 0), recall 0, f1 NULL
    df = spark.createDataFrame(
        [(0.1, 1), (0.2, 0)], "score double, label int"
    )
    got = confusion_at_threshold(df, "score", "label", 5.0).collect()[0]
    assert got["precision"] is None and got["f1"] is None
    assert got["recall"] == 0.0


def test_precision_at_k_deterministic_ties(spark):
    # 6 rows share the top score; only id order decides the k=3 cut
    df = spark.createDataFrame(
        [(i, 1.0, int(i < 3)) for i in range(6)]
        + [(i, 0.0, 1) for i in range(6, 12)],
        "id long, score double, label int",
    )
    got = precision_at_k(df, "score", "label", "id", k=3).collect()[0]
    assert got["k"] == 3 and got["n_pos"] == 3
    assert got["precision_at_k"] == 1.0


def test_precision_at_k_smaller_corpus(spark):
    df = spark.createDataFrame(
        [(0, 1.0, 1), (1, 0.5, 0)], "id long, score double, label int"
    )
    got = precision_at_k(df, "score", "label", "id", k=10).collect()[0]
    assert got["k"] == 10  # requested k is reported
    assert got["precision_at_k"] == 0.5  # but the rate uses rows taken
    with pytest.raises(ValueError):
        precision_at_k(df, k=0)


def test_probe_auc_end_to_end(spark, sf_dir):
    """The served composition: fit the closed-form probe, evaluate it
    with auc_score — the probe trained ON the labels must rank them far
    better than chance, and the Spark AUC must equal the rank-sum
    mirror on the same rounded scores."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "__target", (F.col("label") <= 4).cast("double")
    )
    scores = linear_probe_scores(emb, target_col="__target").join(
        emb.select("vec_id", "__target"), "vec_id"
    )
    got = auc_score(scores, "probe_score", "__target").collect()[0]
    pairs = [
        (r["probe_score"], r["__target"])
        for r in scores.collect()
        if r["probe_score"] is not None
    ]
    assert got["auc"] == pytest.approx(mirror_auc(pairs), abs=1e-6)
    assert got["auc"] > 0.55  # probe beats chance on its training set


def test_auc_by_slice_matches_per_slice_mirror(scored):
    sliced = scored.withColumn("slc", F.pmod(F.col("id"), F.lit(3)))
    got = {
        r["slc"]: r
        for r in auc_by_slice(sliced, "slc", "score", "label").collect()
    }
    rows = [
        r
        for r in sliced.collect()
        if r["score"] is not None and r["label"] is not None
    ]
    for g in {r["slc"] for r in rows}:
        pairs = [(r["score"], r["label"]) for r in rows if r["slc"] == g]
        assert got[g]["auc"] == pytest.approx(mirror_auc(pairs), abs=1e-6)
        assert got[g]["n_pos"] == sum(1 for _, y in pairs if y == 1)


def test_auc_by_slice_degenerate_and_null_slice(spark):
    df = spark.createDataFrame(
        [("a", 1.0, 1), ("a", 2.0, 1), ("b", 1.0, 1), ("b", 2.0, 0),
         (None, 0.0, 0), (None, 3.0, 1)],
        "slc string, score double, label int",
    )
    rows = {r["slc"]: r for r in auc_by_slice(df, "slc", "score", "label").collect()}
    assert rows["a"]["auc"] is None  # single-class slice is unmeasurable
    assert rows["b"]["auc"] == 0.0
    assert rows[None]["auc"] == 1.0  # NULL slice is still a slice


def mirror_ranking(ranked, rel, k):
    """(q, d, rank) rows + {(q, d): grade} -> {q: metrics dict}."""
    import math

    byq: dict = {}
    for q, d, r in ranked:
        if r <= k:
            byq.setdefault(q, []).append((r, d))
    relq: dict = {}
    for (q, d), g in rel.items():
        if g > 0:
            relq.setdefault(q, []).append((g, d))
    out = {}
    for q, rows in byq.items():
        rows.sort()
        grades = [rel.get((q, d), 0.0) for _, d in rows]
        judged = sorted(relq.get(q, []), key=lambda t: (-t[0], t[1]))
        rel_ret = sum(1 for g in grades if g > 0)
        first = next((r for (r, d), g in zip(rows, grades) if g > 0), None)
        dcg = sum(
            (2**g - 1) / math.log2(r + 1)
            for (r, _), g in zip(rows, grades)
        )
        idcg = sum(
            (2**g - 1) / math.log2(i + 2)
            for i, (g, _) in enumerate(judged[:k])
        )
        measurable = bool(judged)
        out[q] = {
            "n_retrieved": len(rows),
            "n_relevant": len(judged),
            "mrr": ((1.0 / first if first else 0.0) if measurable else None),
            "precision_at_k": rel_ret / len(rows),
            "recall_at_k": rel_ret / len(judged) if measurable else None,
            "ndcg_at_k": dcg / idcg if measurable else None,
        }
    return out


@pytest.fixture(scope="module")
def judged_ranking(spark):
    rng = random.Random(88)
    ranked_rows, rel_rows = [], []
    for q in range(12):
        docs = rng.sample(range(1000), 20)
        for i, d in enumerate(docs):
            ranked_rows.append((q, d, i + 1))
        # grade a random subset 1-3: some retrieved, some not
        for d in rng.sample(range(1000), 30):
            rel_rows.append((q, d, float(rng.randint(1, 3))))
    # query 99: retrieved but zero judgments (unmeasurable)
    ranked_rows += [(99, d, r + 1) for r, d in enumerate(range(5))]
    ranked = spark.createDataFrame(
        ranked_rows, "query_id int, doc_id long, rank int"
    )
    rel = spark.createDataFrame(
        rel_rows, "query_id int, doc_id long, grade double"
    )
    return ranked, rel


def test_ranking_metrics_match_mirror(judged_ranking):
    ranked, rel = judged_ranking
    got = {
        r["query_id"]: r for r in ranking_metrics(ranked, rel, k=10).collect()
    }
    want = mirror_ranking(
        [(r["query_id"], r["doc_id"], r["rank"]) for r in ranked.collect()],
        {
            (r["query_id"], r["doc_id"]): r["grade"]
            for r in rel.collect()
        },
        k=10,
    )
    assert set(got) == set(want)
    for q, w in want.items():
        g = got[q]
        for key in ("n_retrieved", "n_relevant"):
            assert g[key] == w[key], (q, key)
        for key in ("mrr", "precision_at_k", "recall_at_k", "ndcg_at_k"):
            if w[key] is None:
                assert g[key] is None, (q, key)
            else:
                assert g[key] == pytest.approx(w[key], abs=1e-6), (q, key)


def test_ranking_metrics_contracts(spark):
    ranked = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3), (1, 13, 99)],
        "query_id int, doc_id int, rank int",
    )
    rel = spark.createDataFrame(
        # duplicate judgment resolves to max grade; rank-99 doc judged
        # but past k so it counts only as unretrieved-relevant
        [(1, 11, 1.0), (1, 11, 3.0), (1, 13, 2.0), (1, 999, 1.0)],
        "query_id int, doc_id int, grade double",
    )
    got = ranking_metrics(ranked, rel, k=3).collect()[0]
    assert got["n_retrieved"] == 3 and got["n_relevant"] == 3
    assert got["mrr"] == 0.5  # first relevant at rank 2
    assert got["precision_at_k"] == pytest.approx(1 / 3, abs=1e-6)
    assert got["recall_at_k"] == pytest.approx(1 / 3, abs=1e-6)
    # dcg uses the max grade (3) at rank 2; ideal = grades 3,2,1
    import math

    dcg = (2**3 - 1) / math.log2(3)
    idcg = (
        (2**3 - 1) / math.log2(2)
        + (2**2 - 1) / math.log2(3)
        + (2**1 - 1) / math.log2(4)
    )
    assert got["ndcg_at_k"] == pytest.approx(dcg / idcg, abs=1e-6)
    with pytest.raises(ValueError):
        ranking_metrics(ranked, rel, k=0)


def test_ranking_summary_excludes_unmeasurable(judged_ranking):
    ranked, rel = judged_ranking
    m = ranking_metrics(ranked, rel, k=10)
    s = ranking_summary(m).collect()[0]
    rows = m.collect()
    measurable = [r for r in rows if r["ndcg_at_k"] is not None]
    assert s["n_queries"] == len(rows)
    assert s["n_measurable"] == len(measurable)
    assert s["mean_ndcg_at_k"] == pytest.approx(
        sum(r["ndcg_at_k"] for r in measurable) / len(measurable), abs=1e-6
    )
    # mrr mean also excludes the judgment-less query, not zero-fills it
    assert s["mean_mrr"] == pytest.approx(
        sum(r["mrr"] for r in measurable) / len(measurable), abs=1e-6
    )


def mirror_poisson_weight(key, b, salt=""):
    """The operator's deterministic ladder, independently: md5-prefix
    bucket of str(key) + '<salt>|boot<b>' through the Poisson(1)
    inverse CDF truncated at 5."""
    import hashlib

    u = (
        int(
            hashlib.md5(f"{key}{salt}|boot{b}".encode()).hexdigest()[:15], 16
        )
        % 10_000
    )
    for w, cum in enumerate((3679, 7358, 9197, 9810, 9963)):
        if u < cum:
            return w
    return 5


def test_auc_bootstrap_matches_mirror(scored):
    import numpy as np

    n_boot = 16
    got = auc_bootstrap_ci(
        scored, "id", "score", "label", n_boot=n_boot, alpha=0.1
    ).collect()[0]
    rows = [
        r
        for r in scored.collect()
        if r["score"] is not None and r["label"] is not None
    ]
    aucs = []
    for b in range(n_boot):
        pairs = []
        for r in rows:
            w = mirror_poisson_weight(r["id"], b)
            pairs.extend([(r["score"], r["label"])] * w)
        a = mirror_auc(pairs)
        if a is not None:
            aucs.append(round(a, 6))
    assert got["n_boot"] == n_boot and got["n_boot_valid"] == len(aucs)
    assert got["ci_lo"] == pytest.approx(
        float(np.percentile(aucs, 5)), abs=1e-6
    )
    assert got["ci_hi"] == pytest.approx(
        float(np.percentile(aucs, 95)), abs=1e-6
    )
    assert got["auc"] == pytest.approx(
        mirror_auc([(r["score"], r["label"]) for r in rows]), abs=1e-6
    )
    assert got["ci_lo"] <= got["auc"] <= got["ci_hi"]


def test_auc_bootstrap_deterministic_under_repartition(scored):
    a = auc_bootstrap_ci(scored, "id", n_boot=8, score_col="score").collect()
    b = auc_bootstrap_ci(
        scored.repartition(13), "id", n_boot=8, score_col="score"
    ).collect()
    assert a == b


def test_auc_bootstrap_separable_and_validation(spark):
    sep = spark.createDataFrame(
        [(i, float(i), int(i >= 50)) for i in range(100)],
        "id long, score double, label int",
    )
    got = auc_bootstrap_ci(sep, "id", n_boot=8).collect()[0]
    assert got["auc"] == 1.0 and got["ci_lo"] == 1.0 and got["ci_hi"] == 1.0
    with pytest.raises(ValueError):
        auc_bootstrap_ci(sep, "id", n_boot=1)
    with pytest.raises(ValueError):
        auc_bootstrap_ci(sep, "id", alpha=0.0)


def test_auc_bootstrap_plan_stays_jvm_side(scored):
    assert_plan(
        auc_bootstrap_ci(scored, "id", n_boot=4), forbid_python=True
    )


def test_ece_matches_bin_mirror(scored):
    # squash scores into [0,1] so the gap reads as miscalibration
    prob = scored.withColumn("p", 1.0 / (1.0 + F.exp(-F.col("score"))))
    got = expected_calibration_error(prob, "p", "label", bins=5).collect()[0]
    rows = [
        r
        for r in prob.collect()
        if r["p"] is not None and r["label"] is not None
    ]
    bins: dict = {}
    for r in rows:
        b = min(4, max(0, int((r["p"] - 0.0) / 1.0 * 5)))
        bins.setdefault(b, []).append(r)
    gaps = {
        b: abs(
            sum(x["label"] for x in xs) / len(xs)
            - sum(x["p"] for x in xs) / len(xs)
        )
        for b, xs in bins.items()
    }
    want_ece = sum(len(bins[b]) * g for b, g in gaps.items()) / len(rows)
    assert got["n"] == len(rows)
    assert got["ece"] == pytest.approx(want_ece, abs=2e-6)
    assert got["mce"] == pytest.approx(max(gaps.values()), abs=2e-6)
    assert got["mce"] >= got["ece"]


def test_weighted_calibration_equals_expanded_rows(scored):
    # integer weights: weighted bins == plain bins of the expanded
    # multiset (same definitional identity as the weighted AUC)
    wdf = scored.withColumn(
        "w", (1 + F.pmod(F.col("id"), F.lit(3))).cast("double")
    )
    got = {
        r["bin"]: r
        for r in calibration_bins(
            wdf, "score", "label", lo=-2, hi=2, bins=4, weight_col="w"
        ).collect()
    }
    rows = [
        r
        for r in wdf.collect()
        if r["score"] is not None and r["label"] is not None
    ]
    bins: dict = {}
    for r in rows:
        b = min(3, max(0, int((r["score"] + 2) / 4 * 4)))
        bins.setdefault(b, []).append(r)
    for b, xs in bins.items():
        mass = sum(x["w"] for x in xs)
        assert got[b]["n"] == pytest.approx(mass, abs=1e-6)
        assert got[b]["mean_score"] == pytest.approx(
            sum(x["w"] * x["score"] for x in xs) / mass, abs=1e-6
        )
        assert got[b]["frac_pos"] == pytest.approx(
            sum(x["w"] * x["label"] for x in xs) / mass, abs=1e-6
        )
    # the weighted ECE composes the weighted bins
    e = expected_calibration_error(
        wdf, "score", "label", lo=-2, hi=2, bins=4, weight_col="w"
    ).collect()[0]
    want = sum(
        sum(x["w"] for x in xs)
        * abs(
            sum(x["w"] * x["label"] for x in xs) / sum(x["w"] for x in xs)
            - sum(x["w"] * x["score"] for x in xs) / sum(x["w"] for x in xs)
        )
        for xs in bins.values()
    ) / sum(r["w"] for r in rows)
    assert e["ece"] == pytest.approx(want, abs=2e-6)
    assert e["n"] == pytest.approx(sum(r["w"] for r in rows), abs=1e-6)


def test_ece_perfectly_calibrated_is_zero(spark):
    # bins where mean score == positive rate exactly: p=0.25 bin with
    # 1/4 positives, p=0.75 bin with 3/4 positives
    rows = [(0.25, 1)] + [(0.25, 0)] * 3 + [(0.75, 1)] * 3 + [(0.75, 0)]
    df = spark.createDataFrame(rows, "p double, label int")
    got = expected_calibration_error(df, "p", "label", bins=2).collect()[0]
    assert got["ece"] == 0.0 and got["mce"] == 0.0


def mirror_kappa(pairs):
    n = len(pairs)
    if n == 0:
        return None, None, None
    po = sum(1 for a, b in pairs if a == b) / n
    cats = {c for p in pairs for c in p}
    pe = sum(
        (sum(1 for a, _ in pairs if a == c) / n)
        * (sum(1 for _, b in pairs if b == c) / n)
        for c in cats
    )
    kappa = (po - pe) / (1 - pe) if pe < 1.0 else None
    return kappa, po, pe


def test_cohens_kappa_matches_mirror(spark):
    rng = random.Random(7)
    cats = ["spam", "ham", "unsure"]
    # correlated raters: b agrees with a 70% of the time
    pairs = []
    for _ in range(500):
        a = rng.choice(cats)
        b = a if rng.random() < 0.7 else rng.choice(cats)
        pairs.append((a, b))
    df = spark.createDataFrame(
        pairs + [(None, "spam"), ("ham", None)], "a string, b string"
    )
    got = cohens_kappa(df, "a", "b").collect()[0]
    kappa, po, pe = mirror_kappa(pairs)
    assert got["n"] == len(pairs)
    assert got["kappa"] == pytest.approx(kappa, abs=1e-6)
    assert got["po"] == pytest.approx(po, abs=1e-6)
    assert got["pe"] == pytest.approx(pe, abs=1e-6)
    assert 0 < got["kappa"] < 1  # better than chance, not perfect


def test_cohens_kappa_edges(spark):
    perfect = spark.createDataFrame(
        [(c, c) for c in "abcab"], "a string, b string"
    )
    assert cohens_kappa(perfect, "a", "b").collect()[0]["kappa"] == 1.0
    # disjoint label sets: po = 0, pe = 0 -> kappa = 0 (not NULL)
    disjoint = spark.createDataFrame(
        [("x", "y"), ("x", "z")], "a string, b string"
    )
    row = cohens_kappa(disjoint, "a", "b").collect()[0]
    assert row["kappa"] == 0.0 and row["po"] == 0.0 and row["pe"] == 0.0
    # both raters constant: pe = 1 -> kappa NULL (uninformative)
    const = spark.createDataFrame(
        [("x", "x"), ("x", "x")], "a string, b string"
    )
    assert cohens_kappa(const, "a", "b").collect()[0]["kappa"] is None


def test_kappa_ece_plans_stay_jvm_side(spark, scored):
    df = spark.createDataFrame([("x", "y")], "a string, b string")
    assert_plan(cohens_kappa(df, "a", "b"), forbid_python=True)
    assert_plan(
        expected_calibration_error(scored, "score", "label"),
        forbid_python=True,
    )
    # the contingency exchange must be REUSED, not recomputed per
    # consumer — the corpus is touched once. AQE performs exchange
    # reuse at RUNTIME, so assert on the final adaptive plan after
    # execution (executed_plan_str is pre-AQE by design). Since the r9
    # exchange-count pass (VERDICT r8 task #6) the marginal dot product
    # is ONE unpivoted groupBy over the contingency frame instead of
    # two marginal groupBys + a join, so exactly one consumer branch
    # reuses the contingency shuffle and the whole plan carries at
    # most 5 exchanges (was 7).
    big = spark.createDataFrame(
        [("x", "y"), ("x", "x"), ("y", "y")] * 50, "a string, b string"
    )
    out = cohens_kappa(big, "a", "b")
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert final.count("ReusedExchange") >= 1
    assert_plan(cohens_kappa(big, "a", "b"), max_shuffles=5)


def mirror_fleiss(ratings):
    """(item, category) rows -> (kappa, p_bar, p_e) — independent of
    the Spark cell/marginal formulation."""
    from collections import Counter, defaultdict

    per: dict = defaultdict(Counter)
    for i, k in ratings:
        per[i][k] += 1
    kept = {i: c for i, c in per.items() if sum(c.values()) >= 2}
    if not kept:
        return None, None, None
    pis, cat, total = [], Counter(), 0
    for c in kept.values():
        n = sum(c.values())
        pis.append(sum(v * (v - 1) for v in c.values()) / (n * (n - 1)))
        cat.update(c)
        total += n
    pbar = sum(pis) / len(pis)
    pe = sum((v / total) ** 2 for v in cat.values())
    kappa = (pbar - pe) / (1 - pe) if pe < 1.0 else None
    return kappa, pbar, pe


def test_fleiss_kappa_matches_mirror(spark):
    rng = random.Random(17)
    cats = ["keep", "drop", "unsure"]
    ratings = []
    for item in range(80):
        # majority category per item + dissent; varying rater counts
        maj = rng.choice(cats)
        for _ in range(rng.choice([3, 4, 5])):
            ratings.append(
                (item, maj if rng.random() < 0.7 else rng.choice(cats))
            )
    # single-rating item and NULL rows must be excluded
    ratings.append((9001, "keep"))
    df = spark.createDataFrame(
        ratings + [(None, "keep"), (5, None)], "item long, cat string"
    )
    got = fleiss_kappa(df, "item", "cat").collect()[0]
    kappa, pbar, pe = mirror_fleiss(ratings)  # mirror excludes 9001 itself
    assert got["n_items"] == 80
    assert got["kappa"] == pytest.approx(kappa, abs=1e-6)
    assert got["p_bar"] == pytest.approx(pbar, abs=1e-6)
    assert got["p_e"] == pytest.approx(pe, abs=1e-6)
    assert 0 < got["kappa"] < 1


def test_fleiss_kappa_edges(spark):
    # perfect multi-category agreement -> kappa 1
    perfect = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(10) for _ in range(3)],
        "item long, cat string",
    )
    assert fleiss_kappa(perfect, "item", "cat").collect()[0]["kappa"] == 1.0
    # every rating one category -> p_e = 1 -> NULL (uninformative)
    const = spark.createDataFrame(
        [(i, "x") for i in range(5) for _ in range(3)],
        "item long, cat string",
    )
    row = fleiss_kappa(const, "item", "cat").collect()[0]
    assert row["kappa"] is None and row["p_e"] == 1.0
    assert_plan(fleiss_kappa(const, "item", "cat"), forbid_python=True)
    # the (item, category) cell exchange feeds three consumers
    # (item-count filter, per-item agreement, category marginals) —
    # it must be REUSED at runtime, not recomputed per consumer
    out = fleiss_kappa(perfect, "item", "cat")
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert "ReusedExchange" in final


def test_pair_set_metrics_hand_pinned(spark):
    # pred: (1,2), (1,3), and the SAME pair twice in both orientations
    # (4,5)/(5,4) -> canonicalizes to 3 pairs; truth: (2,1), (3,4)
    pred = spark.createDataFrame(
        [(1, 2), (1, 3), (5, 4), (4, 5)], "id_a long, id_b long"
    )
    truth = spark.createDataFrame(
        [(2, 1), (3, 4)], "id_a long, id_b long"
    )
    got = pair_set_metrics(pred, truth).collect()[0]
    assert (got["n_pred"], got["n_true"], got["n_common"]) == (3, 2, 1)
    assert got["precision"] == pytest.approx(1 / 3, abs=1e-6)
    assert got["recall"] == 0.5
    assert got["f1"] == pytest.approx(2 * 1 / (3 + 2), abs=1e-6)
    assert got["jaccard"] == 0.25


def test_pair_set_metrics_edges(spark):
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    empty = pairs.filter(F.lit(False))
    nullish = spark.createDataFrame(
        [(1, None), (None, 2)], "id_a long, id_b long"
    )
    # identical sets: everything 1.0
    same = pair_set_metrics(pairs, pairs).collect()[0]
    assert (same["precision"], same["recall"], same["f1"], same["jaccard"]) \
        == (1.0, 1.0, 1.0, 1.0)
    # empty prediction: precision NULL (undefined), recall 0 (defined),
    # f1 0.0 — a total miss against a non-empty truth set is a
    # measured failure, not "unmeasured" (ADVICE r8 #2)
    row = pair_set_metrics(empty, pairs).collect()[0]
    assert row["precision"] is None and row["recall"] == 0.0
    assert row["f1"] == 0.0
    # disjoint non-empty sets: same rule — f1 is 0.0, not NULL
    other = spark.createDataFrame([(7, 8)], "id_a long, id_b long")
    row = pair_set_metrics(other, pairs).collect()[0]
    assert row["n_common"] == 0 and row["f1"] == 0.0
    # both sides empty: the genuinely undefined 0/0 case stays NULL
    row = pair_set_metrics(empty, empty).collect()[0]
    assert row["f1"] is None and row["jaccard"] is None
    # NULL ids are dropped, not fabricated into pairs
    row = pair_set_metrics(nullish, pairs).collect()[0]
    assert row["n_pred"] == 0
    assert_plan(pair_set_metrics(pairs, pairs), forbid_python=True)


def test_topk_recall_hand_pinned(spark):
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21)],
        "query_id long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        # q1: 2/3 found (one wrong extra); q2: full; q3: approx-only
        # query with no exact truth -> excluded
        [(1, 10), (1, 11), (1, 99), (2, 20), (2, 21), (3, 30)],
        "query_id long, neighbor_id long",
    )
    rows = {r["query_id"]: r for r in topk_recall(approx, exact).collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["n_exact"] == 3 and rows[1]["n_hit"] == 2
    assert rows[1]["recall"] == pytest.approx(2 / 3, abs=1e-6)
    assert rows[2]["recall"] == 1.0
    assert_plan(topk_recall(approx, exact), forbid_python=True)


def test_topk_recall_against_real_searches(spark, sf_dir):
    from real_estate_bigdata_spark.operators.similarity import (
        brute_force_topk,
        build_ivf_index,
        ivf_search,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.orderBy("vec_id").limit(6)
    exact = brute_force_topk(emb, queries, k=10)
    index = build_ivf_index(emb, n_lists=8, seed=42)
    # full probe == exact candidate set -> recall exactly 1 per query
    full = ivf_search(index, queries, k=10, n_probe=8)
    rows = topk_recall(full, exact).collect()
    assert len(rows) == 6
    assert all(r["recall"] == 1.0 for r in rows)
    # pruned probe: recall in (0, 1], macro-average within the pinned
    # floor the dedicated recall tests enforce
    pruned = ivf_search(index, queries, k=10, n_probe=2)
    got = topk_recall(pruned, exact).agg(F.avg("recall")).collect()[0][0]
    assert 0.3 <= got <= 1.0


def test_ranking_compare_matches_paired_t_mirror(judged_ranking):
    import math

    ranked, rel = judged_ranking
    # system B: the same candidates served in REVERSED rank order —
    # a genuinely different ranking over identical judgments
    n_per_q = ranked.groupBy("query_id").count()
    rev = (
        ranked.join(n_per_q, "query_id")
        .withColumn("rank", (F.col("count") - F.col("rank") + 1).cast("int"))
        .drop("count")
    )
    ma = ranking_metrics(ranked, rel, k=10)
    mb = ranking_metrics(rev, rel, k=10)
    got = ranking_compare(ma, mb, metric="ndcg_at_k").collect()[0]

    da = {r["query_id"]: r["ndcg_at_k"] for r in ma.collect()}
    db = {r["query_id"]: r["ndcg_at_k"] for r in mb.collect()}
    pairs = [
        (da[q], db[q])
        for q in set(da) & set(db)
        if da[q] is not None and db[q] is not None
    ]
    deltas = [b - a for a, b in pairs]
    n = len(deltas)
    mean_d = sum(deltas) / n
    sd = math.sqrt(sum((d - mean_d) ** 2 for d in deltas) / (n - 1))
    assert got["n"] == n
    assert got["mean_a"] == pytest.approx(
        sum(a for a, _ in pairs) / n, abs=1e-6
    )
    assert got["mean_delta"] == pytest.approx(mean_d, abs=1e-6)
    assert got["t_stat"] == pytest.approx(
        mean_d / (sd / math.sqrt(n)), abs=1e-4
    )
    # reversing the ranking hurts on average (the fixture's judgments
    # are random over a 1000-doc space with 20 retrieved, so the
    # per-query deltas are noisy — direction, not significance, is
    # the stable property here)
    assert got["mean_delta"] < 0 and got["t_stat"] < 0


def test_ranking_compare_edges(spark, judged_ranking):
    ranked, rel = judged_ranking
    m = ranking_metrics(ranked, rel, k=10)
    # identical systems: zero delta, sd 0 -> t NULL (nothing to test)
    same = ranking_compare(m, m).collect()[0]
    assert same["mean_delta"] == 0.0 and same["t_stat"] is None
    # unmeasurable-in-one-system queries drop out of the pairing
    mb = m.withColumn(
        "ndcg_at_k",
        F.when(F.col("query_id") == 0, F.lit(None)).otherwise(
            F.col("ndcg_at_k")
        ),
    )
    n_all = same["n"]
    assert ranking_compare(m, mb).collect()[0]["n"] == n_all - 1
    # a single pair cannot carry a t statistic
    one = ranking_compare(
        m.filter(F.col("query_id") == 1), m.filter(F.col("query_id") == 1)
    ).collect()[0]
    assert one["n"] == 1 and one["t_stat"] is None
    assert_plan(ranking_compare(m, mb), forbid_python=True)


def test_ranking_plans_stay_jvm_side(judged_ranking):
    ranked, rel = judged_ranking
    assert_plan(ranking_metrics(ranked, rel, k=10), forbid_python=True)
    assert_plan(
        auc_by_slice(
            ranked.withColumn("label", (F.col("doc_id") % 2).cast("int")),
            "query_id",
            "rank",
            "label",
        ),
        forbid_python=True,
    )


def test_evaluation_plans_stay_jvm_side(scored):
    """No Python stages anywhere; AUC keeps its bounded shuffle shape
    (hash exchange for the score histogram + single-partition exchanges
    for the ordered window over DISTINCT scores and the final one-row
    aggregate — never a corpus-wide global sort)."""
    assert_plan(auc_score(scored, "score", "label"), max_shuffles=4,
                forbid_python=True)
    assert_plan(calibration_bins(scored), max_shuffles=2, forbid_python=True)
    assert_plan(
        confusion_at_threshold(scored), max_shuffles=2, forbid_python=True
    )
    assert_plan(
        precision_at_k(scored, "score", "label", "id", 5),
        max_shuffles=2,
        forbid_python=True,
    )
    # the top-k is a TakeOrdered, not a global sort
    from real_estate_bigdata_spark.plans import executed_plan_str

    plan = executed_plan_str(
        precision_at_k(scored, "score", "label", "id", 5)
    )
    assert "TakeOrderedAndProject" in plan


def mirror_krippendorff(ratings):
    """(item, category) rows -> nominal alpha, independent of the Spark
    coincidence-matrix formulation (direct per-unit pair counting)."""
    from collections import Counter, defaultdict

    by_item: dict = defaultdict(Counter)
    for i, c in ratings:
        by_item[i][c] += 1
    pairable = {
        i: cnt for i, cnt in by_item.items() if sum(cnt.values()) >= 2
    }
    n = sum(sum(cnt.values()) for cnt in pairable.values())
    if n < 2:
        return None
    do_num = 0.0
    for cnt in pairable.values():
        nu = sum(cnt.values())
        do_num += (nu * nu - sum(v * v for v in cnt.values())) / (nu - 1)
    pooled: Counter = Counter()
    for cnt in pairable.values():
        pooled.update(cnt)
    de = (n * n - sum(v * v for v in pooled.values())) / (n * (n - 1))
    if de == 0:
        return None
    return 1.0 - (do_num / n) / de


def test_krippendorff_alpha_matches_mirror(spark):
    rng = random.Random(7)
    # 40 items, ragged rater coverage (1-4 ratings each) and 3 categories
    rows = []
    for i in range(40):
        for _ in range(rng.randint(1, 4)):
            rows.append((i, rng.choice(["a", "b", "c"])))
    df = spark.createDataFrame(rows, "item long, cat string")
    got = krippendorff_alpha(df, "item", "cat").collect()[0]
    want = mirror_krippendorff(rows)
    assert got["alpha"] == pytest.approx(want, abs=1e-6)
    # single-rating items excluded from n_items
    n_pairable = len(
        {i for i, _ in rows}
        - {i for i in range(40) if sum(1 for j, _ in rows if j == i) < 2}
    )
    assert got["n_items"] == n_pairable


def test_krippendorff_alpha_edges(spark):
    # perfect agreement -> 1.0
    perfect = spark.createDataFrame(
        [(i, "x" if i % 2 else "y") for i in range(10) for _ in range(3)],
        "item long, cat string",
    )
    assert krippendorff_alpha(perfect, "item", "cat").collect()[0][
        "alpha"
    ] == 1.0
    # one category everywhere -> d_e = 0 -> NULL (not 1.0)
    const = spark.createDataFrame(
        [(i, "x") for i in range(5) for _ in range(2)],
        "item long, cat string",
    )
    row = krippendorff_alpha(const, "item", "cat").collect()[0]
    assert row["alpha"] is None and row["d_e"] == 0.0
    # items with one rating contribute nothing; NULLs excluded
    sparse = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "x"), (None, "x"), (3, None)],
        "item long, cat string",
    )
    row = krippendorff_alpha(sparse, "item", "cat").collect()[0]
    assert row["n_items"] == 1 and row["n_ratings"] == 2
    assert_plan(krippendorff_alpha(sparse, "item", "cat"), forbid_python=True)


def mirror_rbo(a, b, p, k):
    """Prefix RBO from the definition (per-depth set intersections)."""
    s = 0.0
    for d in range(1, k + 1):
        s += p ** (d - 1) * len(set(a[:d]) & set(b[:d])) / d
    return (1 - p) * s


def _ranked(spark, qid, docs):
    return spark.createDataFrame(
        [(qid, doc, r + 1) for r, doc in enumerate(docs)],
        "query_id long, doc_id long, rank int",
    )


def test_rbo_matches_mirror_and_edges(spark):
    p, k = 0.9, 10
    a_docs = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
    b_docs = [2, 1, 3, 11, 5, 12, 7, 13, 9, 14]
    a = _ranked(spark, 0, a_docs).union(_ranked(spark, 1, a_docs))
    b = _ranked(spark, 0, b_docs).union(_ranked(spark, 1, a_docs))
    out = {
        r["query_id"]: r["rbo"]
        for r in rank_biased_overlap(a, b, p=p, k=k).collect()
    }
    assert out[0] == pytest.approx(mirror_rbo(a_docs, b_docs, p, k), abs=1e-6)
    # identical prefixes: (1-p) * sum p^(d-1) — NOT 1.0 (no residual)
    ident = (1 - p) * sum(p ** (d - 1) for d in range(1, k + 1))
    assert out[1] == pytest.approx(ident, abs=1e-6)
    # disjoint prefixes -> 0; one-sided query -> 0 (emitted, not absent)
    c = _ranked(spark, 0, [100, 101, 102]).union(_ranked(spark, 9, [1, 2]))
    out = {
        r["query_id"]: r["rbo"]
        for r in rank_biased_overlap(a, c, p=p, k=k).collect()
    }
    assert out[0] == 0.0 and out[9] == 0.0 and out[1] == 0.0
    assert_plan(rank_biased_overlap(a, b), forbid_python=True)


def test_rbo_validates_args(spark):
    a = _ranked(spark, 0, [1, 2])
    with pytest.raises(ValueError):
        rank_biased_overlap(a, a, p=1.0)
    with pytest.raises(ValueError):
        rank_biased_overlap(a, a, k=0)


def test_rbo_duplicate_doc_keeps_best_rank(spark):
    """A doc listed twice on one side must count ONCE at its best rank
    (set semantics), never double through the join."""
    a = spark.createDataFrame(
        [(0, 7, 1), (0, 7, 3), (0, 8, 2)],
        "query_id long, doc_id long, rank int",
    )
    b = _ranked(spark, 0, [7, 8])
    got = rank_biased_overlap(a, b, p=0.9, k=10).collect()[0]["rbo"]
    clean = _ranked(spark, 0, [7, 8])
    want = rank_biased_overlap(clean, b, p=0.9, k=10).collect()[0]["rbo"]
    assert got == want


def mirror_krippendorff_metric(ratings, metric):
    """(item, rating) rows -> alpha under the given difference function,
    independent of the Spark formulation: direct enumeration of ordered
    RATING pairs within each pairable unit (not category-pair algebra),
    pooled-marginal delta computed per pair from scratch."""
    from collections import Counter, defaultdict

    by_item: dict = defaultdict(list)
    for i, c in ratings:
        if i is None or c is None:
            continue
        by_item[i].append(c)
    pairable = {i: v for i, v in by_item.items() if len(v) >= 2}
    n = sum(len(v) for v in pairable.values())
    if n < 2:
        return None
    pooled: Counter = Counter()
    for v in pairable.values():
        pooled.update(v)
    cats = sorted(pooled)

    def delta(a, b):
        if a == b:
            return 0.0
        if metric == "nominal":
            return 1.0
        if metric == "interval":
            return float((a - b) ** 2)
        lo, hi = min(a, b), max(a, b)
        mass = sum(pooled[g] for g in cats if lo <= g <= hi)
        return (mass - (pooled[lo] + pooled[hi]) / 2.0) ** 2

    d_o = 0.0
    for v in pairable.values():
        s = sum(
            delta(a, b)
            for x, a in enumerate(v)
            for y, b in enumerate(v)
            if x != y
        )
        d_o += s / (len(v) - 1)
    d_o /= n
    d_e = sum(
        pooled[a] * pooled[b] * delta(a, b)
        for a in cats
        for b in cats
        if a != b
    ) / (n * (n - 1))
    if d_e == 0:
        return None
    return 1.0 - d_o / d_e


class TestKrippendorffMetrics:
    """r10: interval/ordinal difference functions next to nominal."""

    def _ragged(self, spark, seed=11, levels=(0, 1, 2, 5)):
        rng = random.Random(seed)
        rows = []
        for i in range(40):
            for _ in range(rng.randint(1, 4)):
                rows.append((i, rng.choice(levels)))
        return rows, spark.createDataFrame(rows, "item long, cat long")

    @pytest.mark.parametrize("metric", ["nominal", "interval", "ordinal"])
    def test_matches_independent_mirror(self, spark, metric):
        rows, df = self._ragged(spark)
        got = krippendorff_alpha(df, "item", "cat", metric=metric).collect()[0]
        want = mirror_krippendorff_metric(rows, metric)
        assert got["alpha"] == pytest.approx(want, abs=1e-6)

    def test_binary_interval_equals_nominal(self, spark):
        # with two categories the only cross-pair distance is a constant,
        # so interval and nominal alphas coincide exactly
        rows, _ = self._ragged(spark, seed=3, levels=(0, 1))
        df = spark.createDataFrame(rows, "item long, cat long")
        a_nom = krippendorff_alpha(df, "item", "cat").collect()[0]["alpha"]
        a_int = krippendorff_alpha(
            df, "item", "cat", metric="interval"
        ).collect()[0]["alpha"]
        assert a_nom == pytest.approx(a_int, abs=1e-6)

    def test_interval_rewards_near_misses_over_far(self, spark):
        # every item disagrees by 1 on a 0..10 scale: nominal sees full
        # disagreement, interval sees small squared distances vs the
        # pooled spread -> interval alpha must be higher
        rows = []
        for i in range(20):
            base = (i * 3) % 9
            rows.append((i, base))
            rows.append((i, base + 1))
        df = spark.createDataFrame(rows, "item long, cat long")
        a_nom = krippendorff_alpha(df, "item", "cat").collect()[0]["alpha"]
        a_int = krippendorff_alpha(
            df, "item", "cat", metric="interval"
        ).collect()[0]["alpha"]
        assert a_int > a_nom
        assert a_int == pytest.approx(
            mirror_krippendorff_metric(rows, "interval"), abs=1e-6
        )

    def test_perfect_agreement_is_one_under_all_metrics(self, spark):
        rows = [(i, i % 3) for i in range(12) for _ in range(3)]
        df = spark.createDataFrame(rows, "item long, cat long")
        for metric in ("nominal", "interval", "ordinal"):
            got = krippendorff_alpha(
                df, "item", "cat", metric=metric
            ).collect()[0]
            assert got["alpha"] == pytest.approx(1.0, abs=1e-6)
            assert got["d_o"] == 0.0

    def test_validates_metric_and_category_type(self, spark):
        df = spark.createDataFrame(
            [(1, "a"), (1, "b")], "item long, cat string"
        )
        with pytest.raises(ValueError, match="metric"):
            krippendorff_alpha(df, "item", "cat", metric="ratio")
        with pytest.raises(ValueError, match="numeric"):
            krippendorff_alpha(df, "item", "cat", metric="interval")
        with pytest.raises(ValueError, match="numeric"):
            krippendorff_alpha(df, "item", "cat", metric="ordinal")


def mirror_item_disagreement(ratings, metric):
    """(item, rating) -> {item: (n_ratings, disagreement)} — direct
    ordered-pair enumeration, independent of the cell algebra."""
    from collections import defaultdict

    by_item: dict = defaultdict(list)
    for i, c in ratings:
        if i is None or c is None:
            continue
        by_item[i].append(c)
    out = {}
    for i, v in by_item.items():
        if len(v) < 2:
            continue
        s = 0.0
        for x, a in enumerate(v):
            for y, b in enumerate(v):
                if x == y:
                    continue
                if metric == "nominal":
                    s += 1.0 if a != b else 0.0
                else:
                    s += float((a - b) ** 2)
        out[i] = (len(v), s / (len(v) * (len(v) - 1)))
    return out


def mirror_rater_reliability(rows):
    """(item, rater, rating) -> {rater: (n_rated, n_judged, rate)} —
    explicit leave-one-out majority with smallest-category tie-break."""
    from collections import Counter, defaultdict

    votes: dict = defaultdict(Counter)
    seen = set()
    for i, r, c in rows:
        if i is None or r is None or c is None:
            continue
        if (i, r, c) in seen:
            continue
        seen.add((i, r, c))
        votes[i][c] += 1
    per_rater: dict = defaultdict(lambda: [0, 0, 0])
    for i, r, c in seen:
        cnt = votes[i].copy()
        cnt[c] -= 1
        others = sum(cnt.values())
        per_rater[r][0] += 1
        if others == 0:
            continue
        m = max(cnt.values())
        majority = min(k for k, v in cnt.items() if v == m)
        per_rater[r][1] += 1
        per_rater[r][2] += 1 if c == majority else 0
    return {
        r: (n, j, (a / j) if j else None)
        for r, (n, j, a) in per_rater.items()
    }


class TestLabelQaTriage:
    """r10: item_disagreement + rater_reliability next to alpha."""

    def _rows(self, seed=13, n=50):
        rng = random.Random(seed)
        rows = []
        for i in range(n):
            for r in range(rng.randint(1, 4)):
                rows.append((i, f"rater{r}", rng.choice([0, 1, 2])))
        return rows

    @pytest.mark.parametrize("metric", ["nominal", "interval"])
    def test_item_disagreement_matches_mirror(self, spark, metric):
        rows = [(i, c) for i, _, c in self._rows()]
        df = spark.createDataFrame(rows, "item long, cat long")
        got = {
            r.item: (r.n_ratings, r.disagreement)
            for r in item_disagreement(df, "item", "cat", metric=metric)
            .collect()
        }
        want = mirror_item_disagreement(rows, metric)
        assert set(got) == set(want)
        for i in got:
            assert got[i][0] == want[i][0]
            assert got[i][1] == pytest.approx(want[i][1], abs=1e-6)

    def test_item_disagreement_unanimous_and_bounds(self, spark):
        df = spark.createDataFrame(
            [(1, 5), (1, 5), (1, 5), (2, 0), (2, 9), (3, 7)],
            "item long, cat long",
        )
        out = {r.item: r for r in item_disagreement(df, "item", "cat").collect()}
        assert out[1].disagreement == 0.0        # unanimous
        assert out[2].disagreement == 1.0        # total split
        assert 3 not in out                      # single rating: no evidence
        ival = {
            r.item: r
            for r in item_disagreement(
                df, "item", "cat", metric="interval"
            ).collect()
        }
        assert ival[1].disagreement == 0.0       # unanimous stays 0
        assert ival[2].disagreement == 81.0      # (0-9)^2
        with pytest.raises(ValueError, match="ordinal"):
            item_disagreement(df, "item", "cat", metric="ordinal")
        with pytest.raises(ValueError, match="numeric"):
            item_disagreement(
                spark.createDataFrame([(1, "a")], "item long, cat string"),
                "item", "cat", metric="interval",
            )

    def test_rater_reliability_matches_mirror(self, spark):
        rows = self._rows(seed=17, n=60)
        df = spark.createDataFrame(rows, "item long, rater string, cat long")
        got = {
            r.rater: (r.n_rated, r.n_judged, r.agreement_rate)
            for r in rater_reliability(df, "item", "rater", "cat").collect()
        }
        want = mirror_rater_reliability(rows)
        assert set(got) == set(want)
        for r in got:
            assert got[r][0] == want[r][0]
            assert got[r][1] == want[r][1]
            if want[r][2] is None:
                assert got[r][2] is None
            else:
                assert got[r][2] == pytest.approx(want[r][2], abs=1e-6)

    def test_rater_reliability_contracts(self, spark):
        # a lone rater is unjudgeable; a duplicated identical rating is
        # ONE vote; ties break to the smallest category
        rows = [
            (1, "a", 0), (1, "a", 0),          # duplicate -> one vote
            (1, "b", 1), (1, "c", 0),
            (2, "solo", 2),                     # unjudgeable item
            (3, "a", 0), (3, "b", 1),           # 1-1 LOO: no tie (own
                                                # vote removed)
        ]
        df = spark.createDataFrame(rows, "item long, rater string, cat long")
        got = {
            r.rater: r
            for r in rater_reliability(df, "item", "rater", "cat").collect()
        }
        # rater a on item 1: others = {b:1, c:0->, c voted 0 so cnt0=1,cnt1=1}
        # own vote 0 removed -> others {0:1 (c), 1:1 (b)} tie -> majority 0
        # -> agrees; on item 3: other is b:1 -> majority 1, a voted 0 ->
        # disagrees => rate 0.5
        assert got["a"].n_rated == 2 and got["a"].n_judged == 2
        assert got["a"].agreement_rate == pytest.approx(0.5, abs=1e-6)
        assert got["solo"].n_rated == 1 and got["solo"].n_judged == 0
        assert got["solo"].agreement_rate is None


def mirror_consensus(rows):
    from collections import Counter, defaultdict

    votes: dict = defaultdict(Counter)
    for i, c in rows:
        if i is None or c is None:
            continue
        votes[i][c] += 1
    out = {}
    for i, cnt in votes.items():
        n = sum(cnt.values())
        m = max(cnt.values())
        label = min(k for k, v in cnt.items() if v == m)
        tied = sum(1 for v in cnt.values() if v == m) > 1
        out[i] = (label, n, m / n, tied)
    return out


class TestConsensusLabels:
    def test_matches_mirror_random(self, spark):
        rng = random.Random(23)
        rows = []
        for i in range(60):
            for _ in range(rng.randint(1, 5)):
                rows.append((i, rng.choice([0, 1, 2])))
        df = spark.createDataFrame(rows, "item long, cat long")
        got = {
            r.item: (r.label, r.n_ratings, r.confidence, r.tied)
            for r in consensus_labels(df, "item", "cat").collect()
        }
        want = mirror_consensus(rows)
        assert set(got) == set(want)
        for i in got:
            assert got[i][0] == want[i][0]
            assert got[i][1] == want[i][1]
            assert got[i][2] == pytest.approx(want[i][2], abs=1e-6)
            assert got[i][3] == want[i][3]

    def test_tie_break_single_rating_and_nulls(self, spark):
        rows = [
            (1, 2), (1, 1),            # 1-1 tie -> smallest label, tied
            (2, 5),                    # single rating kept, conf 1.0
            (3, 0), (3, 0), (3, 9),    # clear majority
            (None, 1), (4, None),      # excluded
        ]
        df = spark.createDataFrame(rows, "item long, cat long")
        got = {r.item: r for r in consensus_labels(df, "item", "cat").collect()}
        assert set(got) == {1, 2, 3}
        assert got[1].label == 1 and got[1].tied is True
        assert got[1].confidence == pytest.approx(0.5)
        assert got[2].label == 5 and got[2].n_ratings == 1
        assert got[2].confidence == 1.0 and got[2].tied is False
        assert got[3].label == 0 and got[3].tied is False
        assert got[3].confidence == pytest.approx(2 / 3, abs=1e-6)


def mirror_dawid_skene(rows, max_iter=20, tol=1e-6, smoothing=0.01):
    """Independent numpy EM (Dawid & Skene 1979), same init/smoothing/
    stopping contract as the operator: returns {item: (label,
    confidence, n_ratings)}."""
    import numpy as np

    votes = sorted({(i, r, k) for i, r, k in rows
                    if i is not None and r is not None and k is not None})
    items = sorted({i for i, _, _ in votes})
    raters = sorted({r for _, r, _ in votes})
    cats = sorted({k for _, _, k in votes})
    ii = {v: n for n, v in enumerate(items)}
    ri = {v: n for n, v in enumerate(raters)}
    ci = {v: n for n, v in enumerate(cats)}
    nI, nR, nC = len(items), len(raters), len(cats)
    post = np.zeros((nI, nC))
    nv = np.zeros(nI)
    for i, r, k in votes:
        post[ii[i], ci[k]] += 1.0
        nv[ii[i]] += 1.0
    post /= nv[:, None]
    for _ in range(max_iter):
        pri = post.mean(axis=0)
        conf = np.zeros((nR, nC, nC))
        for i, r, k in votes:
            conf[ri[r], :, ci[k]] += post[ii[i]]
        tot = conf.sum(axis=2, keepdims=True)
        theta = (conf + smoothing) / (tot + smoothing * nC)
        logp = np.tile(np.log(pri + 1e-300), (nI, 1))
        for i, r, k in votes:
            logp[ii[i]] += np.log(theta[ri[r], :, ci[k]])
        mx = logp.max(axis=1, keepdims=True)
        e = np.exp(logp - mx)
        new_post = e / e.sum(axis=1, keepdims=True)
        delta = np.abs(new_post - post).max()
        post = new_post
        if delta < tol:
            break
    out = {}
    for i in items:
        p = post[ii[i]]
        m = p.max()
        label = min(cats[c] for c in range(nC) if p[c] == m)
        out[i] = (label, round(float(m), 6), int(nv[ii[i]]))
    return out


class TestDawidSkene:
    def test_unreliable_rater_outvoted(self, spark):
        # two honest raters + one who always answers 0: EM must learn
        # the constant rater's confusion and recover the truth
        rows = []
        for i in range(30):
            t = i % 3
            rows += [(i, "g1", t), (i, "g2", t), (i, "bad", 0)]
        df = spark.createDataFrame(rows, "item long, rater string, cat long")
        got = {r.item: r for r in dawid_skene(df, "item", "rater", "cat").collect()}
        assert all(got[i].label == i % 3 for i in range(30))
        # majority vote CANNOT do this when one honest rater is absent:
        # the same fixture minus g2 ties 1-1 everywhere, but EM still
        # recovers most items via the learned confusions
        assert all(got[i].confidence > 0.99 for i in range(30))

    def test_matches_numpy_mirror(self, spark):
        rng = random.Random(41)
        rows = []
        for i in range(50):
            truth = rng.choice([0, 1, 2])
            for r in range(4):
                noisy = truth if rng.random() < 0.7 else rng.choice([0, 1, 2])
                if rng.random() < 0.8:  # missingness
                    rows.append((i, f"r{r}", noisy))
        df = spark.createDataFrame(rows, "item long, rater string, cat long")
        got = {
            r.item: (r.label, r.confidence, r.n_ratings)
            for r in dawid_skene(df, "item", "rater", "cat").collect()
        }
        want = mirror_dawid_skene(rows)
        assert set(got) == set(want)
        for i in got:
            assert got[i][2] == want[i][2]
            # float reduction order differs (linear-probe precedent):
            # posteriors approx-match; labels must agree whenever the
            # mirror's win margin is clear
            assert got[i][1] == pytest.approx(want[i][1], abs=1e-4)
            if want[i][1] > 0.51:
                assert got[i][0] == want[i][0], i

    def test_validation_and_empty(self, spark):
        df = spark.createDataFrame([(1, "a", 0)], "item long, rater string, cat long")
        with pytest.raises(ValueError, match="max_iter"):
            dawid_skene(df, "item", "rater", "cat", max_iter=0)
        with pytest.raises(ValueError, match="smoothing"):
            dawid_skene(df, "item", "rater", "cat", smoothing=0.0)
        empty = spark.createDataFrame([], "item long, rater string, cat long")
        assert dawid_skene(empty, "item", "rater", "cat").count() == 0

    def test_empty_schema_matches_nonempty_for_string_columns(self, spark):
        """ADVICE r10: with string item/category columns the empty
        edge must produce the SAME dtypes as the non-empty path, or a
        downstream unionByName breaks on the empty partition."""
        schema = "item string, rater string, cat string"
        nonempty = dawid_skene(
            spark.createDataFrame(
                [("doc-1", "a", "pos"), ("doc-1", "b", "pos")], schema
            ),
            "item", "rater", "cat", max_iter=1,
        )
        empty = dawid_skene(
            spark.createDataFrame([], schema), "item", "rater", "cat"
        )
        # dtypes must agree (nullability legitimately differs: the
        # non-empty count() is non-nullable)
        assert empty.dtypes == nonempty.dtypes
        # and the union that motivated the fix actually works
        assert nonempty.unionByName(empty).count() == 1

    def test_tol_convergence_stops_early_and_matches_fixed_budget(
        self, spark, monkeypatch
    ):
        """VERDICT r10 task #5: the tol-stopped mode must EXIT before
        max_iter on a converged fixture (unanimous votes converge after
        one E-step) and produce the fixed-budget answer. Iterations are
        observed via the per-iteration localCheckpoint (one per E-step,
        plus two upfront for valid/init) — deterministic, no timing."""
        rows = [(i, f"r{r}", i % 3) for i in range(12) for r in range(3)]
        df = spark.createDataFrame(rows, "item long, rater string, cat long")
        # patch the CONCRETE class of this session's frames (PySpark 4
        # splits the ABC from pyspark.sql.classic.dataframe.DataFrame)
        df_cls = type(df)
        calls = {"n": 0}
        orig = df_cls.localCheckpoint

        def counting(self, eager=True):
            calls["n"] += 1
            return orig(self, eager=eager)

        monkeypatch.setattr(df_cls, "localCheckpoint", counting)
        # small_votes_threshold=0 forces the DISTRIBUTED loop (the r12
        # numpy fast path would otherwise absorb this tiny fixture and
        # the checkpoint counter would see nothing)
        got_tol = dawid_skene(
            df, "item", "rater", "cat", max_iter=50, tol=1e-6,
            small_votes_threshold=0,
        ).collect()
        iters = calls["n"] - 2
        assert iters < 50, "tol mode never exited early"
        assert iters >= 1
        monkeypatch.undo()
        got_fixed = dawid_skene(
            df, "item", "rater", "cat", max_iter=5, tol=None,
            small_votes_threshold=0,
        ).collect()
        as_map = lambda rs: {r.item: (r.label, r.n_ratings) for r in rs}  # noqa: E731
        assert as_map(got_tol) == as_map(got_fixed)
        assert all(r.label == r.item % 3 for r in got_tol)

    def test_distributed_path_matches_fast(self, spark):
        """r12 (the bradley_terry precedent): the above-threshold
        DISTRIBUTED EM loop and the bounded numpy fast path must agree
        on labels/counts exactly and on confidences to float-reduction
        tolerance, in both tol and fixed-budget modes."""
        rng = random.Random(13)
        rows = []
        for i in range(40):
            truth = i % 3
            for r in range(3):
                noisy = truth if rng.random() < 0.75 else rng.choice([0, 1, 2])
                rows.append((i, f"r{r}", noisy))
        df = spark.createDataFrame(rows, "item long, rater string, cat long")
        for kw in ({"max_iter": 4, "tol": None}, {"max_iter": 25, "tol": 1e-6}):
            fast = {
                r.item: r
                for r in dawid_skene(df, "item", "rater", "cat", **kw).collect()
            }
            dist = {
                r.item: r
                for r in dawid_skene(
                    df, "item", "rater", "cat",
                    small_votes_threshold=0, **kw
                ).collect()
            }
            assert set(fast) == set(dist)
            for i in fast:
                assert fast[i].label == dist[i].label, (kw, i)
                assert fast[i].n_ratings == dist[i].n_ratings
                assert fast[i].confidence == pytest.approx(
                    dist[i].confidence, abs=1e-4
                )

    def test_skewed_rater_majority_of_votes(self, spark):
        """VERDICT r10 task #5: one rater holding 90% of all votes must
        not break the broadcast-confusion assumption or the learned
        weighting — the dominant rater is honest here, the sparse ones
        noisy, and EM should track the dominant rater's answers."""
        rng = random.Random(7)
        rows = []
        for i in range(100):
            t = i % 4
            rows.append((i, "dominant", t))  # labels every item
            if i < 11:  # sparse raters cover ~10% of items
                rows.append((i, "s1", rng.choice([0, 1, 2, 3])))
                rows.append((i, "s2", rng.choice([0, 1, 2, 3])))
        df = spark.createDataFrame(rows, "item long, rater string, cat long")
        got = {
            r.item: r for r in dawid_skene(df, "item", "rater", "cat").collect()
        }
        assert len(got) == 100
        # the dominant honest rater's labels win on every item it alone
        # rated, and on the contested items EM still recovers >= 9/11
        alone = [i for i in range(11, 100)]
        assert all(got[i].label == i % 4 for i in alone)
        contested_ok = sum(got[i].label == i % 4 for i in range(11))
        assert contested_ok >= 9
        # mirror agreement on the full skewed fixture
        want = mirror_dawid_skene(rows)
        for i in got:
            assert got[i].confidence == pytest.approx(want[i][1], abs=1e-4)


    def test_small_votes_threshold_boundary(self, spark, monkeypatch):
        """At ``small_votes_threshold`` equal to the distinct-vote count
        the EM runs in numpy on the probed votes; one below, in the
        distributed loop. Labels and counts agree exactly, confidences
        to float-reduction tolerance."""
        from real_estate_bigdata_spark.operators import evaluation as ev

        rng = random.Random(5)
        rows = [
            (i, f"r{r}", i % 3 if rng.random() < 0.8 else rng.choice([0, 1, 2]))
            for i in range(12)
            for r in range(3)
        ]
        df = spark.createDataFrame(rows, "item long, rater string, cat long")
        calls = []
        real = ev._dawid_skene_numpy

        def spy(*args, **kw):
            calls.append(1)
            return real(*args, **kw)

        monkeypatch.setattr(ev, "_dawid_skene_numpy", spy)
        got = {}
        for th, n_numpy in ((len(rows), 1), (len(rows) - 1, 0)):
            calls.clear()
            got[th] = {
                r.item: r
                for r in dawid_skene(
                    df, "item", "rater", "cat", max_iter=4, tol=None,
                    small_votes_threshold=th,
                ).collect()
            }
            assert len(calls) == n_numpy, th
        fast, dist = got[len(rows)], got[len(rows) - 1]
        assert set(fast) == set(dist)
        for i in fast:
            assert (fast[i].label, fast[i].n_ratings) == (
                dist[i].label, dist[i].n_ratings
            )
            assert fast[i].confidence == pytest.approx(
                dist[i].confidence, abs=1e-4
            )


class TestPairwisePreference:
    """r11 preference tier: win-rate/Wilson algebra vs hand values,
    validity contract, and Bradley-Terry vs an independent numpy MM
    mirror (the Dawid-Skene precedent: allclose, never bit-exact)."""

    @staticmethod
    def _mirror_bt(rows, max_iter=10, smoothing=0.1):
        import numpy as np

        valid = [
            (a, b, w)
            for a, b, w in rows
            if a is not None and b is not None and a != b and w in (a, b)
        ]
        items = sorted({x for a, b, _ in valid for x in (a, b)})
        idx = {x: i for i, x in enumerate(items)}
        n = np.zeros((len(items), len(items)))
        wins = np.zeros(len(items))
        for a, b, w in valid:
            i, j = idx[a], idx[b]
            n[i, j] += 1
            n[j, i] += 1
            wins[idx[w]] += 1
        s = np.ones(len(items))
        for _ in range(max_iter):
            denom = (n / np.add.outer(s, s)).sum(axis=1)
            s = (wins + smoothing / 2) / (denom + smoothing / (s + 1))
            s = s / s.mean()
        games = n.sum(axis=1)
        return {x: (s[idx[x]], int(games[idx[x]])) for x in items}

    def _rows(self):
        rng = random.Random(17)
        items = [f"m{k}" for k in range(6)]
        truth = {m: 0.5 + k for k, m in enumerate(items)}
        rows = []
        for _ in range(300):
            a, b = rng.sample(items, 2)
            pa = truth[a] / (truth[a] + truth[b])
            rows.append((a, b, a if rng.random() < pa else b))
        return rows

    def test_win_rates_hand_values_and_validity(self, spark):
        rows = [
            ("A", "B", "A"), ("A", "B", "A"), ("A", "B", "B"),
            ("A", "C", None),           # tie
            ("C", "C", "C"),            # self -> invalid
            ("A", None, "A"),           # NULL side -> invalid
            ("A", "D", "Z"),            # foreign winner -> invalid
        ]
        df = spark.createDataFrame(
            rows, "item_a string, item_b string, winner string"
        )
        got = {r.item: r for r in pairwise_win_rates(df).collect()}
        assert set(got) == {"A", "B", "C"}
        assert (got["A"].n_games, got["A"].n_wins, got["A"].n_ties) == (4, 2, 1)
        assert got["A"].win_rate == pytest.approx(2.5 / 4)
        assert (got["C"].n_games, got["C"].n_wins, got["C"].n_ties) == (1, 0, 1)
        # Wilson hand-check for B: 1 win of 3, z = 1.959963985
        z = 1.959963985
        nb, p = 3.0, 1.0 / 3.0
        center = (p + z * z / (2 * nb)) / (1 + z * z / nb)
        half = z * ((p * (1 - p) / nb + z * z / (4 * nb * nb)) ** 0.5) / (
            1 + z * z / nb
        )
        assert got["B"].wilson_lo == pytest.approx(center - half, abs=1e-6)
        assert got["B"].wilson_hi == pytest.approx(center + half, abs=1e-6)
        assert all(
            0.0 <= r.wilson_lo <= r.win_rate <= r.wilson_hi <= 1.0
            for r in got.values()
        )

    def test_bradley_terry_matches_numpy_mirror(self, spark):
        rows = self._rows()
        df = spark.createDataFrame(
            rows, "item_a string, item_b string, winner string"
        )
        got = {
            r.item: (r.strength, r.n_games)
            for r in bradley_terry(df, max_iter=10).collect()
        }
        want = self._mirror_bt(rows)
        assert set(got) == set(want)
        for m in got:
            assert got[m][1] == want[m][1], m
            assert got[m][0] == pytest.approx(want[m][0], rel=1e-4), m
        # transitive sanity: learned order tracks the planted truth
        order = sorted(got, key=lambda m: got[m][0])
        assert order == [f"m{k}" for k in range(6)]

    def test_bradley_terry_undefeated_item_finite(self, spark):
        rows = [("A", "B", "A"), ("A", "C", "A"), ("B", "C", "B")]
        df = spark.createDataFrame(
            rows, "item_a string, item_b string, winner string"
        )
        got = {r.item: r.strength for r in bradley_terry(df).collect()}
        import math

        assert all(math.isfinite(v) and v > 0 for v in got.values())
        assert got["A"] > got["B"] > got["C"]

    def test_bradley_terry_distributed_path_matches_fast(self, spark):
        """small_pairs_threshold=0 forces the distributed per-round
        loop (the above-threshold branch); it must agree with the
        bounded numpy fast path — the CC fast-path parity precedent.
        Few iterations: each distributed round is a full job wave."""
        rows = self._rows()[:60]
        df = spark.createDataFrame(
            rows, "item_a string, item_b string, winner string"
        )
        fast = {
            r.item: (round(r.strength, 4), r.n_games)
            for r in bradley_terry(df, max_iter=3).collect()
        }
        dist = {
            r.item: (round(r.strength, 4), r.n_games)
            for r in bradley_terry(
                df, max_iter=3, small_pairs_threshold=0
            ).collect()
        }
        assert fast == dist

    def test_bradley_terry_small_pairs_threshold_boundary(
        self, spark, monkeypatch
    ):
        """At ``small_pairs_threshold`` equal to the aggregated pair
        count the MM iteration runs in numpy; one below, in the
        distributed loop. Both give the same strengths and games."""
        from real_estate_bigdata_spark.operators import evaluation as ev

        rows = [
            ("A", "B", "A"), ("A", "B", "B"), ("A", "C", "A"),
            ("B", "C", "B"), ("C", "D", "C"), ("D", "E", "E"),
            ("E", "A", "A"),
        ]
        n_pairs = 6  # AB, AC, BC, CD, DE, AE
        df = spark.createDataFrame(
            rows, "item_a string, item_b string, winner string"
        )
        calls = []
        real = ev._bt_mm_update

        def spy(*args):
            calls.append(1)
            return real(*args)

        monkeypatch.setattr(ev, "_bt_mm_update", spy)
        got = {}
        for th, n_numpy in ((n_pairs, 3), (n_pairs - 1, 0)):
            calls.clear()
            got[th] = {
                r.item: (round(r.strength, 4), r.n_games)
                for r in bradley_terry(
                    df, max_iter=3, small_pairs_threshold=th
                ).collect()
            }
            assert len(calls) == n_numpy, th
        assert got[n_pairs] == got[n_pairs - 1]

    def test_bradley_terry_validation_and_empty(self, spark):
        df = spark.createDataFrame(
            [("A", "B", "A")], "item_a string, item_b string, winner string"
        )
        with pytest.raises(ValueError, match="max_iter"):
            bradley_terry(df, max_iter=0)
        with pytest.raises(ValueError, match="smoothing"):
            bradley_terry(df, smoothing=-1.0)
        empty = bradley_terry(
            spark.createDataFrame(
                [], "item_a string, item_b string, winner string"
            )
        )
        assert empty.count() == 0
        assert empty.columns == ["item", "strength", "n_games"]
