"""Classifier / quality-score evaluation over scored corpora.

Once a curation signal exists — the closed-form linear probe
(``operators.linear_probe``), a Gopher/C4 rule battery, a bigram LM
score — the pipeline needs to MEASURE it before trusting it with 100 TB
of keep/drop decisions. These are the standard evaluation statistics
(AUC, calibration, confusion, precision@k), each expressed as a
distributed aggregation so no corpus-sized state ever concentrates:

* ``auc_score`` — exact ROC-AUC via the Mann-Whitney rank statistic
  with the standard tie correction (ties contribute 1/2; Hanley &
  McNeil 1982). Distributed shape: ``groupBy(score)`` collapses the
  corpus to its DISTINCT scores map-side (one shuffle, output bounded
  by score cardinality — scores here are rounded columns, so the
  collapsed frame is tiny relative to the corpus), then one ordered
  window over that collapsed frame accumulates the negative mass below
  each score. The single-partition window runs over distinct scores,
  never rows.
* ``calibration_bins`` — reliability-diagram bins (mean score vs
  empirical positive rate per fixed-width bin). Pure groupBy.
* ``confusion_at_threshold`` — tp/fp/tn/fn + accuracy/precision/
  recall/F1 in ONE full-corpus aggregate (map-side partial, no
  intermediate frame).
* ``precision_at_k`` — precision among the global top-k by score with
  a deterministic id tiebreak (TakeOrderedAndProject plan: per-
  partition heaps, driver merges k rows, never a global sort).

The reference has no evaluation surface (north-star ABSENT category);
semantics follow the standard definitions, and every op here is
ANSI-SQL-expressible, so the driver queries carry full DuckDB oracles.
All outputs round to 6 decimals for hash-stable oracle comparison.

Null contract: rows with a NULL score or NULL label are excluded from
every statistic (an unscored row is unmeasured, never counted as
wrong); labels are cast to double and expected to be 0/1 indicators.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from real_estate_bigdata_spark.util import bounded_collect, checkpoint_frame, local_frame

__all__ = [
    "auc_score",
    "bradley_terry",
    "auc_bootstrap_ci",
    "auc_by_slice",
    "calibration_bins",
    "cohens_kappa",
    "confusion_at_threshold",
    "consensus_labels",
    "dawid_skene",
    "expected_calibration_error",
    "fleiss_kappa",
    "item_disagreement",
    "krippendorff_alpha",
    "krippendorff_alpha_metrics",
    "pair_set_metrics",
    "pairwise_win_rates",
    "rater_reliability",
    "precision_at_k",
    "rank_biased_overlap",
    "ranking_compare",
    "ranking_metrics",
    "ranking_summary",
    "topk_recall",
]


def _scored(
    df: DataFrame,
    score_col: str,
    label_col: str,
    weight_col: str | None = None,
) -> DataFrame:
    """Non-null (score, label[, weight]) rows with the label as a 0/1
    double and the weight — 1.0 when no ``weight_col`` — as ``__w``.
    NULL weights are unweighable and excluded like NULL labels."""
    cond = F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    w = F.lit(1.0) if weight_col is None else F.col(weight_col).cast("double")
    if weight_col is not None:
        cond = cond & F.col(weight_col).isNotNull()
    return df.filter(cond).select(
        F.col(score_col).cast("double").alias("__s"),
        F.col(label_col).cast("double").alias("__y"),
        w.alias("__w"),
    )


def auc_score(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    weight_col: str | None = None,
) -> DataFrame:
    """Exact ROC-AUC -> one row ``(auc, n_pos, n_neg)``.

    Mann-Whitney form: AUC = P(s_pos > s_neg) + 0.5 * P(s_pos = s_neg),
    computed from the distinct-score histogram — for each distinct
    score, its positives are "above" every negative with a strictly
    smaller score and tie with the negatives at the same score:

        AUC = sum_s pos(s) * (cum_neg_below(s) + neg(s)/2) / (P * N)

    ``auc`` is NULL when either class is empty (undefined, not 0.5 —
    the caller must see a degenerate evaluation set, not a plausible
    number). Rounded to 6 decimals.

    ``weight_col`` makes it the IMPORTANCE-WEIGHTED AUC — each row
    counts its weight (inverse sampling propensity) instead of 1, the
    estimator a stratified/sampled evaluation set needs to speak for
    the full corpus; ``n_pos``/``n_neg`` become weighted masses
    (DOUBLE, rounded to 6) instead of counts, and NULL-weight rows
    are excluded like NULL labels. The plan is unchanged — weighting
    is free.
    """
    hist = (
        _scored(df, score_col, label_col, weight_col)
        .groupBy("__s")
        .agg(
            F.sum(F.col("__w") * F.col("__y")).alias("pos"),
            F.sum(F.col("__w") * (1 - F.col("__y"))).alias("neg"),
        )
    )
    below = (
        Window.orderBy("__s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = hist.select(
        F.col("pos"),
        F.col("neg"),
        (
            F.col("pos")
            * (
                F.coalesce(F.sum("neg").over(below), F.lit(0.0))
                + F.col("neg") / 2.0
            )
        ).alias("c"),
    )
    # unweighted masses are integral counts (long); weighted masses
    # are real-valued and must not truncate. The AUC ratio divides the
    # RAW sums either way — masses are rounded only on output.
    mass = (
        (lambda c: c.cast("long"))
        if weight_col is None
        else (lambda c: F.round(c, 6))
    )
    return contrib.agg(
        F.sum("pos").alias("__p"),
        F.sum("neg").alias("__n"),
        F.sum("c").alias("__num"),
    ).select(
        F.round(
            F.when(
                (F.col("__p") > 0) & (F.col("__n") > 0),
                F.col("__num") / (F.col("__p") * F.col("__n")),
            ),
            6,
        ).alias("auc"),
        mass(F.col("__p")).alias("n_pos"),
        mass(F.col("__n")).alias("n_neg"),
    )


def _grouped_auc(hist: DataFrame, out_group: str) -> DataFrame:
    """Mann-Whitney AUC per group from a ``(__g, __s, pos, neg)``
    histogram frame -> ``(<out_group>, auc, n_pos, n_neg)``. The
    window partitions BY group (parallel across groups) over each
    group's distinct scores; the finishing aggregate is bounded by
    group cardinality."""
    below = (
        Window.partitionBy("__g")
        .orderBy("__s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = hist.select(
        "__g",
        "pos",
        "neg",
        (
            F.col("pos")
            * (
                F.coalesce(F.sum("neg").over(below), F.lit(0.0))
                + F.col("neg") / 2.0
            )
        ).alias("c"),
    )
    return (
        contrib.groupBy("__g")
        .agg(
            F.sum("pos").cast("long").alias("n_pos"),
            F.sum("neg").cast("long").alias("n_neg"),
            F.sum("c").alias("__num"),
        )
        .select(
            F.col("__g").alias(out_group),
            F.round(
                F.when(
                    (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
                    F.col("__num") / (F.col("n_pos") * F.col("n_neg")),
                ),
                6,
            ).alias("auc"),
            "n_pos",
            "n_neg",
        )
    )


def auc_by_slice(
    df: DataFrame,
    slice_col: str,
    score_col: str = "score",
    label_col: str = "label",
) -> DataFrame:
    """Per-slice exact ROC-AUC -> ``(<slice_col>, auc, n_pos, n_neg)``.

    The sliced form of :func:`auc_score` — the question a corpus-wide
    AUC cannot answer: does the quality signal hold on EVERY source /
    language / shard, or does a strong aggregate hide a slice where the
    classifier is noise (the failure mode that silently drops one
    domain from a 100 TB corpus)? Same Mann-Whitney algebra and NULL
    contracts per slice; rows with a NULL slice form their own slice
    (an unattributed row is still a slice to audit).

    Distributed shape: ONE ``groupBy(slice, score)`` histogram shuffle;
    the ordered window is PARTITIONED by slice (parallel across slices,
    never single-partition) and runs over each slice's distinct scores;
    the finishing aggregate is bounded by slice cardinality.
    """
    hist = (
        df.filter(
            F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
        )
        .select(
            F.col(slice_col).alias("__g"),
            F.col(score_col).cast("double").alias("__s"),
            F.col(label_col).cast("double").alias("__y"),
        )
        .groupBy("__g", "__s")
        .agg(
            F.sum("__y").alias("pos"),
            F.sum(1 - F.col("__y")).alias("neg"),
        )
    )
    return _grouped_auc(hist, slice_col)


#: cumulative CDF of Poisson(mean 1) scaled to the 10k md5-bucket
#: space, truncated at weight 5 (tail mass 0.37% lands on 5 — the
#: same integer thresholds in both engines, so oracle parity is exact
#: and the truncation bias is identical, not just similar)
_POISSON1_CUM_10K = (3679, 7358, 9197, 9810, 9963)


def auc_bootstrap_ci(
    df: DataFrame,
    id_col: str,
    score_col: str = "score",
    label_col: str = "label",
    n_boot: int = 32,
    salt: str = "",
    alpha: float = 0.05,
) -> DataFrame:
    """Poisson-bootstrap confidence interval for the ROC-AUC -> one row
    ``(auc, ci_lo, ci_hi, n_boot, n_boot_valid)``.

    A point AUC on a sampled evaluation set is a measurement without an
    error bar; the standard massive-data resample is the POISSON
    bootstrap (Chamandy et al., Google 2012): replicate ``b`` counts
    each row ``w ~ Poisson(1)`` times, which converges to the classical
    bootstrap without ever materializing a resample. Weights are
    DETERMINISTIC — the md5-bucket of ``(id, replicate, salt)`` pushed
    through the fixed Poisson(1) inverse-CDF ladder — so the interval
    replays identically across runs, partitionings, and engines.

    ``id_col`` MUST identify rows uniquely: weights derive solely from
    ``(id, replicate, salt)``, so rows sharing an id receive IDENTICAL
    weights in every replicate — an implicit CLUSTERED bootstrap that
    understates CI width if the duplication is accidental (ADVICE r8
    #4). That is the correct behavior only when duplicate ids
    deliberately mark a resample-together cluster (e.g. multiple
    predictions per document); otherwise pass a genuinely unique key
    or pre-aggregate.

    ``ci_lo``/``ci_hi`` are the ``alpha/2`` / ``1 - alpha/2``
    percentiles (linear interpolation) of the replicate AUCs;
    replicates that lose an entire class (possible on tiny or
    one-sided sets) are NULL and excluded, with ``n_boot_valid``
    making the exclusion visible. ``auc`` is the unresampled point
    estimate. Rounded to 6 decimals.

    Distributed shape: the ``n_boot`` weights per row are generated
    MAP-SIDE (a posexploded literal-size array — CPU, not shuffle) and
    immediately collapse into the ``groupBy(replicate, score)``
    histogram, so the one shuffle carries at most ``n_boot x
    distinct-scores`` rows; the per-replicate window and the final
    percentile run over bounded frames. The point estimate is a second
    corpus pass (:func:`auc_score`).
    """
    if n_boot < 2:
        raise ValueError(f"n_boot must be >= 2, got {n_boot}")
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    from real_estate_bigdata_spark.operators.sampling import bucket_of

    valid = df.filter(
        F.col(id_col).isNotNull()
        & F.col(score_col).isNotNull()
        & F.col(label_col).isNotNull()
    ).select(
        F.col(id_col).alias("__id"),
        F.col(score_col).cast("double").alias("__s"),
        F.col(label_col).cast("double").alias("__y"),
    )

    def ladder(u):
        w = F.when(u < _POISSON1_CUM_10K[0], 0)
        for i, cum in enumerate(_POISSON1_CUM_10K[1:], start=1):
            w = w.when(u < cum, i)
        return w.otherwise(len(_POISSON1_CUM_10K)).cast("double")

    weights = F.array(
        *[
            ladder(bucket_of(F.col("__id"), salt=f"{salt}|boot{b}"))
            for b in range(n_boot)
        ]
    )
    hist = (
        valid.select("__s", "__y", F.posexplode(weights).alias("__g", "__w"))
        .filter(F.col("__w") > 0)
        .groupBy("__g", "__s")
        .agg(
            F.sum(F.col("__w") * F.col("__y")).alias("pos"),
            F.sum(F.col("__w") * (1 - F.col("__y"))).alias("neg"),
        )
    )
    reps = _grouped_auc(hist, "__b")
    ci = reps.agg(
        F.round(F.percentile("auc", F.lit(alpha / 2)), 6).alias("ci_lo"),
        F.round(F.percentile("auc", F.lit(1 - alpha / 2)), 6).alias("ci_hi"),
        F.count("auc").cast("int").alias("n_boot_valid"),
    )
    point = auc_score(valid, "__s", "__y").select("auc")
    return point.crossJoin(ci).select(
        "auc",
        "ci_lo",
        "ci_hi",
        F.lit(n_boot).alias("n_boot"),
        "n_boot_valid",
    )


def calibration_bins(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    lo: float = 0.0,
    hi: float = 1.0,
    bins: int = 10,
    weight_col: str | None = None,
) -> DataFrame:
    """Reliability-diagram bins -> ``(bin, n, mean_score, frac_pos)``.

    Fixed-width bins over ``[lo, hi)`` with out-of-range scores CLAMPED
    into the edge bins (a probe score slightly past the design range
    must still be measured, not dropped). ``lo``/``hi`` are explicit
    literals, not a data pass — the bin edges of an evaluation are part
    of its definition and must not drift with the corpus. One groupBy,
    output bounded by ``bins``.

    With ``weight_col`` (inverse sampling propensities — same contract
    as :func:`auc_score`), ``n`` becomes the bin's weighted mass
    (DOUBLE, rounded to 6) and ``mean_score``/``frac_pos`` are
    weighted means; NULL weights are excluded like NULL labels.
    """
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    if not hi > lo:
        raise ValueError(f"need hi > lo, got lo={lo} hi={hi}")
    raw = F.floor((F.col("__s") - F.lit(lo)) / F.lit(hi - lo) * F.lit(bins))
    clamped = F.least(F.lit(bins - 1), F.greatest(F.lit(0), raw))
    w = F.col("__w")
    mass = (
        (lambda c: c.cast("long"))
        if weight_col is None
        else (lambda c: F.round(c, 6))
    )
    return (
        _scored(df, score_col, label_col, weight_col)
        .groupBy(clamped.cast("int").alias("bin"))
        .agg(
            mass(F.sum(w)).alias("n"),
            F.round(F.sum(w * F.col("__s")) / F.sum(w), 6).alias(
                "mean_score"
            ),
            F.round(F.sum(w * F.col("__y")) / F.sum(w), 6).alias(
                "frac_pos"
            ),
        )
    )


def expected_calibration_error(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    lo: float = 0.0,
    hi: float = 1.0,
    bins: int = 10,
    weight_col: str | None = None,
) -> DataFrame:
    """Expected / maximum calibration error -> one row
    ``(ece, mce, n)``.

    The scalar form of :func:`calibration_bins` (Naeini et al. 2015):
    ``ece`` is the bin-mass-weighted mean of |empirical positive rate -
    mean score| per bin, ``mce`` the worst bin's gap. Scores must be
    probability-LIKE (confidences in ``[lo, hi)``, same clamping as the
    bins) for the gap to mean miscalibration. Built ON the bins frame —
    one corpus groupBy, then an aggregate over <= ``bins`` rows.
    Rounded to 6 decimals; NULL when no rows survive the null filter.
    With ``weight_col``, the bins (and therefore the bin masses that
    weight the gaps) are importance-weighted and ``n`` is the total
    weighted mass (DOUBLE) — same contract as :func:`auc_score`.
    """
    b = calibration_bins(
        df, score_col, label_col, lo=lo, hi=hi, bins=bins,
        weight_col=weight_col,
    )
    total = (
        (lambda c: c.cast("long"))
        if weight_col is None
        else (lambda c: F.round(c, 6))
    )
    return b.agg(
        F.round(
            F.sum(
                F.col("n") * F.abs(F.col("frac_pos") - F.col("mean_score"))
            )
            / F.sum("n"),
            6,
        ).alias("ece"),
        F.round(
            F.max(F.abs(F.col("frac_pos") - F.col("mean_score"))), 6
        ).alias("mce"),
        total(F.sum("n")).alias("n"),
    )


def cohens_kappa(
    df: DataFrame, rater_a: str, rater_b: str
) -> DataFrame:
    """Cohen's kappa (chance-corrected agreement, Cohen 1960) between
    two categorical rating columns -> one row ``(kappa, po, pe, n)``.

    The label-QA statistic: agreement between two annotators — or
    between a classifier's verdicts and gold labels — corrected for
    the agreement two raters reach by guessing each other's marginal
    distribution. ``po`` is the observed agreement rate, ``pe`` the
    chance rate from the marginals; ``kappa = (po - pe) / (1 - pe)``,
    NULL when ``pe = 1`` (both raters constant — agreement carries no
    information, and 1.0 or 0.0 would both be lies). Rows where either
    rating is NULL are unjudged and excluded.

    Distributed shape: ONE ``groupBy(a, b)`` contingency shuffle
    (output bounded by category-pair cardinality — ratings are labels,
    never free text); ``po``, the marginals, and the ``pe`` dot product
    (``sum_c ra(c) * rb(c) / n^2``) all derive from that bounded frame,
    so the corpus is touched exactly once. The dot product UNPIVOTS
    each contingency cell into its two marginal contributions and
    folds them through a single ``groupBy(category)`` — one bounded
    shuffle where the r8 layout ran two marginal groupBys plus a join
    (exchange-count pass, VERDICT r8 task #6; a category on one side
    only contributes ``ka * 0 = 0``, exactly like the old inner join
    dropping it).
    """
    cont = (
        df.filter(F.col(rater_a).isNotNull() & F.col(rater_b).isNotNull())
        .groupBy(
            F.col(rater_a).alias("__a"), F.col(rater_b).alias("__b")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("__c"))
    )
    tot = cont.agg(
        F.sum("__c").alias("n"),
        (
            F.sum(F.when(F.col("__a") == F.col("__b"), F.col("__c")))
            / F.sum("__c")
        ).alias("po"),
    )
    pe_df = (
        cont.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("__a").alias("__k"),
                        F.col("__c").alias("__ca"),
                        F.lit(0.0).alias("__cb"),
                    ),
                    F.struct(
                        F.col("__b").alias("__k"),
                        F.lit(0.0).alias("__ca"),
                        F.col("__c").alias("__cb"),
                    ),
                )
            ).alias("__s")
        )
        .select("__s.*")
        .groupBy("__k")
        .agg(F.sum("__ca").alias("__ka"), F.sum("__cb").alias("__kb"))
        .agg(F.sum(F.col("__ka") * F.col("__kb")).alias("__dot"))
    )
    out = tot.crossJoin(pe_df).select(
        "n",
        # no diagonal cell means zero observed agreement, not unknown
        F.coalesce(F.col("po"), F.lit(0.0)).alias("po"),
        (F.coalesce(F.col("__dot"), F.lit(0.0)) / (F.col("n") * F.col("n"))).alias(
            "pe"
        ),
    )
    return out.select(
        F.round(
            F.when(
                F.col("pe") < 1.0,
                (F.col("po") - F.col("pe")) / (1.0 - F.col("pe")),
            ),
            6,
        ).alias("kappa"),
        F.round("po", 6).alias("po"),
        F.round("pe", 6).alias("pe"),
        F.col("n").cast("long").alias("n"),
    )


def fleiss_kappa(
    df: DataFrame, item_col: str, category_col: str
) -> DataFrame:
    """Fleiss' kappa (multi-rater chance-corrected agreement, Fleiss
    1971) over ``(item, rating)`` rows — one row per individual rating
    -> one row ``(kappa, p_bar, p_e, n_items, n_ratings)``.

    The many-annotator generalization of :func:`cohens_kappa`: when a
    labeling pass fans each document out to 3+ raters (or 3+ classifier
    variants vote), this is the statistic that says whether they agree
    beyond chance. Per-item agreement uses the unequal-raters extension
    ``P_i = sum_k n_ik (n_ik - 1) / (n_i (n_i - 1))`` — identical to
    classic Fleiss when every item has the same rating count; chance
    agreement ``P_e = sum_k p_k^2`` from the pooled category
    proportions. Items with fewer than 2 ratings carry no agreement
    evidence and are EXCLUDED (visible via ``n_items``); NULL
    items/categories are unjudged and excluded. ``kappa`` is NULL when
    ``P_e = 1`` (every rating in one category — agreement carries no
    information). Rounded to 6 decimals.

    Distributed shape: ONE ``groupBy(item, category)`` cell shuffle
    (bounded by items x categories), a per-item aggregate over that
    frame, and a category-marginal aggregate over the SAME frame — the
    exchange is reused at runtime, so the corpus of ratings is touched
    once.
    """
    cells = (
        df.filter(
            F.col(item_col).isNotNull() & F.col(category_col).isNotNull()
        )
        .groupBy(
            F.col(item_col).alias("__i"), F.col(category_col).alias("__k")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("__c"))
    )
    # items with >= 2 ratings; both P-bar AND the pooled category
    # proportions must come from the SAME kept-item population, or a
    # flood of single-rating items would skew P_e against P-bar
    item_n = cells.groupBy("__i").agg(F.sum("__c").alias("__n"))
    kept = cells.join(
        item_n.filter(F.col("__n") >= 2).select("__i"), "__i", "inner"
    )
    per_item = (
        kept.groupBy("__i")
        .agg(
            F.sum("__c").alias("__n"),
            F.sum(F.col("__c") * (F.col("__c") - 1)).alias("__agree"),
        )
        .select(
            "__n",
            (F.col("__agree") / (F.col("__n") * (F.col("__n") - 1))).alias(
                "__pi"
            ),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum("__n").cast("long").alias("n_ratings"),
            F.avg("__pi").alias("__pbar"),
        )
    )
    marginals = (
        kept.groupBy("__k")
        .agg(F.sum("__c").alias("__nk"))
        .agg(
            (
                F.sum(F.col("__nk") * F.col("__nk"))
                / (F.sum("__nk") * F.sum("__nk"))
            ).alias("__pe")
        )
    )
    out = per_item.crossJoin(marginals)
    return out.select(
        F.round(
            F.when(
                F.col("__pe") < 1.0,
                (F.col("__pbar") - F.col("__pe")) / (1.0 - F.col("__pe")),
            ),
            6,
        ).alias("kappa"),
        F.round("__pbar", 6).alias("p_bar"),
        F.round("__pe", 6).alias("p_e"),
        "n_items",
        "n_ratings",
    )


def krippendorff_alpha(
    df: DataFrame, item_col: str, category_col: str, metric: str = "nominal"
) -> DataFrame:
    """Krippendorff's alpha (Krippendorff 2004) over ``(item, rating)``
    rows -> one row ``(alpha, d_o, d_e, n_items, n_ratings)``.

    ``metric`` picks the difference function (r10 — the common label-QA
    trio): ``"nominal"`` (identity — any disagreement counts 1),
    ``"interval"`` (``(c - k)^2`` over the NUMERIC rating values —
    near-misses on a score scale cost less than far misses) and
    ``"ordinal"`` (squared rank-mass distance
    ``(sum_{g=c..k} n_g - (n_c + n_k)/2)^2`` from the pooled
    coincidence marginals — respects rating ORDER without trusting the
    numeric spacing). Interval/ordinal require a numeric category
    column and raise ``ValueError`` otherwise; all three share the
    same pairable-item/missing-data treatment, and nominal keeps its
    closed-form single-aggregate path (bit-identical to the r9
    output). The general path's extra work is bounded by categories,
    not ratings: a per-item ordered category-pair join (<= raters^2
    rows per item) and a categories x categories expected cross —
    the corpus of ratings is still touched exactly once.

    The agreement statistic built for the MESSY labeling reality
    :func:`fleiss_kappa` assumes away: raters may skip items, rating
    counts may differ per item, and missing data is handled by design —
    alpha compares observed pairwise disagreement within items against
    the disagreement expected from the pooled category distribution.
    ``alpha = 1 - d_o / d_e`` with the nominal (identity) difference
    function: ``d_o`` derives from each pairable item's within-item
    rating pairs (``(n_u^2 - sum_c n_uc^2) / (n_u - 1)`` summed, over
    ``n``), ``d_e = (n^2 - sum_c n_c^2) / (n (n - 1))`` from the
    pooled totals across pairable items. Items with fewer than 2
    ratings carry no pairable evidence and are EXCLUDED everywhere
    (including the pooled marginals — the standard coincidence-matrix
    treatment); NULL items/categories are unjudged and excluded.
    ``alpha`` is NULL when ``d_e = 0`` (every rating in one category).
    Rounded to 6 decimals.

    Distributed shape: ONE ``groupBy(item, category)`` cell shuffle
    (bounded by items x categories), eagerly materialized
    (localCheckpoint — the many downstream references must not
    re-aggregate the corpus); the per-item aggregate, the pairable-item
    filter, and the pooled category marginals all derive from that
    frame, so the corpus of ratings is touched exactly once per call —
    the same posture as :func:`fleiss_kappa`/:func:`cohens_kappa`.
    """
    _alpha_validate(df, category_col, metric)
    cells = _alpha_cells(df, item_col, category_col)
    return _alpha_from_cells(cells, metric)


def krippendorff_alpha_metrics(
    df: DataFrame,
    item_col: str,
    category_col: str,
    metrics: tuple[str, ...] = ("nominal", "interval", "ordinal"),
) -> DataFrame:
    """All requested alpha metrics over ONE shared coincidence-cell
    materialization — one row per metric, leading ``metric`` column
    (r15: the three-metric driver query called
    :func:`krippendorff_alpha` per metric, re-aggregating and
    re-checkpointing the identical cells frame three times — 40
    driver-visible jobs for ~1.2 s of task time; the cells depend only
    on (df, item, category), never on the metric). Rows are identical
    to calling :func:`krippendorff_alpha` per metric."""
    if not metrics:
        raise ValueError("metrics must be non-empty")
    for m in metrics:
        _alpha_validate(df, category_col, m)
    cells = _alpha_cells(df, item_col, category_col)
    out = None
    for m in metrics:
        row = _alpha_from_cells(cells, m).select(
            F.lit(m).alias("metric"), "*"
        )
        out = row if out is None else out.unionByName(row)
    return out


def _alpha_validate(df: DataFrame, category_col: str, metric: str) -> None:
    if metric not in ("nominal", "interval", "ordinal"):
        raise ValueError(
            f"metric must be nominal|interval|ordinal, got {metric!r}"
        )
    if metric != "nominal":
        from pyspark.sql.types import NumericType

        if not isinstance(df.schema[category_col].dataType, NumericType):
            raise ValueError(
                f"{metric} alpha needs a numeric {category_col!r} column, "
                f"got {df.schema[category_col].dataType.simpleString()}"
            )


def _alpha_cells(df: DataFrame, item_col: str, category_col: str) -> DataFrame:
    # the coincidence cells are referenced by every downstream frame
    # (units, marginals, pair sides, totals) — materialize them ONCE so
    # the ratings corpus is aggregated exactly once per call instead of
    # re-scanned per reference (static exchange reuse only collapsed a
    # fraction of the repeats; measured 93 file scans for the 3-metric
    # driver query before this). localCheckpoint, not persist, for the
    # same session-lifetime reason as image_neardup_pairs; the frame is
    # bounded by items x categories, strictly <= the ratings count.
    return checkpoint_frame(
        df.filter(
            F.col(item_col).isNotNull() & F.col(category_col).isNotNull()
        )
        .groupBy(
            F.col(item_col).alias("__i"), F.col(category_col).alias("__k")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("__c"))
    )


def _alpha_from_cells(cells: DataFrame, metric: str) -> DataFrame:
    units = (
        cells.groupBy("__i")
        .agg(
            F.sum("__c").alias("__nu"),
            F.sum(F.col("__c") * F.col("__c")).alias("__ss"),
        )
        .filter(F.col("__nu") >= 2)
    )
    tot = units.agg(
        F.sum("__nu").alias("n"),
        F.sum(
            (F.col("__nu") * F.col("__nu") - F.col("__ss"))
            / (F.col("__nu") - 1)
        ).alias("__do_num"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )
    if metric == "nominal":
        # closed form: sum_{c!=k} n_uc n_uk collapses to nu^2 - ss, so
        # no pair join is ever built
        cat_tot = (
            cells.join(units.select("__i"), "__i")
            .groupBy("__k")
            .agg(F.sum("__c").alias("__nk"))
            .agg(F.coalesce(F.sum(F.col("__nk") * F.col("__nk")), F.lit(0.0)).alias("__sk"))
        )
        out = tot.crossJoin(cat_tot).select(
            (F.col("__do_num") / F.col("n")).alias("__do"),
            (
                (F.col("n") * F.col("n") - F.col("__sk"))
                / (F.col("n") * (F.col("n") - 1))
            ).alias("__de"),
            "n_items",
            F.col("n").cast("long").alias("n_ratings"),
        )
        return out.select(
            F.round(
                F.when(F.col("__de") > 0, 1.0 - F.col("__do") / F.col("__de")),
                6,
            ).alias("alpha"),
            F.round("__do", 6).alias("d_o"),
            F.round("__de", 6).alias("d_e"),
            "n_items",
            "n_ratings",
        )

    # general coincidence-pair path (interval/ordinal): ordered
    # category pairs c != k weighted by the metric's squared distance.
    # Every frame below is bounded by CATEGORIES (x raters per item),
    # never by the ratings corpus.
    pc = cells.join(units.select("__i", "__nu"), "__i")
    marg = pc.groupBy("__k").agg(F.sum("__c").alias("__nk"))
    if metric == "interval":
        delta = lambda a, b: (  # noqa: E731 — tiny expr factory
            (F.col(f"__k{a}") - F.col(f"__k{b}"))
            * (F.col(f"__k{a}") - F.col(f"__k{b}"))
        )
        side = marg.select("__k", "__nk")
    else:  # ordinal: squared rank-mass distance from pooled marginals
        # cumulative mass in category-value order; the window is
        # single-partition by construction but runs over one row per
        # CATEGORY (bounded), not per rating
        win = Window.orderBy("__k").rowsBetween(
            Window.unboundedPreceding, 0
        )
        side = marg.select(
            "__k", "__nk", F.sum("__nk").over(win).alias("__cum")
        )

        def delta(a, b):
            lo_cum = F.least(F.col(f"__cum{a}"), F.col(f"__cum{b}"))
            hi_cum = F.greatest(F.col(f"__cum{a}"), F.col(f"__cum{b}"))
            lo_nk = F.when(
                F.col(f"__cum{a}") <= F.col(f"__cum{b}"), F.col(f"__nk{a}")
            ).otherwise(F.col(f"__nk{b}"))
            mass = hi_cum - lo_cum + lo_nk
            half_ends = (F.col(f"__nk{a}") + F.col(f"__nk{b}")) / 2.0
            return (mass - half_ends) * (mass - half_ends)

    def suffixed(frame, s):
        return frame.select(
            *[F.col(c).alias(f"{c}{s}") for c in frame.columns]
        )

    pair_cols_a = suffixed(side, "a")
    pair_cols_b = suffixed(side, "b")
    # observed: within-item ordered pairs, each weighted c_a * c_b
    obs_pairs = (
        pc.select(
            "__i", "__nu", F.col("__k").alias("__ka"),
            F.col("__c").alias("__ca"),
        )
        .join(
            pc.select(
                "__i", F.col("__k").alias("__kb"),
                F.col("__c").alias("__cb"),
            ),
            "__i",
        )
        .filter(F.col("__ka") != F.col("__kb"))
        .join(F.broadcast(pair_cols_a), "__ka")
        .join(F.broadcast(pair_cols_b), "__kb")
    )
    d_obs = obs_pairs.agg(
        F.coalesce(
            F.sum(
                F.col("__ca") * F.col("__cb") * delta("a", "b")
                / (F.col("__nu") - 1)
            ),
            F.lit(0.0),
        ).alias("__do_sum")
    )
    # expected: categories x categories cross over the pooled marginals
    d_exp = (
        pair_cols_a.crossJoin(pair_cols_b)
        .filter(F.col("__ka") != F.col("__kb"))
        .agg(
            F.coalesce(
                F.sum(F.col("__nka") * F.col("__nkb") * delta("a", "b")),
                F.lit(0.0),
            ).alias("__de_sum")
        )
    )
    out = tot.crossJoin(d_obs).crossJoin(d_exp).select(
        (F.col("__do_sum") / F.col("n")).alias("__do"),
        (
            F.col("__de_sum") / (F.col("n") * (F.col("n") - 1))
        ).alias("__de"),
        "n_items",
        F.col("n").cast("long").alias("n_ratings"),
    )
    return out.select(
        F.round(
            F.when(F.col("__de") > 0, 1.0 - F.col("__do") / F.col("__de")),
            6,
        ).alias("alpha"),
        F.round("__do", 6).alias("d_o"),
        F.round("__de", 6).alias("d_e"),
        "n_items",
        "n_ratings",
    )


def item_disagreement(
    df: DataFrame, item_col: str, category_col: str, metric: str = "nominal"
) -> DataFrame:
    """Per-item disagreement triage (r10) — the item-level companion of
    :func:`krippendorff_alpha`: alpha says how much the LABELING
    process agrees overall; this says WHICH items the annotators split
    on, i.e. the re-label / adjudication queue. One row
    ``(<item_col>, n_ratings, disagreement)`` per pairable item (>= 2
    ratings; single-rating and NULL rows carry no evidence and are
    excluded, as in alpha). ``disagreement`` is the mean pairwise
    difference over the item's ordered rating pairs: with the
    ``"nominal"`` metric the closed form ``(n_u^2 - sum_c n_uc^2) /
    (n_u (n_u - 1))`` (the probability two of the item's ratings
    differ — 0 = unanimous, upper bound approaches 1), with
    ``"interval"`` the mean squared value distance (NUMERIC category
    column required) so a 0-vs-2 split on a severity scale outranks a
    0-vs-1 split in the queue. The ordinal metric is deliberately NOT
    offered here: its distance depends on the pooled corpus marginals,
    which makes a per-item triage score change when OTHER items'
    ratings move — exactly the property a re-label queue must not have
    (use alpha for the corpus-level ordinal readout). Rounded to 6
    decimals.

    Shape: the same single ``groupBy(item, category)`` cell shuffle as
    alpha; the nominal score folds in that aggregate, the interval
    score adds one per-item category self-join bounded by raters^2
    rows per item — never a corpus-sized join.
    """
    if metric not in ("nominal", "interval"):
        raise ValueError(
            f"metric must be nominal|interval, got {metric!r} (ordinal "
            "is corpus-marginal-dependent and unsuitable for per-item "
            "triage — see docstring)"
        )
    if metric == "interval":
        from pyspark.sql.types import NumericType

        if not isinstance(df.schema[category_col].dataType, NumericType):
            raise ValueError(
                f"interval disagreement needs a numeric {category_col!r} "
                f"column, got "
                f"{df.schema[category_col].dataType.simpleString()}"
            )
    # same one-touch contract as krippendorff_alpha: the cells frame is
    # referenced by units AND (interval) both pair sides — materialize
    # once so the ratings corpus is aggregated exactly once per call
    cells = checkpoint_frame(
        df.filter(
            F.col(item_col).isNotNull() & F.col(category_col).isNotNull()
        )
        .groupBy(
            F.col(item_col).alias("__i"), F.col(category_col).alias("__k")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("__c"))
    )
    units = (
        cells.groupBy("__i")
        .agg(
            F.sum("__c").alias("__nu"),
            F.sum(F.col("__c") * F.col("__c")).alias("__ss"),
        )
        .filter(F.col("__nu") >= 2)
    )
    if metric == "nominal":
        out = units.select(
            F.col("__i").alias(item_col),
            F.col("__nu").cast("long").alias("n_ratings"),
            F.round(
                (F.col("__nu") * F.col("__nu") - F.col("__ss"))
                / (F.col("__nu") * (F.col("__nu") - 1)),
                6,
            ).alias("disagreement"),
        )
        return out
    pc = cells.join(units.select("__i", "__nu"), "__i")
    pairs = (
        pc.select(
            "__i", "__nu", F.col("__k").alias("__ka"),
            F.col("__c").alias("__ca"),
        )
        .join(
            pc.select(
                "__i", F.col("__k").alias("__kb"),
                F.col("__c").alias("__cb"),
            ),
            "__i",
        )
        .filter(F.col("__ka") != F.col("__kb"))
    )
    scored = pairs.groupBy("__i", "__nu").agg(
        F.sum(
            F.col("__ca")
            * F.col("__cb")
            * (F.col("__ka") - F.col("__kb"))
            * (F.col("__ka") - F.col("__kb"))
        ).alias("__d")
    )
    # unanimous items produce no c != k pair rows — restore them at 0
    return (
        units.join(scored.select("__i", "__d"), "__i", "left")
        .select(
            F.col("__i").alias(item_col),
            F.col("__nu").cast("long").alias("n_ratings"),
            F.round(
                F.coalesce(F.col("__d"), F.lit(0.0))
                / (F.col("__nu") * (F.col("__nu") - 1)),
                6,
            ).alias("disagreement"),
        )
    )


def rater_reliability(
    df: DataFrame, item_col: str, rater_col: str, category_col: str
) -> DataFrame:
    """Leave-one-out rater reliability (r10) — the third leg of the
    labeling-QA stool next to :func:`krippendorff_alpha` (process) and
    :func:`item_disagreement` (items): WHICH annotators drift. For
    every rating, compare the rater's category against the MAJORITY of
    the item's OTHER ratings (own vote excluded — a rater must never
    corroborate themselves); ties break to the smallest category value
    (deterministic, engine-independent). One row per rater:
    ``(<rater_col>, n_rated, n_judged, agreement_rate)`` where
    ``n_rated`` counts the rater's valid ratings, ``n_judged`` those
    with at least one other rating to compare against (the rest are
    unjudgeable, excluded from the rate), and ``agreement_rate`` is the
    judged-agreement fraction rounded to 6 decimals (NULL when nothing
    is judgeable). NULL item/rater/category rows are excluded, and
    votes are per DISTINCT (item, rater, category) — a duplicated
    identical rating is one opinion, not two.

    Shape: one ``groupBy(item, category)`` vote aggregation, one join
    of the ratings back to their item's vote rows (fan-out bounded by
    the item's distinct categories <= raters), two bounded aggregates.
    No corpus-sized self-join: the leave-one-out adjustment is the
    subtraction of the rater's own vote from the joined count.
    """
    # one VOTE per distinct (item, rater, category): a duplicated
    # identical rating is one opinion, not two — and makes the
    # leave-one-out adjustment an exact minus-1
    # materialized once (the vote table feeds both the per-category
    # counts and the LOO join — one-touch, as in krippendorff_alpha)
    valid = checkpoint_frame(
        df.filter(
            F.col(item_col).isNotNull()
            & F.col(rater_col).isNotNull()
            & F.col(category_col).isNotNull()
        )
        .select(
            F.col(item_col).alias("__i"),
            F.col(rater_col).alias("__r"),
            F.col(category_col).alias("__k"),
        )
        .distinct()
    )
    votes = valid.groupBy("__i", F.col("__k").alias("__vk")).agg(
        F.count(F.lit(1)).cast("double").alias("__c")
    )
    # each vote x its item's vote rows, own vote removed
    adj = valid.join(votes, "__i").select(
        "__i",
        "__r",
        "__k",
        "__vk",
        (
            F.col("__c")
            - F.when(F.col("__vk") == F.col("__k"), F.lit(1.0)).otherwise(
                F.lit(0.0)
            )
        ).alias("__adj"),
    )
    w = Window.partitionBy("__i", "__r", "__k")
    loo = (
        adj.withColumn("__m", F.max("__adj").over(w))
        .groupBy("__i", "__r", "__k")
        .agg(
            F.sum("__adj").alias("__others"),
            F.min(
                F.when(F.col("__adj") == F.col("__m"), F.col("__vk"))
            ).alias("__majority"),
        )
    )
    return (
        loo.groupBy(F.col("__r").alias(rater_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rated"),
            F.sum(
                F.when(F.col("__others") > 0, F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_judged"),
            F.round(
                F.avg(
                    F.when(
                        F.col("__others") > 0,
                        (F.col("__k") == F.col("__majority")).cast("double"),
                    )
                ),
                6,
            ).alias("agreement_rate"),
        )
    )


def consensus_labels(
    df: DataFrame, item_col: str, category_col: str
) -> DataFrame:
    """Majority-vote label aggregation (r10) — the OUTPUT artifact of a
    labeling pipeline, closing the QA quartet: alpha judges the
    process, :func:`item_disagreement` queues the contested items,
    :func:`rater_reliability` scores the annotators, and this emits the
    consensus label the training set actually consumes. One row per
    item: ``(<item_col>, label, n_ratings, confidence, tied)`` where
    ``label`` is the most-voted category (ties break to the smallest
    value — deterministic and engine-independent, the same rule as
    rater_reliability), ``confidence = top votes / total votes``
    (rounded to 6 decimals), and ``tied`` marks items whose top count
    is shared — the rows a quality gate should route to adjudication
    together with the high-:func:`item_disagreement` queue. UNLIKE the
    agreement statistics, single-rating items are kept (confidence 1.0
    from evidence of one — the consumer decides whether to trust
    them); NULL items/categories are excluded.

    Shape: one ``groupBy(item, category)`` vote shuffle; the majority,
    total, and tie columns derive from one item-partitioned window over
    that bounded frame and the final per-item fold reuses the
    partitioning — the ratings corpus is touched exactly once.
    """
    votes = (
        df.filter(
            F.col(item_col).isNotNull() & F.col(category_col).isNotNull()
        )
        .groupBy(
            F.col(item_col).alias("__i"), F.col(category_col).alias("__k")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("__c"))
    )
    w = Window.partitionBy("__i")
    v = votes.withColumn("__m", F.max("__c").over(w)).withColumn(
        "__n", F.sum("__c").over(w)
    )
    return v.groupBy("__i").agg(
        F.min(F.when(F.col("__c") == F.col("__m"), F.col("__k"))).alias(
            "label"
        ),
        F.first("__n").cast("long").alias("n_ratings"),
        F.round(F.first(F.col("__m") / F.col("__n")), 6).alias("confidence"),
        (
            F.sum(
                F.when(F.col("__c") == F.col("__m"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            > 1
        ).alias("tied"),
    ).withColumnRenamed("__i", item_col)


def _dawid_skene_numpy(
    rows,
    cats,
    max_iter: int,
    tol: float | None,
    smoothing: float,
) -> list[tuple]:
    """Vectorized EM on collected ``(__i, __r, __k)`` vote rows — the
    bounded fast path of :func:`dawid_skene`. Same init (majority-vote
    shares), Laplace smoothing, prior floor, softmax, ``tol``/
    ``max_iter`` stopping, and smallest-class argmax tie-break as the
    distributed loop (``cats`` arrives sorted, so the first-index
    argmax IS the smallest-value tie-break). Returns
    ``[(item, label, confidence, n_ratings), ...]`` sorted by item."""
    items = sorted({r["__i"] for r in rows})
    raters = sorted({r["__r"] for r in rows})
    ii = {v: n for n, v in enumerate(items)}
    ri = {v: n for n, v in enumerate(raters)}
    ci = {v: n for n, v in enumerate(cats)}
    n_items, n_raters, n_cats = len(items), len(raters), len(cats)
    i_idx = np.array([ii[r["__i"]] for r in rows])
    r_idx = np.array([ri[r["__r"]] for r in rows])
    k_idx = np.array([ci[r["__k"]] for r in rows])
    post = np.zeros((n_items, n_cats))
    np.add.at(post, (i_idx, k_idx), 1.0)
    nv = post.sum(axis=1)
    post /= nv[:, None]
    for _ in range(max_iter):
        pri = post.mean(axis=0)
        # conf[r, vk, c] = sum over votes (i, r, vk) of post[i, c]
        conf = np.zeros((n_raters, n_cats, n_cats))
        np.add.at(conf, (r_idx, k_idx), post[i_idx])
        tot = conf.sum(axis=1, keepdims=True)  # (r, 1, c)
        theta = (conf + smoothing) / (tot + smoothing * n_cats)
        logp = np.tile(np.log(pri + 1e-300), (n_items, 1))
        np.add.at(logp, i_idx, np.log(theta)[r_idx, k_idx])
        mx = logp.max(axis=1, keepdims=True)
        e = np.exp(logp - mx)
        new_post = e / e.sum(axis=1, keepdims=True)
        if tol is not None:
            delta = float(np.abs(new_post - post).max())
            post = new_post
            if delta < tol:
                break
        else:
            post = new_post
    win = post.argmax(axis=1)  # first max = smallest class (cats sorted)
    return [
        (
            item,
            cats[int(win[n])],
            round(float(post[n, int(win[n])]), 6),
            int(nv[n]),
        )
        for n, item in enumerate(items)
    ]


def dawid_skene(
    df: DataFrame,
    item_col: str,
    rater_col: str,
    category_col: str,
    max_iter: int = 20,
    tol: float | None = 1e-6,
    smoothing: float = 0.01,
    small_votes_threshold: int = 1_000_000,
) -> DataFrame:
    """Dawid-Skene EM label aggregation (Dawid & Skene 1979) — the
    confusion-matrix-weighted upgrade of :func:`consensus_labels`:
    instead of one-rater-one-vote, each rater's vote is weighted by
    their LEARNED per-class confusion matrix, so a rater who
    systematically confuses classes 1 and 2 stops dragging those items,
    and a reliable minority can outvote an unreliable majority. The
    standard EM: E-step scores each item's class posterior from the
    class priors and the raters' confusion rows; M-step re-estimates
    priors and confusions from the posteriors; initialized from the
    majority-vote shares, Laplace-``smoothing`` on the confusion
    counts, stopped at ``max_iter`` or when no posterior moves more
    than ``tol`` (``tol=None`` skips the per-iteration convergence
    aggregate entirely and runs exactly ``max_iter`` rounds — one
    Spark action per round instead of two; the right trade when the
    iteration budget is fixed anyway). Returns one row per item:
    ``(<item_col>, label, confidence, n_ratings)`` with ``label`` the
    argmax-posterior class (smallest-value tie-break) and
    ``confidence`` the winning posterior (rounded to 6 decimals).

    Like the other iterative operators (BPE, connected components)
    this is rows-only at the oracle gate — ANSI SQL has no fixpoint —
    and is pinned against an independent numpy EM mirror in
    ``tests/test_evaluation.py`` (allclose, never bit-exact: partial
    -sum order varies, the linear-probe precedent).

    Distributed shape: the vote table is the only corpus-sized frame.
    Per iteration the E-step joins votes to the broadcast confusion
    table (raters x classes^2 — crowd-scale small) and aggregates
    log-posteriors per (item, class) (a classes-bounded expansion of
    one corpus pass), the M-step aggregates the same join the other
    way; posteriors are localCheckpointed per iteration to truncate
    the lineage (the CC/BPE precedent), and the class set is a bounded
    driver collect (labeling taxonomies are enumerable by design —
    validated against ``max_classes=64``).

    Bounded fast path (r12; the Bradley-Terry / union-find precedent):
    the deduplicated vote table is LIMIT-probed against
    ``small_votes_threshold`` — labeling studies are item x rater x
    class tables, usually thousands-to-millions of votes, not
    corpus-sized — and when it fits (and the dense EM state
    ``raters * classes^2`` plus the per-vote E-step expansion
    ``votes * classes`` stays under a fixed driver-memory budget) the
    EM runs as vectorized numpy on the collected votes: identical
    init / smoothing / stopping contract, none of the per-round
    Spark-job overhead an iterative tiny-frame loop pays (measured
    ~2.5 s of pure scheduling at sf0.1 for a 3-round budget). Above
    either bound the loop runs distributed as before. Parity between
    the two branches is pinned in ``tests/test_evaluation.py``.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    if smoothing <= 0:
        raise ValueError(f"smoothing must be > 0, got {smoothing}")
    valid = checkpoint_frame(
        df.filter(
            F.col(item_col).isNotNull()
            & F.col(rater_col).isNotNull()
            & F.col(category_col).isNotNull()
        )
        .select(
            F.col(item_col).alias("__i"),
            F.col(rater_col).alias("__r"),
            F.col(category_col).alias("__k"),
        )
        .distinct()
    )
    cats = sorted(
        r[0] for r in valid.select("__k").distinct().collect()
    )  # bounded: a labeling taxonomy, not data
    if len(cats) > 64:
        raise ValueError(
            f"dawid_skene expects an enumerable class taxonomy, got "
            f"{len(cats)} distinct categories (max 64)"
        )
    if not cats:
        # dtypes derive from the input schema (ADVICE r10): string or
        # int item/category columns must yield the same schema empty
        # and non-empty, or downstream unions break on the empty edge
        i_t = valid.schema["__i"].dataType.simpleString()
        k_t = valid.schema["__k"].dataType.simpleString()
        return valid.sparkSession.createDataFrame(
            [], f"{item_col} {i_t}, label {k_t}, confidence double, "
            f"n_ratings long"
        )
    spark = valid.sparkSession
    n_cats = len(cats)
    out_schema = (
        f"{item_col} {valid.schema['__i'].dataType.simpleString()}, "
        f"label {valid.schema['__k'].dataType.simpleString()}, "
        f"confidence double, n_ratings long"
    )
    # the rater cardinality for the dense-state budget reads off the
    # probed rows driver-side; the budget-fail case discards them
    rows = bounded_collect(valid, small_votes_threshold)
    if rows is not None:
        # dense-state budget: theta is raters*classes^2 doubles and the
        # vectorized E-step expands votes*classes — cap the sum at
        # ~48M doubles (~400 MB of temporaries) before going dense.
        n_raters = len({r["__r"] for r in rows})
        if n_raters * n_cats * n_cats + len(rows) * n_cats <= 48_000_000:
            return local_frame(
                spark,
                _dawid_skene_numpy(
                    rows, cats, max_iter=max_iter, tol=tol,
                    smoothing=smoothing,
                ),
                out_schema,
            )
    n_items_votes = valid.groupBy("__i").agg(
        F.count(F.lit(1)).cast("long").alias("__nv")
    )
    cats_df = spark.createDataFrame(
        [(c,) for c in cats], f"__c {valid.schema['__k'].dataType.simpleString()}"
    )
    # init: posterior = per-item vote share (majority-vote proportions)
    share = (
        valid.groupBy("__i", F.col("__k").alias("__c"))
        .agg(F.count(F.lit(1)).cast("double").alias("__v"))
    )
    post = checkpoint_frame(
        n_items_votes.crossJoin(F.broadcast(cats_df))
        .join(share, ["__i", "__c"], "left")
        .select(
            "__i",
            "__c",
            (F.coalesce(F.col("__v"), F.lit(0.0)) / F.col("__nv")).alias(
                "__p"
            ),
        )
    )
    for _ in range(max_iter):
        # M-step: class priors (tiny) and rater confusions
        pri = post.groupBy("__c").agg(F.avg("__p").alias("__pri"))
        conf = (
            valid.join(post, "__i")
            .groupBy("__r", "__c", F.col("__k").alias("__vk"))
            .agg(F.sum("__p").alias("__w"))
        )
        conf_tot = conf.groupBy("__r", "__c").agg(
            F.sum("__w").alias("__wt")
        )
        theta = (
            conf.join(conf_tot, ["__r", "__c"])
            .select(
                "__r",
                "__c",
                "__vk",
                (
                    (F.col("__w") + F.lit(smoothing))
                    / (F.col("__wt") + F.lit(smoothing * n_cats))
                ).alias("__th"),
            )
        )
        # E-step: log posterior per (item, class); a vote the rater's
        # learned confusion row never weighted gets the pure-smoothing
        # floor (same denominator as theta, zero numerator)
        theta_r = theta.select(
            F.col("__r").alias("__tr"),
            F.col("__c").alias("__tc"),
            "__vk",
            "__th",
        )
        tot_r = conf_tot.select(
            F.col("__r").alias("__gr"),
            F.col("__c").alias("__gc"),
            "__wt",
        )
        vote_scores = (
            valid.crossJoin(F.broadcast(cats_df))
            .join(
                F.broadcast(theta_r),
                (F.col("__r") == F.col("__tr"))
                & (F.col("__c") == F.col("__tc"))
                & (F.col("__k") == F.col("__vk")),
                "left",
            )
            .join(
                F.broadcast(tot_r),
                (F.col("__r") == F.col("__gr"))
                & (F.col("__c") == F.col("__gc")),
                "left",
            )
            .select(
                "__i",
                "__c",
                F.log(
                    F.coalesce(
                        F.col("__th"),
                        F.lit(smoothing)
                        / (F.col("__wt") + F.lit(smoothing * n_cats)),
                        F.lit(1.0 / n_cats),  # rater row absent
                        # entirely — cannot happen for valid votes;
                        # defensive
                    )
                ).alias("__ls"),
            )
        )
        logp = (
            vote_scores.groupBy("__i", "__c")
            .agg(F.sum("__ls").alias("__ll"))
            .join(F.broadcast(pri), "__c")
            .select(
                "__i",
                "__c",
                (F.col("__ll") + F.log(F.col("__pri") + F.lit(1e-300))).alias(
                    "__ll"
                ),
            )
        )
        w = Window.partitionBy("__i")
        new_post = checkpoint_frame(
            logp.withColumn("__mx", F.max("__ll").over(w))
            .withColumn("__e", F.exp(F.col("__ll") - F.col("__mx")))
            .withColumn("__z", F.sum("__e").over(w))
            .select("__i", "__c", (F.col("__e") / F.col("__z")).alias("__p"))
        )
        if tol is not None:
            delta = (
                new_post.join(
                    post.select(
                        "__i", "__c", F.col("__p").alias("__p0")
                    ),
                    ["__i", "__c"],
                )
                .agg(F.max(F.abs(F.col("__p") - F.col("__p0"))))
                .collect()[0][0]
            )
            post = new_post
            if delta is not None and delta < tol:
                break
        else:
            post = new_post
    w = Window.partitionBy("__i")
    return (
        post.withColumn("__mx", F.max("__p").over(w))
        .groupBy("__i")
        .agg(
            F.min(
                F.when(F.col("__p") == F.col("__mx"), F.col("__c"))
            ).alias("label"),
            F.round(F.max("__p"), 6).alias("confidence"),
        )
        .join(n_items_votes, "__i")
        .select(
            F.col("__i").alias(item_col),
            "label",
            "confidence",
            F.col("__nv").alias("n_ratings"),
        )
    )


def rank_biased_overlap(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    p: float = 0.9,
    k: int = 10,
) -> DataFrame:
    """Prefix rank-biased overlap (Webber et al. 2010) between two
    ranked lists per query -> ``(<query_col>, rbo)``.

    The top-weighted similarity between two RANKINGS — what
    :func:`ranking_compare` cannot see when no relevance judgments
    exist: an index migration or re-ranker rollout wants "how much did
    the served top-k actually change, weighted toward rank 1" before
    any judgment pool is assembled. ``rbo = (1-p) * sum_{d=1..k}
    p^(d-1) * |A_:d ∩ B_:d| / d`` — the finite-prefix (depth-``k``)
    lower bound with NO extrapolated residual, so two identical
    prefixes score ``(1-p) * sum p^(d-1)`` (< 1; 1.0 only as k -> inf),
    and disjoint prefixes score 0. ``p`` is the persistence: ~0.9
    puts ~86% of the weight in the top 10.

    Shape: each per-doc overlap contribution telescopes to a WEIGHT
    LOOKUP — a doc first present in both prefixes at depth ``m =
    max(rank_a, rank_b)`` contributes ``sum_{d=m..k} p^(d-1)/d``, a
    k-entry literal array baked into the plan — so the whole metric is
    one inner join on (query, doc) plus one groupBy(query) over
    top-k-sized frames: no per-depth loop, no Python. Ranks beyond
    ``k`` are filtered at the scan; a doc listed MORE THAN ONCE on a
    side keeps its best (minimum) rank — the set-semantics reading of
    the definition, instead of silently double-counting the join — and
    a query present in only ONE input has overlap 0 by definition and
    is emitted with ``rbo = 0.0`` (the migration case where the new
    index drops a query entirely must be visible, not absent).
    Rounded to 6 decimals.
    """
    if not 0.0 < p < 1.0:
        raise ValueError(f"p must be in (0, 1), got {p}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # tail-sum weight table: weights[m-1] = sum_{d=m..k} p^(d-1)/d
    tails: list[float] = [0.0] * (k + 1)
    for d in range(k, 0, -1):
        tails[d - 1] = tails[d] + p ** (d - 1) / d
    w_lit = F.array(*[F.lit(float(tails[m])) for m in range(k)])

    def side(df: DataFrame, alias: str) -> DataFrame:
        return (
            df.filter(
                F.col(query_col).isNotNull()
                & F.col(doc_col).isNotNull()
                & F.col(rank_col).isNotNull()
                & (F.col(rank_col) <= k)
                & (F.col(rank_col) >= 1)
            )
            .groupBy(
                F.col(query_col).alias("__q"), F.col(doc_col).alias("__d")
            )
            .agg(F.min(F.col(rank_col).cast("int")).alias(alias))
        )

    a = side(ranked_a, "__ra")
    b = side(ranked_b, "__rb")
    overlap = (
        a.join(b, ["__q", "__d"])
        .select(
            "__q",
            F.element_at(
                w_lit, F.greatest(F.col("__ra"), F.col("__rb"))
            ).alias("__w"),
        )
        .groupBy("__q")
        .agg(F.sum("__w").alias("__s"))
    )
    qs = a.select("__q").union(b.select("__q")).distinct()
    return qs.join(overlap, "__q", "left").select(
        F.col("__q").alias(query_col),
        F.round(
            (1.0 - p) * F.coalesce(F.col("__s"), F.lit(0.0)), 6
        ).alias("rbo"),
    )


def confusion_at_threshold(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    threshold: float = 0.5,
    weight_col: str | None = None,
) -> DataFrame:
    """Confusion counts and derived rates at ``score >= threshold`` ->
    one row ``(tp, fp, tn, fn, accuracy, precision, recall, f1)``.

    One full-corpus aggregate (conditional sums combine map-side); the
    derived rates are NULL — never 0 — when their denominator is zero,
    so a degenerate split is visible. Rounded to 6 decimals.

    ``weight_col`` makes the cells IMPORTANCE-WEIGHTED masses (DOUBLE,
    rounded to 6) instead of counts — the corrected estimate a
    stratified/sampled evaluation set owes the full corpus; NULL
    weights are excluded like NULL labels. The rates divide the raw
    weighted sums; the plan is unchanged.
    """
    pred = (F.col("__s") >= F.lit(threshold)).cast("double")
    y = F.col("__y")
    w = F.col("__w")
    cell = (
        (lambda c: c.cast("long"))
        if weight_col is None
        else (lambda c: F.round(c, 6))
    )

    def _rate(num, den):
        return F.round(F.when(den > 0, num / den), 6)

    base = _scored(df, score_col, label_col, weight_col).agg(
        F.sum(w * pred * y).alias("__tp"),
        F.sum(w * pred * (1 - y)).alias("__fp"),
        F.sum(w * (1 - pred) * (1 - y)).alias("__tn"),
        F.sum(w * (1 - pred) * y).alias("__fn"),
    )
    # rates divide the RAW weighted sums; cell rounding is applied only
    # to the output tp/fp/tn/fn columns (auc_score's pattern)
    tp, fp, tn, fn = (F.col(c) for c in ("__tp", "__fp", "__tn", "__fn"))
    prec = F.when(tp + fp > 0, tp / (tp + fp))
    rec = F.when(tp + fn > 0, tp / (tp + fn))
    return base.select(
        cell(tp).alias("tp"),
        cell(fp).alias("fp"),
        cell(tn).alias("tn"),
        cell(fn).alias("fn"),
        _rate(tp + tn, tp + fp + tn + fn).alias("accuracy"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(
            F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)), 6
        ).alias("f1"),
    )


def precision_at_k(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    id_col: str = "id",
    k: int = 100,
) -> DataFrame:
    """Precision among the global top-k by score -> one row
    ``(k, n_pos, precision_at_k)``.

    Ties at the k-th score are broken by ascending ``id_col`` so the
    cut is DETERMINISTIC (an oracle-comparable top-k cannot depend on
    partition order). The orderBy+limit pins Spark's
    TakeOrderedAndProject: per-partition heaps of k rows, driver merge
    of partition-count * k — no global sort at any scale. ``k`` in the
    output is the REQUESTED k; ``precision_at_k`` divides by the rows
    actually taken (fewer when the scored corpus is smaller than k).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    top = (
        df.filter(
            F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
        )
        .select(
            F.col(label_col).cast("double").alias("__y"),
            F.col(score_col).cast("double").alias("__s"),
            F.col(id_col).alias("__id"),
        )
        .orderBy(F.col("__s").desc(), F.col("__id").asc())
        .limit(k)
    )
    return top.agg(
        F.lit(k).alias("k"),
        F.sum("__y").cast("long").alias("n_pos"),
        F.round(F.sum("__y") / F.count(F.lit(1)), 6).alias("precision_at_k"),
    )


def ranking_metrics(
    ranked: DataFrame,
    rel: DataFrame,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    grade_col: str = "grade",
    k: int = 10,
) -> DataFrame:
    """Per-query retrieval quality of a ranked result list against
    graded relevance judgments -> one row per ``ranked`` query:
    ``(<query_col>, n_retrieved, n_relevant, mrr, precision_at_k,
    recall_at_k, ndcg_at_k)``.

    The measure for the retrieval stack (``bm25_search`` /
    ``ivf_search`` / ``rrf_fuse``): before a 100 TB RAG corpus trusts
    an index, its rankings need scoring against a judgment set.
    Standard definitions:

    * ``mrr`` — 1 / rank of the first relevant (``grade > 0``) result
      within the top-k; 0.0 when no relevant result was retrieved.
    * ``precision_at_k`` / ``recall_at_k`` — relevant-retrieved over
      rows actually retrieved (<= k) / over the query's total relevant
      judgments.
    * ``ndcg_at_k`` — DCG with the graded ``2^grade - 1`` gain and
      ``log2(rank + 1)`` discount (Järvelin & Kekäläinen 2002),
      normalized by the ideal DCG of the query's top-k judgments by
      grade.

    Contracts: ``ranked`` carries a 1-based ``rank_col`` unique within
    its query (search outputs are top-k-sized BY CONSTRUCTION — this
    operator must never receive a corpus-sized frame per query; ranks
    past ``k`` are ignored). ``rel`` holds one grade per (query, doc)
    — duplicates resolve to the max grade; NULL grades are unjudged
    and excluded. A query with ZERO relevant judgments is unmeasurable,
    not perfect or wrong: its ``mrr``/``recall_at_k``/``ndcg_at_k``
    are NULL (``n_relevant = 0`` makes the reason visible);
    ``precision_at_k`` is always defined. Rounded to 6 decimals.

    Distributed shape: every aggregate/window is keyed by query over
    top-k- or judgment-bounded rows — one (query, doc) equi-join, one
    per-query window over judgments for the ideal ranking, groupBy
    finishes. Nothing corpus-sized moves.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    judgments = (
        rel.filter(
            F.col(query_col).isNotNull()
            & F.col(doc_col).isNotNull()
            & F.col(grade_col).isNotNull()
        )
        .groupBy(
            F.col(query_col).alias("__q"), F.col(doc_col).alias("__d")
        )
        .agg(F.max(F.col(grade_col).cast("double")).alias("__g"))
    )
    gain = lambda g: F.pow(F.lit(2.0), g) - 1.0  # noqa: E731
    disc = lambda r: F.log2(r.cast("double") + 1.0)  # noqa: E731

    hits = (
        ranked.filter(F.col(rank_col) <= k)
        .select(
            F.col(query_col).alias("__q"),
            F.col(doc_col).alias("__d"),
            F.col(rank_col).cast("long").alias("__r"),
        )
        .join(judgments, ["__q", "__d"], "left")
        .withColumn("__g", F.coalesce(F.col("__g"), F.lit(0.0)))
    )
    per_query = hits.groupBy("__q").agg(
        F.count(F.lit(1)).alias("n_retrieved"),
        F.sum((F.col("__g") > 0).cast("long")).alias("__rel_ret"),
        F.min(F.when(F.col("__g") > 0, F.col("__r"))).alias("__first"),
        F.sum(gain(F.col("__g")) / disc(F.col("__r"))).alias("__dcg"),
    )
    ideal_rank = Window.partitionBy("__q").orderBy(
        F.col("__g").desc(), F.col("__d").asc()
    )
    ideal = (
        judgments.filter(F.col("__g") > 0)
        .withColumn("__ir", F.row_number().over(ideal_rank))
        .groupBy("__q")
        .agg(
            F.count(F.lit(1)).alias("n_relevant"),
            F.sum(
                F.when(
                    F.col("__ir") <= k,
                    gain(F.col("__g")) / disc(F.col("__ir")),
                )
            ).alias("__idcg"),
        )
    )
    out = per_query.join(ideal, "__q", "left")
    measurable = F.col("n_relevant").isNotNull()
    return out.select(
        F.col("__q").alias(query_col),
        "n_retrieved",
        F.coalesce(F.col("n_relevant"), F.lit(0)).alias("n_relevant"),
        F.round(
            F.when(
                measurable,
                F.coalesce(1.0 / F.col("__first"), F.lit(0.0)),
            ),
            6,
        ).alias("mrr"),
        F.round(F.col("__rel_ret") / F.col("n_retrieved"), 6).alias(
            "precision_at_k"
        ),
        F.round(
            F.when(measurable, F.col("__rel_ret") / F.col("n_relevant")), 6
        ).alias("recall_at_k"),
        F.round(
            F.when(measurable, F.col("__dcg") / F.col("__idcg")), 6
        ).alias("ndcg_at_k"),
    )


def pair_set_metrics(
    pred: DataFrame,
    truth: DataFrame,
    id_cols: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """Precision/recall of one duplicate-PAIR set against another ->
    one row ``(n_pred, n_true, n_common, precision, recall, f1,
    jaccard)``.

    The meta-evaluation the dedup tier needs before its config is
    trusted at scale: how many of the banded/approximate generator's
    pairs are real (precision), and how many real duplicates does it
    miss (recall)? Run an approximate family (SimHash, MinHash-LSH,
    IVF near-dup) against the exact generator on a sampled slice, then
    ship the config the numbers support. Works on ANY two frames whose
    rows name unordered id pairs.

    Pairs are canonicalized — ``(least, greatest)``, NULL ids dropped,
    duplicates collapsed — so orientation and multiplicity cannot
    inflate agreement. ``precision`` is NULL (not 1) on an empty
    prediction set and ``recall`` NULL on an empty truth set; ``f1``
    is 0.0 on a total miss (no shared pair but at least one side
    non-empty — a QA gate must flag that config, not read it as
    "unmeasured") and NULL only in the genuinely undefined
    both-empty case; ``jaccard`` is the pair-set IoU. Rounded to 6
    decimals.

    Distributed shape: one distinct per side (pair-set sized — the
    inputs are banded candidate/verified pairs, never all-pairs), then
    ONE full-outer join on the canonical pair key feeding ONE
    aggregate — each input's (possibly expensive) generator pipeline
    is computed exactly once; a three-way count-join-count layout was
    measured recomputing both generators per consumer (4x the cost at
    sf0.1) and rejected.
    """
    ca, cb = id_cols

    def _canon(df: DataFrame, side: str) -> DataFrame:
        a, b = F.col(ca), F.col(cb)
        return (
            df.filter(a.isNotNull() & b.isNotNull())
            .select(F.least(a, b).alias("__a"), F.greatest(a, b).alias("__b"))
            .distinct()
            .withColumn(side, F.lit(1))
        )

    joined = _canon(pred, "__p").join(
        _canon(truth, "__t"), ["__a", "__b"], "full"
    )
    counts = joined.agg(
        F.count("__p").cast("long").alias("n_pred"),
        F.count("__t").cast("long").alias("n_true"),
        F.sum(
            F.when(F.col("__p").isNotNull() & F.col("__t").isNotNull(), 1)
        )
        .cast("long")
        .alias("__nc"),
    ).withColumn("n_common", F.coalesce(F.col("__nc"), F.lit(0)).cast("long"))
    np_, nt, nc = F.col("n_pred"), F.col("n_true"), F.col("n_common")
    return counts.select(
        np_,
        nt,
        nc,
        F.round(F.when(np_ > 0, nc / np_), 6).alias("precision"),
        F.round(F.when(nt > 0, nc / nt), 6).alias("recall"),
        F.round(F.when(np_ + nt > 0, 2.0 * nc / (np_ + nt)), 6).alias("f1"),
        F.round(
            F.when(np_ + nt - nc > 0, nc / (np_ + nt - nc)), 6
        ).alias("jaccard"),
    )


def topk_recall(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
) -> DataFrame:
    """Per-query recall of an approximate top-k result set against the
    exact one -> ``(<query_col>, n_exact, n_hit, recall)``.

    The serving-quality number every ANN deployment watches: feed
    ``ivf_search``/``lsh_topk``/``pq_topk`` output as ``approx`` and
    ``brute_force_topk`` output as ``exact`` (over a SAMPLED query set
    — the exact side is the expensive one) and read how much of the
    true neighborhood the index returns. Promoted to an operator from
    the pytest-only recall checks so the number is queryable in
    production, not just assertable in CI.

    Ids are deduplicated per query on both sides; a query present only
    in ``approx`` has no truth to score against and is excluded (the
    exact side DEFINES the query set). ``recall`` is per query;
    macro-average downstream (``F.avg``) — the frames are
    top-k-per-query sized by construction, so every step is bounded.
    """
    ex = exact.select(
        F.col(query_col).alias("__q"), F.col(id_col).alias("__id")
    ).distinct()
    ap = (
        approx.select(
            F.col(query_col).alias("__q"), F.col(id_col).alias("__id")
        )
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        ex.join(ap, ["__q", "__id"], "left")
        .groupBy("__q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("__hit").cast("long").alias("n_hit"),
            F.round(F.count("__hit") / F.count(F.lit(1)), 6).alias(
                "recall"
            ),
        )
        .select(
            F.col("__q").alias(query_col), "n_exact", "n_hit", "recall"
        )
    )


def ranking_compare(
    metrics_a: DataFrame,
    metrics_b: DataFrame,
    query_col: str = "query_id",
    metric: str = "ndcg_at_k",
) -> DataFrame:
    """Paired comparison of two retrieval systems' per-query metrics
    (two :func:`ranking_metrics` frames over the SAME judgment set) ->
    one row ``(n, mean_a, mean_b, mean_delta, sd_delta, t_stat)``.

    The question "is system B actually better, or did it win on three
    lucky queries?" needs the PAIRED test (Smucker et al., CIKM 2007 —
    the standard IR methodology): per-query deltas ``b - a`` over the
    queries both systems were measured on, ``t_stat = mean(d) /
    (sd(d) / sqrt(n))`` with ``n - 1`` degrees of freedom (the caller
    compares against their t table; ~2.0 is the 95% two-sided level
    for n >= 30). ``t_stat`` is NULL when ``n < 2`` or the deltas are
    constant-zero (sd 0 — identical systems, nothing to test; a
    nonzero constant delta with sd 0 is reported as NULL too rather
    than an infinite t). Queries unmeasurable in EITHER system (NULL
    metric) are excluded from the pairing — both systems must be
    scored on the same evidence. Rounded to 6 decimals.

    One inner join on the query key (both frames are
    queries-per-corpus sized, never corpus sized) + one aggregate.
    """
    a = metrics_a.select(
        F.col(query_col).alias("__q"), F.col(metric).alias("__ma")
    ).filter(F.col("__ma").isNotNull())
    b = metrics_b.select(
        F.col(query_col).alias("__q"), F.col(metric).alias("__mb")
    ).filter(F.col("__mb").isNotNull())
    paired = a.join(b, "__q", "inner").select(
        "__ma", "__mb", (F.col("__mb") - F.col("__ma")).alias("__d")
    )
    agg = paired.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("__ma").alias("__avg_a"),
        F.avg("__mb").alias("__avg_b"),
        F.avg("__d").alias("__avg_d"),
        F.stddev_samp("__d").alias("__sd"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.round("__avg_a", 6).alias("mean_a"),
        F.round("__avg_b", 6).alias("mean_b"),
        F.round("__avg_d", 6).alias("mean_delta"),
        F.round("__sd", 6).alias("sd_delta"),
        F.round(
            F.when(
                (F.col("n") >= 2) & (F.col("__sd") > 0),
                F.col("__avg_d") / (F.col("__sd") / F.sqrt(F.col("n"))),
            ),
            6,
        ).alias("t_stat"),
    )


def ranking_summary(metrics: DataFrame, query_col: str = "query_id") -> DataFrame:
    """Macro-average of :func:`ranking_metrics` -> one row
    ``(n_queries, n_measurable, mean_mrr, mean_precision_at_k,
    mean_recall_at_k, mean_ndcg_at_k)``.

    Macro (per-query mean, the TREC convention) so a high-traffic query
    cannot drown the tail; NULL (unmeasurable) queries are excluded by
    ``avg`` per metric and counted in ``n_queries - n_measurable``.
    One bounded aggregate over the per-query frame.
    """
    return metrics.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.count("ndcg_at_k").alias("n_measurable"),
        F.round(F.avg("mrr"), 6).alias("mean_mrr"),
        F.round(F.avg("precision_at_k"), 6).alias("mean_precision_at_k"),
        F.round(F.avg("recall_at_k"), 6).alias("mean_recall_at_k"),
        F.round(F.avg("ndcg_at_k"), 6).alias("mean_ndcg_at_k"),
    )


def pairwise_win_rates(
    comparisons: DataFrame,
    a_col: str = "item_a",
    b_col: str = "item_b",
    winner_col: str = "winner",
    z: float = 1.959963985,
) -> DataFrame:
    """Per-item win rates from pairwise preference judgments (r11) —
    the readout RLHF/eval pipelines need over A-vs-B comparisons:
    ``(item, n_games, n_wins, n_ties, win_rate, wilson_lo, wilson_hi)``.

    A row is one judged comparison: ``winner`` equal to the a-side or
    b-side value credits that side; a NULL winner is a TIE (half a win
    to each side); a winner matching neither side, a NULL side, or a
    self-comparison (a == b) is invalid and excluded. ``win_rate`` =
    (wins + ties/2) / games, and the Wilson score interval (at ``z``,
    default 95%) is computed on that proportion — the standard
    small-sample-honest band (a 3-0 item must not read as "certainly
    better" the way a raw 1.0 does). All values round to 6 decimals.

    Scale shape: each comparison explodes into exactly two endpoint
    rows (item, credit) — a map-side expansion — and ONE aggregate by
    item produces everything; the Wilson band is closed-form column
    algebra on the aggregate. No windows, no joins.
    """
    a, b, w = F.col(a_col), F.col(b_col), F.col(winner_col)
    valid = comparisons.filter(
        a.isNotNull() & b.isNotNull() & (a != b)
        & (w.isNull() | (w == a) | (w == b))
    )
    endpoints = valid.select(
        F.explode(
            F.array(
                F.struct(
                    a.alias("item"),
                    F.when(w.isNull(), F.lit(0.5))
                    .when(w == a, F.lit(1.0))
                    .otherwise(F.lit(0.0))
                    .alias("credit"),
                ),
                F.struct(
                    b.alias("item"),
                    F.when(w.isNull(), F.lit(0.5))
                    .when(w == b, F.lit(1.0))
                    .otherwise(F.lit(0.0))
                    .alias("credit"),
                ),
            )
        ).alias("e")
    ).select("e.item", "e.credit")
    agg = endpoints.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("n_games"),
        F.sum((F.col("credit") == 1.0).cast("long")).alias("n_wins"),
        F.sum((F.col("credit") == 0.5).cast("long")).alias("n_ties"),
        F.sum("credit").alias("__w"),
    )
    n = F.col("n_games").cast("double")
    p = F.col("__w") / n
    z2 = F.lit(float(z) * float(z))
    denom = F.lit(1.0) + z2 / n
    center = (p + z2 / (F.lit(2.0) * n)) / denom
    half = (
        F.lit(float(z))
        * F.sqrt(p * (F.lit(1.0) - p) / n + z2 / (F.lit(4.0) * n * n))
        / denom
    )
    return agg.select(
        "item",
        "n_games",
        "n_wins",
        "n_ties",
        F.round(p, 6).alias("win_rate"),
        F.round(center - half, 6).alias("wilson_lo"),
        F.round(center + half, 6).alias("wilson_hi"),
    )


def _bt_mm_update(s, i_idx, j_idx, n, wins, smoothing):
    """One Hunter-MM round over index-array pair counts (shared by the
    bounded fast path and its test mirror): scatter n/(s_i+s_j) to both
    endpoints, divide the (ghost-smoothed) win totals, renormalize to
    mean 1."""
    denom = np.zeros_like(s)
    contrib = n / (s[i_idx] + s[j_idx])
    np.add.at(denom, i_idx, contrib)
    np.add.at(denom, j_idx, contrib)
    s = (wins + smoothing / 2.0) / (denom + smoothing / (s + 1.0))
    return s / s.mean()


def bradley_terry(
    comparisons: DataFrame,
    a_col: str = "item_a",
    b_col: str = "item_b",
    winner_col: str = "winner",
    max_iter: int = 20,
    smoothing: float = 0.1,
    small_pairs_threshold: int = 2_000_000,
) -> DataFrame:
    """Bradley-Terry strength scores from pairwise preferences (r11) —
    the transitive upgrade of :func:`pairwise_win_rates`: an item that
    beats strong opponents outranks one farming wins off weak ones.
    Hunter (2004) MM iteration: ``s_i <- W_i / sum_j n_ij/(s_i+s_j)``,
    scores renormalized to mean 1 each round for identifiability.
    Ties and invalid rows are excluded (classic BT has no tie state;
    fold ties upstream if needed). ``smoothing`` adds a virtual
    half-win/half-loss against a unit-strength ghost opponent so an
    undefeated item gets a large-but-FINITE strength instead of
    diverging. Returns ``(item, strength, n_games)`` with strength
    rounded to 6 decimals.

    Like BPE / connected components / Dawid-Skene, the MM fixpoint is
    not SQL-expressible — rows-only at the oracle gate, pinned against
    an independent numpy mirror in ``tests/test_evaluation.py``.

    Execution: comparisons collapse ONCE (distributed) into a
    canonical (i, j, n_ij, w_i) pair-count table (i < j) — the ONLY
    state the iteration needs, bounded by DISTINCT pairs, not by
    comparisons. When that table is small (LIMIT-probed against
    ``small_pairs_threshold``; preference studies rank models/prompts
    — thousands of items, not billions of pairs) the MM loop runs as
    vectorized numpy on the collected counts — the connected-
    components bounded-union-find precedent, avoiding the per-round
    Spark-job overhead an iterative tiny-frame loop pays (and the
    session-heap pressure 20 rounds of fresh codegen create). Above
    the threshold the loop runs distributed: per round the pair table
    joins the current scores on both endpoints, ONE aggregate per
    item rebuilds the denominator, scores localCheckpoint per round
    (CC/BPE precedent) — use fewer ``max_iter`` there, each round is
    a full Spark job wave.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    if smoothing < 0:
        raise ValueError(f"smoothing must be >= 0, got {smoothing}")
    a, b, w = F.col(a_col), F.col(b_col), F.col(winner_col)
    valid = comparisons.filter(
        a.isNotNull() & b.isNotNull() & (a != b) & ((w == a) | (w == b))
    )
    # canonical pair table: i < j, n games, wins credited to i
    pairs = (
        valid.select(
            F.least(a, b).alias("__i"),
            F.greatest(a, b).alias("__j"),
            (w == F.least(a, b)).cast("double").alias("__wi"),
        )
        .groupBy("__i", "__j")
        .agg(
            F.count(F.lit(1)).cast("double").alias("__n"),
            F.sum("__wi").alias("__w"),
        )
    )
    # bounded fast path (the CC union-find precedent): when the
    # aggregated pair table fits, iterate in vectorized numpy on the
    # collected counts — strengths only, the payload never moves. The
    # checkpoint stays on the distributed branch (r13).
    spark = comparisons.sparkSession
    rows = bounded_collect(pairs, small_pairs_threshold)
    if rows is not None:
        if not rows:
            return spark.createDataFrame(
                [],
                f"item {valid.schema[a_col].dataType.simpleString()}, "
                f"strength double, n_games long",
            )
        items = sorted({r["__i"] for r in rows} | {r["__j"] for r in rows})
        idx = {x: k for k, x in enumerate(items)}
        i_idx = np.array([idx[r["__i"]] for r in rows])
        j_idx = np.array([idx[r["__j"]] for r in rows])
        n = np.array([r["__n"] for r in rows])
        w = np.array([r["__w"] for r in rows])
        wins_v = np.zeros(len(items))
        np.add.at(wins_v, i_idx, w)
        np.add.at(wins_v, j_idx, n - w)
        games_v = np.zeros(len(items))
        np.add.at(games_v, i_idx, n)
        np.add.at(games_v, j_idx, n)
        s = np.ones(len(items))
        for _ in range(max_iter):
            s = _bt_mm_update(s, i_idx, j_idx, n, wins_v, smoothing)
        return local_frame(
            spark,
            [
                (x, round(float(s[idx[x]]), 6), int(games_v[idx[x]]))
                for x in items
            ],
            f"item {valid.schema[a_col].dataType.simpleString()}, "
            f"strength double, n_games long",
        )
    # distributed loop scans the pair table every round — materialize
    pairs = checkpoint_frame(pairs)
    wins = (
        pairs.select(F.col("__i").alias("item"), F.col("__w").alias("w"))
        .unionByName(
            pairs.select(
                F.col("__j").alias("item"),
                (F.col("__n") - F.col("__w")).alias("w"),
            )
        )
        .groupBy("item")
        .agg(F.sum("w").alias("__wins"))
    )
    games = checkpoint_frame(
        pairs.select(F.col("__i").alias("item"), F.col("__n").alias("n"))
        .unionByName(
            pairs.select(F.col("__j").alias("item"), F.col("__n").alias("n"))
        )
        .groupBy("item")
        .agg(F.sum("n").cast("long").alias("n_games"))
    )
    scores = checkpoint_frame(games.select("item", F.lit(1.0).alias("__s")))
    half = F.lit(smoothing / 2.0)
    for _ in range(max_iter):
        si = scores.select(F.col("item").alias("__i"), F.col("__s").alias("__si"))
        sj = scores.select(F.col("item").alias("__j"), F.col("__s").alias("__sj"))
        joined = pairs.join(si, "__i").join(sj, "__j")
        denom = (
            joined.select(
                F.col("__i").alias("item"),
                (F.col("__n") / (F.col("__si") + F.col("__sj"))).alias("d"),
            )
            .unionByName(
                joined.select(
                    F.col("__j").alias("item"),
                    (F.col("__n") / (F.col("__si") + F.col("__sj"))).alias("d"),
                )
            )
            .groupBy("item")
            .agg(F.sum("d").alias("__den"))
        )
        new_scores = (
            wins.join(denom, "item")
            .join(scores.select("item", F.col("__s").alias("__s0")), "item")
            .select(
                "item",
                # ghost opponent: `smoothing` virtual games at strength
                # 1, half of them won — W_i += smoothing/2, denominator
                # += smoothing/(s_i + 1)
                (
                    (F.col("__wins") + half)
                    / (
                        F.col("__den")
                        + F.lit(float(smoothing)) / (F.col("__s0") + F.lit(1.0))
                    )
                ).alias("__s"),
            )
        )
        # renormalize to mean 1 (identifiability)
        mean = new_scores.agg(F.avg("__s").alias("__m"))
        scores = checkpoint_frame(
            new_scores.crossJoin(F.broadcast(mean))
            .select("item", (F.col("__s") / F.col("__m")).alias("__s"))
        )
    return (
        scores.join(games, "item")
        .select("item", F.round("__s", 6).alias("strength"), "n_games")
    )
