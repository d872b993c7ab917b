"""Deterministic sampling, splits, and sequence packing for
training-data pipelines.

Everything here is CONTENT-deterministic — a function of the row's key,
never of partitioning, row order, or an RNG stream — because training
subsets must be reproducible across engines, re-runs, and cluster
shapes. The bucketing hash is the portable md5-prefix bigint (same
construction as ``text_analysis.portable_fingerprint``), so every
operator has an exact DuckDB oracle; Spark's ``sample()``/``sampleBy()``
(partition-order-dependent Bernoulli) are deliberately NOT used.

Scale notes: hash_sample / hash_split are map-only projections (fused
into the scan, shuffle-free). pack_documents is one window over the
packing key — a single shuffle; its sequential cumsum is per-partition,
the standard greedy-packing compromise (a global greedy pack is
inherently sequential and would serialize the corpus).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "allocate_token_budget",
    "bucket_by_length",
    "bucket_of",
    "cap_per_group",
    "curriculum_phases",
    "hash_sample",
    "hash_sample_weighted",
    "hash_split",
    "materialize_packed",
    "mixture_balance",
    "pack_documents",
    "quality_cutoffs",
    "shuffle_shard",
    "stratified_hash_sample",
    "temperature_mixture",
    "time_split",
]

#: buckets for percent-style fractions; md5 prefix modulo this
N_BUCKETS = 10_000


def bucket_of(key: Column, salt: str = "") -> Column:
    """Deterministic bucket in [0, N_BUCKETS) from the row key: the
    60-bit md5-prefix bigint modulo N_BUCKETS. ``salt`` derives
    independent bucketings from the same key (one per experiment)."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws("", key.cast("string"), F.lit(salt))), 1, 15),
        16,
        10,
    ).cast("bigint")
    return F.pmod(h, F.lit(N_BUCKETS))


def hash_sample(
    df: DataFrame, fraction: float, key_col: str = "doc_id", salt: str = ""
) -> DataFrame:
    """Keep rows whose bucket falls below ``fraction`` of the bucket
    space — the same rows every run, on every engine, under any
    partitioning. Map-only; the filter pushes to the scan when the key
    is a stored column."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.filter(bucket_of(F.col(key_col), salt) < int(round(fraction * N_BUCKETS)))


def hash_sample_weighted(
    df: DataFrame,
    prob_col: Column | str,
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Per-row deterministic sampling with a PER-ROW keep probability —
    the epoch-resampling primitive of mixture training (each row
    carries its own inclusion probability, e.g. from a temperature-
    scaled source weight or a quality score in [0, 1]). A row is kept
    iff its md5 bucket falls below ``prob_col``'s share of the bucket
    space: the same verdict every run, on every engine, under any
    partitioning — change ``salt`` to draw an independent epoch.
    Probabilities are clamped to [0, 1]; NULL probabilities drop the
    row (no probability, no sample). Map-only like ``hash_sample``.
    """
    p = F.col(prob_col) if isinstance(prob_col, str) else prob_col
    clamped = F.least(F.greatest(p.cast("double"), F.lit(0.0)), F.lit(1.0))
    return df.filter(
        bucket_of(F.col(key_col), salt) < clamped * F.lit(float(N_BUCKETS))
    )


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    key_col: str = "doc_id",
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Assign every row to exactly one named split (train/val/test...)
    by contiguous bucket ranges proportional to ``weights`` (normalized;
    the LAST split in insertion order absorbs rounding remainder).
    Deterministic and disjoint by construction — the reproducible
    train/val/test assignment a data pipeline must be able to replay.
    """
    if not weights or any(w < 0 for w in weights.values()) or sum(weights.values()) <= 0:
        raise ValueError(f"weights must be positive, got {weights}")
    total = sum(weights.values())
    names = list(weights)
    # stage the bucket as a real column: embedding bucket_of() in every
    # when-branch would re-evaluate the md5 per branch per row (the same
    # re-evaluation pathology text_analysis.lang_id_report stages away)
    bucketed = df.withColumn("__bucket", bucket_of(F.col(key_col), salt))
    bucket = F.col("__bucket")
    expr = None
    lo = 0
    for name in names[:-1]:
        hi = lo + int(round(weights[name] / total * N_BUCKETS))
        cond = (bucket >= lo) & (bucket < hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo = hi
    expr = F.lit(names[0]) if expr is None else expr.otherwise(names[-1])
    return bucketed.withColumn(split_col, expr).drop("__bucket")


def stratified_hash_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "lang",
    key_col: str = "doc_id",
    salt: str = "",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the class-rebalancing
    primitive of a training-data pipeline (downsample the dominant
    language/domain, keep all of the rare one). Each stratum keeps rows
    whose bucket falls below its own fraction; strata not listed keep
    ``default_fraction`` of rows. Content-deterministic like
    ``hash_sample`` (same key -> same verdict on every engine and
    partitioning), unlike Spark's order-dependent ``sampleBy``.

    Map-only: one staged bucket column + a CASE threshold, fused into
    the scan — no shuffle, no per-stratum pass.
    """
    bad = {k: v for k, v in fractions.items() if not 0.0 <= v <= 1.0}
    if bad or not 0.0 <= default_fraction <= 1.0:
        raise ValueError(
            f"fractions must be in [0, 1], got {bad or default_fraction}"
        )
    thresh = F.lit(int(round(default_fraction * N_BUCKETS)))
    for name, frac in fractions.items():
        thresh = F.when(
            F.col(strata_col) == name, int(round(frac * N_BUCKETS))
        ).otherwise(thresh)
    bucketed = df.withColumn("__bucket", bucket_of(F.col(key_col), salt))
    return bucketed.filter(F.col("__bucket") < thresh).drop("__bucket")


def allocate_token_budget(
    df: DataFrame,
    budget: float,
    weight_col: str = "n_tokens",
    strata_col: str = "source",
    mixture: dict | None = None,
    max_epochs: float = 1.0,
) -> DataFrame:
    """Plan a training mixture under a token budget: how many tokens to
    draw from each stratum (domain/source/language) when the DESIRED
    mixture and the AVAILABLE data disagree -> one row per stratum
    ``(<strata_col>, available, weight, allocated, epochs, saturated)``.

    The allocation is exact water-filling: stratum ``s`` gets
    ``t_s = min(cap_s, lam * w_s)`` with ``cap_s = max_epochs * T_s``
    (the repeat ceiling — data-constrained regimes reuse data a bounded
    number of times, Muennighoff et al. 2023) and one global waterline
    ``lam`` chosen so the allocations spend ``budget`` (or everything,
    when the budget exceeds total capacity). ``mixture`` maps stratum ->
    desired proportion ``w_s`` (any positive scale; strata missing from
    an explicit mixture get 0 — excluded by intent, visible in the
    plan); ``None`` uses natural proportions (``w_s = T_s``).
    ``epochs = allocated / available`` is the number a sampler or
    repeat-loader executes per stratum; ``saturated`` marks strata at
    their repeat ceiling — the ones a data-acquisition effort should
    target.

    Fully declarative (no driver loop): the waterline is found by the
    sorted-prefix closed form — order strata by ``cap_s / w_s``
    ascending; a stratum saturates iff the budget left after fully
    funding every EARLIER (cheaper) stratum still covers its rate for
    all remaining weight (``budget - cum_cap_prev >= r_s * (W -
    cum_w_prev)``, a condition that is provably monotone along the
    sort), and the first non-saturated row's remaining-budget ratio IS
    ``lam``. Everything runs on the per-stratum totals frame — strata
    are domains (thousands at most, NEVER corpus-sized), so the
    single-partition window is bounded by construction. Cross-engine
    exact: cumulative sums run in the same deterministic (ratio,
    stratum) order on both engines. Rounded to 6 decimals.
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    if max_epochs <= 0:
        raise ValueError(f"max_epochs must be > 0, got {max_epochs}")
    totals = (
        df.filter(
            F.col(strata_col).isNotNull() & F.col(weight_col).isNotNull()
        )
        .groupBy(strata_col)
        .agg(F.sum(F.col(weight_col).cast("double")).alias("available"))
        .filter(F.col("available") > 0)
    )
    if mixture is not None:
        if any(v < 0 for v in mixture.values()):
            raise ValueError("mixture proportions must be >= 0")
        wmap = F.create_map(
            *[F.lit(x) for kv in mixture.items() for x in kv]
        )
        totals = totals.withColumn(
            "weight",
            F.coalesce(wmap[F.col(strata_col)].cast("double"), F.lit(0.0)),
        )
    else:
        totals = totals.withColumn("weight", F.col("available"))
    live = totals.filter(F.col("weight") > 0).select(
        strata_col,
        "available",
        "weight",
        (F.lit(float(max_epochs)) * F.col("available")).alias("__cap"),
    )
    win = (
        Window.orderBy((F.col("__cap") / F.col("weight")).asc(),
                       F.col(strata_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = (
        live.withColumn("__r", F.col("__cap") / F.col("weight"))
        .withColumn("__ccp", F.coalesce(F.sum("__cap").over(win), F.lit(0.0)))
        .withColumn("__cwp", F.coalesce(F.sum("weight").over(win), F.lit(0.0)))
    )
    wt = staged.agg(F.sum("weight").alias("__wt"))
    staged = staged.crossJoin(F.broadcast(wt)).withColumn(
        "saturated",
        (F.lit(float(budget)) - F.col("__ccp"))
        >= F.col("__r") * (F.col("__wt") - F.col("__cwp")),
    )
    lam = staged.filter(~F.col("saturated")).agg(
        F.min_by(
            (F.lit(float(budget)) - F.col("__ccp"))
            / (F.col("__wt") - F.col("__cwp")),
            F.struct(F.col("__r"), F.col(strata_col)),
        ).alias("__lam")
    )
    allocated = F.when(F.col("saturated"), F.col("__cap")).otherwise(
        F.col("__lam") * F.col("weight")
    )
    planned = staged.crossJoin(F.broadcast(lam)).select(
        strata_col,
        F.round("available", 6).alias("available"),
        F.round("weight", 6).alias("weight"),
        F.round(allocated, 6).alias("allocated"),
        F.round(allocated / F.col("available"), 6).alias("epochs"),
        "saturated",
    )
    excluded = totals.filter(F.col("weight") <= 0).select(
        strata_col,
        F.round("available", 6).alias("available"),
        F.lit(0.0).alias("weight"),
        F.lit(0.0).alias("allocated"),
        F.lit(0.0).alias("epochs"),
        F.lit(False).alias("saturated"),
    )
    return planned.unionByName(excluded)


def mixture_balance(
    df: DataFrame,
    weight_col: str = "n_tokens",
    strata_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Equalize the mixture: deterministically downsample every stratum
    (source/domain/language) toward the SMALLEST stratum's total
    ``weight_col`` (token) mass — the data-mixture rebalancing step of
    a training build (no stratum may dominate; the rare stratum is
    kept whole). Stratum s keeps fraction floor(minT*B/T_s)/B of its
    rows (B = ``N_BUCKETS``), so expected kept token mass ≈ minT per
    stratum; per-row hash sampling (not top-k truncation) keeps the
    kept subset unbiased within each stratum. floor (not round) on
    both engines — banker's-rounding divergence can't flip a
    threshold.

    Two jobs by construction: the per-stratum totals are aggregated
    and collected driver-side (bounded — strata are sources/domains,
    thousands at most, NEVER corpus-sized), then the filter itself is
    the same map-only CASE-threshold scan as
    ``stratified_hash_sample``. NULL-``weight_col`` rows contribute
    nothing to totals; NULL strata are kept out (no listed fraction).
    """
    totals = {
        r[0]: r[1]
        for r in df.groupBy(strata_col)
        .agg(F.sum(weight_col).alias("t"))
        .collect()
        if r[0] is not None and r[1] is not None
    }
    if not totals:
        return df.filter(F.lit(False))
    min_t = min(totals.values())
    fractions = {
        s: (min_t * N_BUCKETS // t) / N_BUCKETS if t > 0 else 1.0
        for s, t in totals.items()
    }
    return stratified_hash_sample(
        df, fractions, strata_col=strata_col, key_col=key_col, salt=salt
    )


def temperature_mixture(
    df: DataFrame,
    alpha: float,
    weight_col: str = "n_tokens",
    strata_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Temperature-scaled mixture sampling (the multilingual
    alpha-sampling of mBERT/XLM-R): resample strata so the kept token
    mass follows p_s proportional to T_s**alpha instead of the raw corpus
    proportions T_s. Realized as pure downsampling — the budget is the
    largest M such that no stratum needs upsampling — which collapses to
    the closed form

        keep_fraction(s) = (T_min / T_s) ** (1 - alpha)

    (T_min = smallest POSITIVE stratum mass). alpha=1 keeps everything
    (natural proportions), alpha=0 equalizes all strata to T_min —
    exactly ``mixture_balance`` whenever every stratum has positive
    mass (the integer floor-division is reused verbatim for that
    endpoint) — and 0<alpha<1 interpolates, boosting rare strata
    without flattening the mixture entirely. Deliberate divergence
    under ZERO-mass strata: ``mixture_balance``'s min includes 0, so
    one all-zero-weight stratum collapses every positive stratum to
    nothing; here T_min is the smallest positive mass (zero-mass
    strata still keep all their rows), because flooring the whole
    corpus to zero is never the curation intent.

    Cross-engine oracle exactness: for alpha=0.5 the fraction is
    sqrt(T_min/T_s), computed via IEEE-exact ``math.sqrt`` on an exact
    int/int double division — bit-identical to DuckDB's
    ``sqrt(mt::DOUBLE / t)`` — so the floor-to-bucket threshold matches
    the SQL oracle exactly (sqrt is correctly rounded by IEEE 754;
    general ``pow`` is not guaranteed to be). Other alphas use
    driver-side ``**`` and are exact-in-practice but not
    IEEE-guaranteed.

    Same two-job shape as ``mixture_balance``: bounded driver collect of
    per-stratum totals, then one map-only CASE-threshold scan.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    totals = {
        r[0]: r[1]
        for r in df.groupBy(strata_col)
        .agg(F.sum(weight_col).alias("t"))
        .collect()
        if r[0] is not None and r[1] is not None
    }
    if not totals:
        return df.filter(F.lit(False))
    positive = [t for t in totals.values() if t > 0]
    # no positive mass: min_t is never read (_keep's t<=0 branch wins
    # everywhere) and every listed stratum keeps all rows — while
    # NULL-source / NULL-total strata still drop, same as the oracle
    min_t = min(positive) if positive else 0

    def _keep(t) -> float:
        if t <= 0:
            return 1.0
        if alpha == 0.0:
            # EXACT mixture_balance endpoint: its integer floor-division
            # (min_t * B // t) can differ by one bucket from
            # floor((min_t/t) * B) in doubles (e.g. 3/5000), so the
            # identity holds only by reusing the same integer arithmetic
            return (min_t * N_BUCKETS // t) / N_BUCKETS
        ratio = min_t / t  # exact int/int -> correctly-rounded double
        if alpha == 0.5:
            f = math.sqrt(ratio)  # IEEE-exact, matches DuckDB sqrt()
        elif alpha == 1.0:
            f = 1.0
        else:
            f = ratio ** (1.0 - alpha)
        return math.floor(f * N_BUCKETS) / N_BUCKETS

    fractions = {s: _keep(t) for s, t in totals.items()}
    return stratified_hash_sample(
        df, fractions, strata_col=strata_col, key_col=key_col, salt=salt
    )


def cap_per_group(
    df: DataFrame,
    max_rows: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    order_col: str | None = None,
    salt: str = "",
    prefilter_counts: bool = False,
) -> DataFrame:
    """Keep at most ``max_rows`` rows per group — the C4/RefinedWeb-style
    per-domain cap that stops one crawl host from dominating a training
    mix. Groups at or under the cap pass through whole.

    Selection inside an over-cap group is deterministic and
    content-defined: by ``order_col`` DESCENDING when given (keep the
    best-scoring rows — compose with ``text_analysis`` quality scores),
    else by the portable md5 bucket of the id (an unbiased but
    reproducible draw — same survivors on every engine, partitioning,
    and re-run, unlike ``ORDER BY rand()``). Ties always break on the
    id, so the survivor set is total-order determined.

    Plan: one window (single shuffle on ``group_col``). Skew note: one
    monster domain makes one window partition — ``prefilter_counts=True``
    adds a map-side shrink pass before the exact window, with a
    mode-specific mechanism:

    * default hash order — per-group counts (output bounded by group
      cardinality, broadcast back) drop rows whose bucket lies above the
      cap/count quantile, shrinking the sorted partition from the
      group's size to ~cap + 4*sqrt(cap) + 16 expected rows. That
      additive slack keeps the dropped-winner probability below ~e^-16
      even at cap=1 (a flat 2x multiplier fails ~e^-2 of 1-row caps —
      caught by the randomized invariant sweep); a vanishing-probability
      approximation, the same documented exact/approx trade as
      ``quality.quantile_floor``'s sketch flag — leave it off when exact
      reproducibility across engines is required.
    * ``order_col`` given — a per-group ``percentile_approx`` cutoff
      (see ``quality_cutoffs``) drops rows strictly below a value
      GUARANTEED <= the cap-th best, so unlike the hash path this
      prefilter can never change the result: the exact window output is
      identical with the flag on or off, deterministically.
    """
    if max_rows < 1:
        raise ValueError(f"max_rows must be >= 1, got {max_rows}")
    if order_col is not None:
        ordering = [F.col(order_col).desc(), F.col(id_col)]
        ranked = (
            _quality_prefilter(df, max_rows, group_col, order_col)
            if prefilter_counts
            else df
        )
    else:
        ranked = df.withColumn("__bucket", bucket_of(F.col(id_col), salt))
        ordering = [F.col("__bucket"), F.col(id_col)]
        if prefilter_counts:
            counts = df.groupBy(group_col).agg(F.count("*").alias("__gn"))
            # expected kept rows per over-cap group: cap + 4*sqrt(cap)
            # + 16 — enough that fewer-than-cap survivors is an ~e^-16
            # tail even at cap=1; exact window below trims to the cap
            keep_target = max_rows + 4 * max_rows**0.5 + 16
            ranked = ranked.join(F.broadcast(counts), group_col, "left").filter(
                (F.col("__gn") <= max_rows)
                | (
                    F.col("__bucket")
                    < F.least(
                        F.lit(N_BUCKETS),
                        F.ceil(keep_target * N_BUCKETS / F.col("__gn")),
                    )
                )
            ).drop("__gn")
    w = Window.partitionBy(group_col).orderBy(*ordering)
    out = ranked.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= max_rows
    )
    return out.drop("__rn", "__bucket")


#: grid step for the quality-prefilter percentile sketch; the cutoff is
#: taken one full step below the cap boundary, so a coarser step only
#: keeps MORE rows (never fewer) — 1% of the monster group is the floor
#: of what the prefilter can shrink to.
_QUALITY_GRID_STEP = 0.01
_QUALITY_GRID = [
    round(i * _QUALITY_GRID_STEP, 2) for i in range(int(1 / _QUALITY_GRID_STEP))
]
_QUALITY_ACC = 10_000  # percentile_approx accuracy: rank error <= N/acc


def shuffle_shard(
    df: DataFrame,
    n_shards: int,
    key_col: str = "doc_id",
    salt: str = "",
    shard_col: str = "shard",
    pos_col: str = "pos",
) -> DataFrame:
    """Deterministic global shuffle + sharding for training-data export:
    every row gets a ``shard`` in [0, n_shards) and a 1-based ``pos``
    within its shard, both pure functions of ``(key, salt)`` — the same
    layout every run, on every engine, under any input partitioning.
    Reading the shards in ``(shard, pos)`` order replays one fixed
    pseudo-random permutation of the corpus; a different ``salt``
    derives an independent permutation (one per training epoch), which
    is how epoch reshuffles are produced without ever materializing a
    random state. The reference has no analogue (SURVEY §2.4 ABSENT
    family); this is north-star training-pipeline surface like
    ``hash_split``.

    Keys should be unique (a duplicated key draws the same shard and
    adjacent, arbitrarily-ordered positions); a NULL key hashes as the
    empty string (``concat_ws`` semantics), same as the rest of the
    md5 family.

    Scale posture: shard assignment is map-only (60-bit md5-prefix
    bigint mod ``n_shards`` — the full-width prefix, NOT ``bucket_of``'s
    mod-10,000 bucket, whose double-modulo would bias shards that don't
    divide 10,000). The within-shard ``row_number`` is ONE shuffle on
    the shard id + a per-shard sort; at 100 TB pick ``n_shards`` in the
    tens of thousands so each shard is a few GB — uniform by hash, so
    no skew mitigation is needed. The sort key is the md5 hex STRING
    (ASCII compare — portable across engines), key as tiebreak.

    To materialize files:
    ``out.repartition(n_shards, shard_col).sortWithinPartitions(shard_col,
    pos_col)`` then a partitioned write (``sources.lake``) — the
    repartition reuses the same hash key, so AQE coalesces nothing away.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    hhex = F.md5(F.concat_ws("", F.col(key_col).cast("string"), F.lit(salt)))
    staged = df.withColumn("__hhex", hhex).withColumn(
        shard_col,
        F.pmod(
            F.conv(F.substring("__hhex", 1, 15), 16, 10).cast("bigint"),
            F.lit(n_shards),
        ),
    )
    w = Window.partitionBy(shard_col).orderBy(F.col("__hhex"), F.col(key_col))
    return staged.withColumn(
        pos_col, F.row_number().over(w).cast("bigint")
    ).drop("__hhex")


def quality_cutoffs(
    df: DataFrame,
    max_rows: int,
    group_col: str = "source",
    order_col: str = "quality",
) -> DataFrame:
    """Per-group conservative lower bound on the ``max_rows``-th largest
    ``order_col`` value — the broadcast side of the quality-ordered
    ``cap_per_group`` skew mitigation.

    Mechanism: one ``percentile_approx`` pass over a fixed 101-point
    percentile grid (Spark requires a foldable percentage argument, so
    the per-group target percentile is resolved AFTERWARD by indexing
    into the grid). The chosen grid point sits a full grid step plus
    twice the sketch's rank-error bound BELOW the cap boundary, so the
    returned value's true rank is provably below ``count - max_rows``:
    every row the window would keep has ``order_col`` >= the cutoff, on
    every run and merge order of the sketch. Groups whose non-null count
    leaves no room for a cutoff get NULL (meaning: keep everything).

    Output: (``group_col``, ``__qcut``) — bounded by group cardinality
    (domains/sources: thousands, never corpus-sized), broadcastable.
    """
    nn = F.col("__nn")
    # rank target as a fraction, minus sketch error (2/acc) and one grid
    # step of slack; floor to the grid point at or below it
    target = (nn - F.lit(max_rows)) / nn - F.lit(
        2.0 / _QUALITY_ACC + _QUALITY_GRID_STEP
    )
    idx = F.floor(target / F.lit(_QUALITY_GRID_STEP)).cast("int")
    return (
        df.filter(F.col(order_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.percentile_approx(
                order_col,
                F.array([F.lit(p) for p in _QUALITY_GRID]),
                F.lit(_QUALITY_ACC),
            ).alias("__qs"),
            F.count("*").alias("__nn"),
        )
        .select(
            group_col,
            F.when(idx >= 0, F.element_at("__qs", idx + 1)).alias("__qcut"),
        )
    )


def _quality_prefilter(
    df: DataFrame, max_rows: int, group_col: str, order_col: str
) -> DataFrame:
    """Map-side shrink for the quality-ordered cap: broadcast the
    per-group cutoffs and drop rows strictly below them. NULL
    ``order_col`` rows always pass (they sort last in the window and may
    legitimately survive in groups short of non-null winners); groups
    without a cutoff (under-cap, all-null, or absent from the cutoff
    aggregate) pass whole. Never changes the exact window's output —
    see ``quality_cutoffs`` for the guarantee."""
    cuts = quality_cutoffs(df, max_rows, group_col, order_col)
    keep = (
        F.col("__qcut").isNull()
        | F.col(order_col).isNull()
        | (F.col(order_col) >= F.col("__qcut"))
    )
    return df.join(F.broadcast(cuts), group_col, "left").filter(keep).drop("__qcut")


def materialize_packed(
    docs: DataFrame,
    token_budget: int,
    n_tokens_col: str = "n_tokens",
    pack_by: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    separator: str = "\n\n",
) -> DataFrame:
    """Tokenizer-ready training shards: run :func:`pack_documents`'
    chunk assignment, then materialize each chunk as ONE row with its
    documents' text concatenated in ``id_col`` order with ``separator``
    — the step that turns chunk ids into the actual sequences a
    tokenization job consumes. Output: (``pack_by``, chunk_id, n_docs,
    n_tokens, ``text_col``).

    Plan shape: the assignment window shuffles only (id, key, count) —
    the text payload joins in on the id afterward and moves exactly
    once more into the per-chunk aggregate. In-chunk order is
    deterministic regardless of partitioning: collect_list is
    order-unstable, so concatenation sorts an array of (id, text)
    structs first (the same reassembly pattern as
    ``text_analysis.remove_boilerplate_lines``). NULL ``text_col``
    entries are skipped by the concatenation (array_join drops NULLs);
    docs with NULL ``n_tokens_col`` are excluded by the packer itself,
    and NULL-``id_col`` docs are excluded UP FRONT — they cannot join
    back to their text or take a deterministic place in the id order
    (and engines disagree on NULL sort position), so letting them
    advance the packer's running offset would corrupt every later
    chunk while their content silently vanished.
    """
    docs = docs.filter(F.col(id_col).isNotNull())
    assignments = pack_documents(
        docs.select(id_col, pack_by, n_tokens_col),
        token_budget,
        n_tokens_col=n_tokens_col,
        pack_by=pack_by,
        id_col=id_col,
    )
    joined = assignments.join(docs.select(id_col, text_col), id_col)
    return joined.groupBy(pack_by, "chunk_id").agg(
        F.count("*").alias("n_docs"),
        F.sum(n_tokens_col).cast("bigint").alias("n_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col(id_col).alias("i"), F.col(text_col).alias("t")
                        )
                    )
                ),
                lambda x: x["t"],
            ),
            separator,
        ).alias(text_col),
    )


def pack_documents(
    docs: DataFrame,
    token_budget: int,
    n_tokens_col: str = "n_tokens",
    pack_by: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Offset-based sequence chunking: within each ``pack_by`` group,
    docs in ``id_col`` order are assigned to the chunk where their LAST
    token falls in the running token offset — chunk_id =
    floor((inclusive_cumsum - 1) / budget).

    This is deliberately NOT true greedy packing (greedy's "close the
    chunk when the next doc would overflow" accumulator reset is
    sequential and has no window-function form): a chunk averages
    ``token_budget`` tokens exactly but can exceed it by up to one
    doc's length when a doc straddles a boundary. That is the standard
    sharding contract for tokenization jobs — downstream workers each
    take a chunk_id and get a near-budget, whole-document slice.
    Oversized docs (> budget) are capped in the accumulator so each
    consumes one chunk slot instead of skewing all later boundaries.

    One window = a single shuffle on the packing key; deterministic
    given the data (no RNG, no partition dependence). Output:
    (id, pack_by, n_tokens, chunk_id). Docs with NULL token counts are
    excluded (cannot be packed). NULL ``id_col`` values are the
    caller's responsibility to filter: the assignment is well-defined
    (NULLs sort first in Spark) but NOT portable — engines disagree on
    NULL sort position — and :func:`materialize_packed` excludes them
    outright.
    """
    if token_budget <= 0:
        raise ValueError(f"token_budget must be positive, got {token_budget}")
    w = Window.partitionBy(pack_by).orderBy(id_col)
    n = F.col(n_tokens_col)
    # cap oversized docs at the budget for accumulation so each consumes
    # exactly one chunk slot instead of skewing all later boundaries
    eff = F.least(n, F.lit(token_budget))
    cum = F.sum(eff).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        docs.filter(n.isNotNull())
        .select(
            id_col,
            pack_by,
            n.alias(n_tokens_col),
            F.floor((cum - F.lit(1)) / F.lit(token_budget)).cast("bigint").alias("chunk_id"),
        )
    )


def bucket_by_length(
    df: DataFrame,
    boundaries: tuple[int, ...] = (64, 128, 256, 512),
    batch_tokens: int = 4096,
    n_shards: int = 64,
    key_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "",
) -> DataFrame:
    """Length-bucketed dynamic batching (r10) — the trainer-side
    complement of :func:`pack_documents`: instead of concatenating
    documents into fixed windows, group SIMILAR-length documents and
    fill ~``batch_tokens``-sized batches, so a training step pads to
    its batch's length band instead of the corpus maximum (the
    standard dynamic-batching layout). One row per batchable document:
    ``(<key_col>, n_tokens, bucket, shard, batch_id)``.

    ``bucket`` = number of ``boundaries`` (strictly increasing) at or
    below the whitespace token count — band 0 is shorter than the
    first boundary, band ``len(boundaries)`` at-or-above the last.
    Within a bucket, documents are SUB-SHARDED by the md5 hash family
    (``shuffle_shard``'s exact spelling: 60-bit md5-prefix mod
    ``n_shards``) and batches are filled per (bucket, shard) in
    deterministic md5-hex order with the CLOSED-FORM assignment
    ``batch_id = floor(tokens_before / batch_tokens)`` — each batch
    averages ``batch_tokens`` with overflow bounded by one document
    (a document belongs to the batch where its prefix sum starts; the
    greedy would-overflow-breaks variant is a sequential fold no
    engine can parallelize, the same trade :func:`allocate_token_budget`
    documents for its waterline). Deterministic on every run, engine,
    and partitioning; a different ``salt`` re-deals the batches.

    NULL-text documents have no token count and are EXCLUDED (the
    quarantine path owns them); empty/blank text is 0 tokens and
    batches normally.

    Scale posture: tokenize + bucket + shard are map-only; the only
    shuffle is the window on (bucket, shard) — ``n_shards`` keeps that
    parallel at any corpus size (a bucket-only window would serialize
    into len(boundaries)+1 tasks at 100 TB). Batches never cross a
    (bucket, shard) pair, which is also what makes them stable under
    cluster resizing.
    """
    from real_estate_bigdata_spark.functions.text import token_count

    if any(b <= 0 for b in boundaries) or list(boundaries) != sorted(
        set(boundaries)
    ):
        raise ValueError(
            f"boundaries must be strictly increasing positive ints, "
            f"got {boundaries}"
        )
    if batch_tokens < 1:
        raise ValueError(f"batch_tokens must be >= 1, got {batch_tokens}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    n_tok = token_count(F.col(text_col))
    bucket = (
        sum((n_tok >= F.lit(b)).cast("int") for b in boundaries)
        if boundaries
        else F.lit(0)
    )
    staged = df.select(
        F.col(key_col),
        n_tok.alias("n_tokens"),
        bucket.cast("int").alias("bucket"),
        F.md5(
            F.concat_ws("", F.col(key_col).cast("string"), F.lit(salt))
        ).alias("__hhex"),
    ).filter(F.col("n_tokens").isNotNull())
    staged = staged.withColumn(
        "shard",
        F.pmod(
            F.conv(F.substring("__hhex", 1, 15), 16, 10).cast("bigint"),
            F.lit(n_shards),
        ).cast("int"),
    )
    w = (
        Window.partitionBy("bucket", "shard")
        .orderBy("__hhex", key_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return staged.select(
        key_col,
        "n_tokens",
        F.col("bucket").cast("int").alias("bucket"),
        "shard",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
            / F.lit(batch_tokens)
        )
        .cast("bigint")
        .alias("batch_id"),
    )


def curriculum_phases(
    df: DataFrame,
    signals: dict[str, float],
    n_phases: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Curriculum ordering (r11): a difficulty score per document —
    the weighted sum of z-normalized ``signals`` columns — bucketed
    into ``n_phases`` equal-mass phases (1 = easiest) for
    easy-to-hard training schedules.

    Scale shape: phases are NOT a global ntile (a corpus-wide ordered
    window is a single-task sort at 100 TB). Instead: ONE aggregate
    derives each signal's mean/stddev, a second derives the exact
    interpolated phase cutoffs of the difficulty distribution
    (``F.percentile`` — bounded output: n_phases-1 doubles), both bind
    as broadcast one-row frames, and the phase assignment is a
    MAP-SIDE comparison against the cutoffs. Three scan-level passes,
    zero shuffles of the corpus, no ordered window anywhere.

    Determinism across engines (the prototype-pruning precedent):
    means/stddevs round to 9 decimals BEFORE scoring so engine
    reduction order cannot leak into the 6-decimal difficulty; cutoffs
    round to 6. A signal with zero variance contributes 0 (not NaN);
    NULL signal values z-score as 0 (the mean — the neutral
    imputation). Output: (``id_col``, ``difficulty``, ``phase``).
    """
    if not signals:
        raise ValueError("signals must be a non-empty {column: weight} map")
    if n_phases < 2:
        raise ValueError(f"n_phases must be >= 2, got {n_phases}")
    missing = [c for c in signals if c not in df.columns]
    if missing:
        raise ValueError(f"signal columns {missing} not in df")
    stats = df.agg(
        *[
            F.round(F.avg(c), 9).alias(f"__mu_{i}")
            for i, c in enumerate(signals)
        ],
        *[
            F.round(F.stddev(c), 9).alias(f"__sd_{i}")
            for i, c in enumerate(signals)
        ],
    )
    z_terms = []
    for i, (c, w) in enumerate(signals.items()):
        sd = F.col(f"__sd_{i}")
        z = F.when(
            sd.isNotNull() & (sd > 0),
            (F.coalesce(F.col(c).cast("double"), F.col(f"__mu_{i}"))
             - F.col(f"__mu_{i}")) / sd,
        ).otherwise(F.lit(0.0))
        z_terms.append(F.lit(float(w)) * z)
    scored = (
        df.select(id_col, *signals)
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            F.round(
                sum(z_terms[1:], z_terms[0]), 6
            ).alias("difficulty"),
        )
    )
    fracs = [i / n_phases for i in range(1, n_phases)]
    cuts = scored.agg(
        F.percentile(
            "difficulty", F.array([F.lit(p) for p in fracs])
        ).alias("__cuts")
    ).select(
        F.transform("__cuts", lambda c: F.round(c, 6)).alias("__cuts")
    )
    return (
        scored.crossJoin(F.broadcast(cuts))
        .select(
            id_col,
            "difficulty",
            (
                F.lit(1)
                + F.aggregate(
                    "__cuts",
                    F.lit(0),
                    lambda acc, c: acc
                    + F.when(F.col("difficulty") > c, 1).otherwise(0),
                )
            ).cast("int").alias("phase"),
        )
    )


def time_split(
    df: DataFrame,
    cutoff,
    time_col: str = "ts",
    embargo_seconds: float = 0.0,
    split_col: str = "split",
    train_label: str = "train",
    embargo_label: str = "embargo",
    test_label: str = "test",
) -> DataFrame:
    """Temporal train/test split with an embargo gap (r12) — the
    leakage-safe split for TIME-ordered data, completing the family
    next to :func:`hash_split` (random, content-keyed) and
    :func:`~real_estate_bigdata_spark.operators.clustering.cluster_safe_split`
    (near-dup-safe): when examples are autocorrelated in time (user
    sessions, price series, crawl snapshots), a random split leaks the
    test period's context into training, and rows immediately before
    the cutoff leak label horizons across it — the standard fix is a
    hard cutoff plus an embargo band excluded from training (the
    purged/embargoed split of Lopez de Prado 2018, ch. 7).

    Assignment: ``time < cutoff - embargo`` -> ``train_label``;
    ``cutoff - embargo <= time < cutoff`` -> ``embargo_label``;
    ``time >= cutoff`` -> ``test_label``; NULL time -> NULL split
    (unmeasured, never guessed). ``cutoff`` is a timestamp literal
    (string or datetime); ``embargo_seconds`` is decimal-capable
    (the funnel make_interval lesson). Map-only pure Column expression
    — one CASE over the scan, pushdown/pruning untouched.
    """
    if embargo_seconds < 0:
        raise ValueError(
            f"embargo_seconds must be >= 0, got {embargo_seconds}"
        )
    if split_col in df.columns:
        raise ValueError(f"split_col {split_col!r} already exists")
    labels = (train_label, embargo_label, test_label)
    if len(set(labels)) != 3:
        raise ValueError(f"split labels must be distinct, got {labels}")
    t = F.col(time_col)
    cut = F.lit(cutoff).cast("timestamp")
    emb_start = cut - F.make_interval(secs=F.lit(float(embargo_seconds)))
    return df.withColumn(
        split_col,
        F.when(t.isNull(), F.lit(None).cast("string"))
        .when(t >= cut, F.lit(test_label))
        .when(t >= emb_start, F.lit(embargo_label))
        .otherwise(F.lit(train_label)),
    )
