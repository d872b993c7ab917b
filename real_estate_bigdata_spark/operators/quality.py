"""Distribution-relative quality filtering: keep rows above (or below)
a global quantile of a metric — "drop the bottom decile by quality
score", the corpus-cleaning step that adapts to the corpus instead of
hard-coding thresholds. North-star training-pipeline operator (the
reference repo — `map_reduce/mapper.py`, `kafka_cc/` — has no
analogue); composes with `text_analysis.doc_quality_profile` /
`repetition_metrics` for the metric itself.

Plan shape: one aggregate to a single-row cutoff + a broadcast
crossJoin filter — the Q15/Q22 scalar-subquery shape; no driver
collect, no second scan beyond the two the semantics require (one to
rank the distribution, one to filter).

Scale note: `F.percentile` is the EXACT quantile — a full sort of the
metric per aggregate. That is the oracle-checkable formulation; at
100 TB swap in ``approx=True`` (`approx_percentile`, t-digest-style
mergeable sketch, one pass, no sort) — same plan shape, bounded rank
error instead of exactness. The cutoff is rounded to 6 decimals on
both engines so a last-bit interpolation difference can't flip an
integer metric sitting on the boundary.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from real_estate_bigdata_spark.util import checkpoint_frame

__all__ = [
    "baseline_histogram",
    "c4_quality_filter",
    "corpus_health_report",
    "distribution_drift",
    "drift_from_histograms",
    "gopher_quality_filter",
    "linear_quality_scores",
    "metric_buckets",
    "metric_histogram",
    "quantile_floor",
]

#: the Gopher rule battery's required-stopword list (Rae et al. 2021,
#: Appendix A1.1) — a document must contain at least 2 of these
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_required_stopwords: int = 2,
) -> DataFrame:
    """The Gopher rule battery (Rae et al. 2021, "Scaling Language
    Models: Methods, Analysis & Insights from Training Gopher",
    Appendix A1.1) — the published heuristic filter set most English
    web-scale pretraining pipelines start from, as ONE map-only pass of
    pure Column expressions (no shuffle, no Python; the filter pushes
    into whole-stage codegen over the scan).

    Per document: word count bounds, mean word length bounds,
    symbol-to-word ratio ('#' characters + non-overlapping '...'
    occurrences + '…' characters), bullet-started and ellipsis-ended
    line ratios,
    fraction of words containing an [A-Za-z] character, and presence of
    at least ``min_required_stopwords`` of the 8 required stop words —
    plus ``gopher_pass``, the conjunction. Defaults are the paper's
    thresholds; every one is a parameter because non-web corpora
    retune them (and the driver query does, to exercise both verdicts
    on the synthetic testdata).

    Emits the measured ratios (round-6) alongside the verdict so the
    filter doubles as a quality profile; NULL text yields NULL metrics
    and a NULL verdict (the engine-wide NULL-document contract —
    ``filter(gopher_pass)`` drops them, as a filter must). Empty/blank
    text has zero words: the word-count rule fails it deterministically
    (ratios over zero words emit NULL, the verdict is still false)."""
    from real_estate_bigdata_spark.functions.text import tokenize

    # staged projection: tokens and lines computed ONCE as real columns.
    # In a single select, every output column embeds its own copy of
    # the tokenize/split subtree INSIDE a higher-order-function lambda,
    # where codegen's subexpression elimination cannot reach — measured
    # ~6x the single-pass cost at sf0.1. CollapseProject keeps the
    # stage (it declines to inline a non-cheap alias used more than
    # once), the same idiom as text_analysis.lang_id_report.
    staged = docs.select(
        F.col(id_col),
        F.col(text_col),
        tokenize(F.col(text_col)).alias("__toks"),
        F.split(F.col(text_col), "\n").alias("__lines"),
    )
    text = F.col(text_col)
    toks = F.col("__toks")
    n_words = F.size(toks)
    mean_wl = F.when(
        n_words > 0,
        F.aggregate(
            toks, F.lit(0.0), lambda a, w: a + F.length(w)
        ) / n_words,
    )
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    # both ellipsis forms count (r8 review): non-overlapping ASCII '...'
    # (length delta / 3) plus single-char U+2026 '…' — the common form
    # on real web text, and the form the ellipsis-LINE rule below
    # already recognized; counting only ASCII let '…'-heavy docs evade
    # the symbol rule entirely
    n_ellipsis = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / F.lit(3) + (
        F.length(text) - F.length(F.replace(text, F.lit("…"), F.lit("")))
    )
    symbol_ratio = F.when(n_words > 0, (n_hash + n_ellipsis) / n_words)
    lines = F.col("__lines")
    n_lines = F.size(lines)
    bullet_ratio = (
        F.size(
            F.filter(
                lines,
                lambda ln: F.ltrim(ln).rlike(r"^[•\-\*]"),
            )
        )
        / n_lines
    )
    ellipsis_ratio = (
        F.size(
            F.filter(
                lines,
                lambda ln: F.rtrim(ln).rlike(r"(\.\.\.|…)$"),
            )
        )
        / n_lines
    )
    alpha_ratio = F.when(
        n_words > 0,
        F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]"))) / n_words,
    )
    low_toks = F.transform(toks, F.lower)
    n_stop = F.size(
        F.array_intersect(
            low_toks, F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
        )
    )
    gopher_pass = (
        n_words.between(min_words, max_words)
        & mean_wl.between(min_mean_word_len, max_mean_word_len)
        & (symbol_ratio <= max_symbol_word_ratio)
        & (bullet_ratio <= max_bullet_line_ratio)
        & (ellipsis_ratio <= max_ellipsis_line_ratio)
        & (alpha_ratio >= min_alpha_word_ratio)
        & (n_stop >= min_required_stopwords)
    )
    null = F.lit(None)
    return staged.select(
        F.col(id_col),
        F.when(text.isNull(), null).otherwise(n_words).alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_word_ratio"),
        F.when(text.isNull(), null)
        .otherwise(F.round(bullet_ratio, 6))
        .alias("bullet_line_ratio"),
        F.when(text.isNull(), null)
        .otherwise(F.round(ellipsis_ratio, 6))
        .alias("ellipsis_line_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_word_ratio"),
        F.when(text.isNull(), null.cast("int"))
        .otherwise(n_stop)
        .alias("n_required_stopwords"),
        F.when(text.isNull(), null.cast("boolean"))
        .otherwise(F.coalesce(gopher_pass, F.lit(False)))
        .alias("gopher_pass"),
    )


def c4_quality_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_sentences: int = 3,
    blocklist: tuple[str, ...] = (),
    require_terminal_punct: bool = True,
) -> DataFrame:
    """The C4 cleaning battery (Raffel et al. 2020, "Exploring the
    Limits of Transfer Learning with a Unified Text-to-Text
    Transformer", §2.2) — the second canonical published web-filter
    set alongside :func:`gopher_quality_filter`, and the LINE-granular
    one: where Gopher scores whole documents, C4 first REWRITES the
    document by dropping boilerplate lines, then gates the page.

    Line rules (a line survives only if all hold):
      * ends in terminal punctuation (``. ! ? "`` or ``'`` after
        right-trim — the paper's "terminal punctuation mark" rule);
      * has at least ``min_words_per_line`` whitespace words (paper: 5);
      * does not contain the word "javascript" (case-insensitive) —
        the paper's warning-banner heuristic.

    Page rules over the ORIGINAL text (the paper drops the whole page):
      * fewer than ``min_sentences`` sentences in the CLEANED text
        (paper: 3) — sentences via the same lookbehind-free
        ``[^.!?]+[.!?]*`` runs as :func:`text_analysis.chunk_documents`
        so the DuckDB oracle is bit-exact;
      * contains ``{`` (code page) or the phrase "lorem ipsum"
        (placeholder page), both per the paper;
      * contains any ``blocklist`` phrase (case-insensitive) — the
        paper's bad-words list, parameterized because the published
        list is corpus-specific (empty default = rule off).

    Every threshold is a parameter with the paper's value as default;
    non-web corpora retune them (``require_terminal_punct=False``
    disables the punctuation line rule for corpora without sentence
    punctuation — the driver query does, to exercise both verdicts on
    the synthetic testdata, exactly as the Gopher query retunes its
    thresholds).

    ONE map-only pass of pure Column expressions (no shuffle, no
    Python; pushes into whole-stage codegen over the scan), with lines
    and the kept-line array STAGED as real columns — the same
    CollapseProject idiom as :func:`gopher_quality_filter`, since every
    downstream metric would otherwise re-embed the line filter inside
    HOF lambdas where codegen CSE cannot reach.

    Emits per-doc telemetry (line/sentence counts, page flags), the
    cleaned text (kept lines rejoined with ``\\n``; empty string when
    nothing survives), and ``c4_pass``. NULL text -> NULL metrics and a
    NULL verdict (the engine-wide NULL-document contract)."""
    text = F.col(text_col)

    def _line_words(ln: Column) -> Column:
        return F.when(F.trim(ln) == "", F.lit(0)).otherwise(
            F.size(F.split(F.trim(ln), r"\s+"))
        )

    def keep(ln: Column) -> Column:
        ok = (_line_words(ln) >= min_words_per_line) & ~F.contains(
            F.lower(ln), F.lit("javascript")
        )
        if require_terminal_punct:
            ok = F.rtrim(ln).rlike("[.!?\"']$") & ok
        return ok
    staged = docs.select(
        F.col(id_col),
        text,
        F.split(text, "\n").alias("__lines"),
    ).select(
        F.col(id_col),
        text,
        F.col("__lines"),
        F.filter(F.col("__lines"), keep).alias("__kept"),
    )
    clean = F.array_join(F.col("__kept"), "\n")
    sents = F.filter(
        F.transform(
            F.regexp_extract_all(clean, F.lit(r"[^.!?]+[.!?]*"), 0),
            lambda s: F.trim(s),
        ),
        lambda s: s != "",
    )
    staged = staged.select(
        F.col(id_col),
        text,
        F.size("__lines").alias("__n_lines"),
        F.size("__kept").alias("__n_kept"),
        clean.alias("__clean"),
        F.size(sents).alias("__n_sents"),
    )
    low = F.lower(text)
    has_brace = F.contains(text, F.lit("{"))
    has_lorem = F.contains(low, F.lit("lorem ipsum"))
    has_block = (
        functools.reduce(
            lambda a, b: a | b,
            [F.contains(low, F.lit(p.lower())) for p in blocklist],
        )
        if blocklist
        else F.lit(False)
    )
    c4_pass = (
        (F.col("__n_sents") >= min_sentences)
        & ~has_brace
        & ~has_lorem
        & ~has_block
    )
    null = F.lit(None)
    return staged.select(
        F.col(id_col),
        F.when(text.isNull(), null.cast("int"))
        .otherwise(F.col("__n_lines"))
        .alias("n_lines"),
        F.when(text.isNull(), null.cast("int"))
        .otherwise(F.col("__n_kept"))
        .alias("n_kept_lines"),
        F.when(text.isNull(), null.cast("int"))
        .otherwise(F.col("__n_sents"))
        .alias("n_sentences"),
        F.when(text.isNull(), null.cast("boolean"))
        .otherwise(has_brace)
        .alias("has_curly_brace"),
        F.when(text.isNull(), null.cast("boolean"))
        .otherwise(has_lorem)
        .alias("has_lorem_ipsum"),
        F.when(text.isNull(), null.cast("boolean"))
        .otherwise(has_block)
        .alias("has_blocklisted"),
        F.when(text.isNull(), null.cast("string"))
        .otherwise(F.col("__clean"))
        .alias("clean_text"),
        F.when(text.isNull(), null.cast("boolean"))
        .otherwise(c4_pass)
        .alias("c4_pass"),
    )


def linear_quality_scores(
    docs: DataFrame,
    weights: dict[str, float],
    bias: float = 0.0,
    normalize: bool = True,
    sigmoid: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Linear bag-of-words quality-classifier scoring — the
    CCNet/fastText inference shape every published pretraining pipeline
    runs (a trained linear model's vocabulary slice scores each doc;
    docs below a probability cutoff are dropped or down-sampled). The
    reference has no analogue; training the model is out of scope —
    this operator is the SCORING pass, with ``weights`` as the
    driver-side term→weight dict.

    Output: (id, n_tokens, score). ``score`` =
    ``sigmoid(bias + Σ w[token] [/ n_tokens])`` (OOV tokens weigh 0);
    ``normalize=False`` skips the length division, ``sigmoid=False``
    returns the raw logit — the monotone-equivalent form whose exact
    value is engine-portable when the weights are binary fractions
    (no transcendental, no division). NULL text → NULL score/n_tokens;
    an empty doc scores ``bias`` alone.

    Plan shape: the weight map embeds in the plan as a map literal
    (broadcast with the task binaries) and the whole operator is ONE
    map-only projection — per-token lookup + array aggregate, no
    shuffle, no Python, nothing proportional to |vocab| x |corpus|
    materialized. For vocabularies too big for a plan literal
    (100k+ terms), explode-join against a broadcast weight table
    instead — same result, one extra per-doc aggregate; this literal
    form is the hot path for the head-vocabulary models the published
    filters actually use (thousands of terms).
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    from real_estate_bigdata_spark.functions.text import tokenize

    wmap = F.create_map(
        *[F.lit(x) for tok, w in weights.items() for x in (tok, float(w))]
    )
    toks = tokenize(F.col(text_col))
    total = F.aggregate(
        F.transform(toks, lambda t: F.coalesce(F.element_at(wmap, t), F.lit(0.0))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n = F.size(toks)
    raw = F.lit(float(bias)) + (
        total / F.greatest(n, F.lit(1)).cast("double") if normalize else total
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-raw)) if sigmoid else raw
    return docs.select(
        F.col(id_col),
        F.when(F.col(text_col).isNull(), F.lit(None).cast("bigint"))
        .otherwise(n.cast("bigint"))
        .alias("n_tokens"),
        F.when(F.col(text_col).isNull(), F.lit(None).cast("double"))
        .otherwise(score)
        .alias("score"),
    )


def _validate_bins(lo: float, hi: float, n_bins: int) -> None:
    if hi <= lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi})")
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")


def _bin_expr(x: Column, lo: float, hi: float, n_bins: int) -> Column:
    """THE single IEEE-exact bin assignment (same arithmetic and
    operation order as every DuckDB drift/histogram oracle) — shared by
    :func:`metric_histogram` and the grouped drift path so the two can
    never silently diverge. ``x`` must already be cast to double."""
    width = (hi - lo) / n_bins
    return (
        F.when(x < float(lo), F.lit(0).cast("bigint"))
        .when(x >= float(hi), F.lit(n_bins + 1).cast("bigint"))
        .otherwise(
            (F.floor((x - F.lit(float(lo))) / F.lit(width)) + F.lit(1)).cast(
                "bigint"
            )
        )
    )


def metric_histogram(
    df: DataFrame,
    metric: Column | str,
    lo: float,
    hi: float,
    n_bins: int = 20,
) -> DataFrame:
    """Equi-width histogram of ``metric`` over explicit bounds — the
    corpus-distribution profile behind every quality-threshold decision
    (where IS the token-count mass before you pick a floor?). Bounds
    are explicit so the whole histogram is ONE pass + one bounded-key
    shuffle (n_bins+2 groups, map-side combined); a bounds-discovering
    min/max pre-pass would double the scan at 100 TB — run it once and
    reuse.

    Bin assignment is the explicit IEEE-double expression
    ``floor((x - lo) / ((hi - lo) / n_bins)) + 1`` — the SAME arithmetic,
    in the same operation order, that the DuckDB oracle runs (DuckDB has
    no ``width_bucket``), so the oracle is exact for ANY bounds: when a
    bin width is not exactly representable, both engines mis-round
    boundary values identically instead of disagreeing. Caveat for
    oracle authors: DuckDB parses bare numeric literals as DECIMAL and
    would compute the width exactly — cast every literal ``::DOUBLE``
    (as the shipped oracle and the parity test do) to stay in IEEE
    arithmetic. Bin 0 =
    underflow (< lo, lo_edge NULL), bins 1..n equi-width over [lo, hi),
    bin n_bins+1 = overflow (>= hi, hi_edge NULL). NULL and NaN metrics
    are excluded (NaN compares greater than any double in Spark, so
    without the explicit guard it would silently inflate the overflow
    bin — ``width_bucket``, which this expression replaced, returned
    NULL for NaN). Empty bins are absent (count them as zero
    downstream).
    """
    _validate_bins(lo, hi, n_bins)
    m = F.col(metric) if isinstance(metric, str) else metric
    width = (hi - lo) / n_bins
    b = F.col("bin")
    x = m.cast("double")
    return (
        df.filter(~F.isnan(F.coalesce(x, F.lit(0.0))))
        .select(_bin_expr(x, lo, hi, n_bins).alias("bin"))
        .filter(b.isNotNull())
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            b.cast("bigint").alias("bin"),
            F.when(
                (b >= 1) & (b <= n_bins),
                F.round(F.lit(lo) + (b - 1) * F.lit(width), 6),
            ).alias("lo_edge"),
            F.when(
                (b >= 1) & (b <= n_bins),
                F.round(F.lit(lo) + b * F.lit(width), 6),
            ).alias("hi_edge"),
            "n",
        )
    )


def corpus_health_report(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One-row corpus validation report — the pre-ingest data-quality
    gate a training pipeline asserts on before accepting a drop: row
    and distinct-id counts (their difference = duplicate ids, the
    classic upstream-join bug), NULL/empty/whitespace-only text counts,
    and character-length distribution (min/max/avg). All invariants in
    ONE aggregate pass — a health check must not cost a second scan of
    a 100 TB corpus; every measure here is map-side combinable
    (count-distinct goes through Spark's partial-aggregation expand).

    Assert on it like::

        r = corpus_health_report(docs).first()
        assert r.n_dup_ids == 0 and r.n_null_text == 0
    """
    t = F.col(text_col)
    return docs.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(id_col).alias("n_distinct_ids"),
        (F.count(F.lit(1)) - F.countDistinct(id_col)).alias("n_dup_ids"),
        F.count(F.when(t.isNull(), 1)).alias("n_null_text"),
        F.count(F.when(t == "", 1)).alias("n_empty_text"),
        F.count(F.when(t.isNotNull() & (F.trim(t) == "") & (t != ""), 1)).alias(
            "n_blank_text"
        ),
        F.min(F.length(t)).cast("bigint").alias("min_chars"),
        F.max(F.length(t)).cast("bigint").alias("max_chars"),
        F.round(F.avg(F.length(t)), 6).alias("avg_chars"),
    )


def quantile_floor(
    df: DataFrame,
    metric: Column | str,
    q: float = 0.1,
    keep: str = "above",
    approx: bool = False,
) -> DataFrame:
    """Rows whose ``metric`` is >= (``keep="above"``) or <=
    (``keep="below"``) the global ``q``-quantile of ``metric``,
    original schema. Rows with a NULL or NaN metric are dropped (a
    missing or undefined score can't clear a floor), and never
    contribute to the quantile — NaN compares greater than any double
    in Spark, so without the guard it would both inflate the cutoff
    and sail over it (``NaN >= cutoff`` is true).
    """
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"q must be in [0, 1], got {q}")
    if keep not in ("above", "below"):
        raise ValueError(f"keep must be 'above' or 'below', got {keep!r}")
    m = F.col(metric) if isinstance(metric, str) else metric
    with_m = df.withColumn("__m", m)
    ok = ~F.isnan(F.coalesce(F.col("__m").cast("double"), F.lit(0.0)))
    pct = (
        F.percentile_approx("__m", F.lit(q))
        if approx
        else F.percentile("__m", F.lit(q))
    )
    cutoff = with_m.filter(ok).agg(F.round(pct, 6).alias("__cutoff"))
    cond = (
        F.col("__m") >= F.col("__cutoff")
        if keep == "above"
        else F.col("__m") <= F.col("__cutoff")
    )
    return (
        with_m.filter(ok)
        .crossJoin(F.broadcast(cutoff))
        .filter(cond)
        .drop("__m", "__cutoff")
    )


def metric_buckets(
    df: DataFrame,
    metric: Column | str,
    n_buckets: int = 3,
    approx: bool = False,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Equal-frequency bucketing of a quality metric — the CCNet
    head/middle/tail split (perplexity terciles) generalized to any
    score and bucket count. Appends an integer ``bucket_col`` in
    [1, n_buckets] (1 = lowest metric values); rows with a NULL or NaN
    metric keep a NULL bucket and never shape the cutoffs (NaN sorts
    greater than any double in Spark, so without the explicit guard it
    would both skew every percentile cutoff and land in the top bucket
    — the same exclusion :func:`metric_histogram` and
    :func:`quantile_floor` apply).

    NOT ``ntile``: a global ntile is one window over ONE partition — a
    single-task sort of the corpus. Here the n-1 interior quantile
    cutoffs come from a single aggregate (one array-returning
    ``percentile``), broadcast back, and the bucket is a map-side
    comparison count — the same Q15-shape scalar-subquery plan as
    :func:`quantile_floor`, so it scales like a filter, not a sort.
    Boundary semantics: bucket = 1 + #{cutoffs strictly below the
    value}, i.e. ties land in the LOWER bucket; buckets can be empty
    only under heavy ties, never mispopulated.

    Oracle exactness: cutoffs are rounded to 6 decimals on both engines
    (same contract as :func:`quantile_floor`) so a last-bit
    interpolation difference between Spark ``percentile`` and DuckDB
    ``quantile_cont`` cannot flip a boundary value's bucket. At 100 TB
    pass ``approx=True`` for the one-pass mergeable-sketch cutoffs.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    m = F.col(metric) if isinstance(metric, str) else metric
    with_m = df.withColumn("__m", m)
    ok = ~F.isnan(F.coalesce(F.col("__m").cast("double"), F.lit(0.0)))
    pcts = F.array([F.lit(k / n_buckets) for k in range(1, n_buckets)])
    pct = (
        F.percentile_approx("__m", pcts)
        if approx
        else F.percentile("__m", pcts)
    )
    cuts = with_m.filter(ok).agg(
        F.transform(pct, lambda c: F.round(c, 6)).alias("__cuts")
    )
    bucket = F.when(
        F.col("__m").isNotNull() & ok & F.col("__cuts").isNotNull(),
        F.lit(1)
        + F.size(F.filter("__cuts", lambda c: F.col("__m") > c)),
    ).cast("int")
    return (
        with_m.crossJoin(F.broadcast(cuts))
        .withColumn(bucket_col, bucket)
        .drop("__m", "__cuts")
    )


def distribution_drift(
    old: DataFrame,
    new: DataFrame,
    metric: Column | str,
    lo: float,
    hi: float,
    n_bins: int = 10,
    group_col: str | None = None,
) -> DataFrame:
    """Population-stability-index drift report between two corpus
    snapshots — the monitoring step that catches a crawler change, a
    broken parser, or an upstream source shift BEFORE a training build
    consumes the new snapshot. Bins ``metric`` on both sides with the
    same explicit-bounds histogram as :func:`metric_histogram`
    (including its under/overflow bins 0 and n_bins+1), Laplace-smooths
    the bin shares so empty bins never divide by zero, and emits one
    row per bin::

        bin, n_old, n_new, share_old, share_new, psi_contrib

    ``sum(psi_contrib)`` is the PSI; the industry folk thresholds are
    ~0.1 (moderate) / 0.25 (act). Per-bin contributions are kept —
    WHERE the mass moved matters more than the scalar.

    Oracle exactness: bin arithmetic is metric_histogram's IEEE-exact
    expression; shares are (count+1)/(total+n_bins+2) on exact integer
    inputs — one correctly-rounded division on both engines; the single
    ``ln`` of a ratio of identical doubles can differ by at most an
    ulp between libms, erased by the 6-decimal rounding.

    Scale posture: one pass over each snapshot (bounded-key shuffle to
    n_bins+2 groups, x group cardinality when grouped), then all drift
    arithmetic happens on a (n_bins+2)-row-per-group frame with
    per-group totals joined back. Nothing corpus-sized ever moves.

    ``group_col`` (e.g. ``source``): per-group PSI — WHICH source
    drifted, the question a multi-source crawl monitor actually asks.
    Output gains the group column; bins enumerate per group with >= 1
    BINNED row on EITHER side (a group absent from one side gets the
    all-smoothed uniform there — maximal drift signal, never a
    division by zero; a group with no non-NULL metrics anywhere has no
    distribution to compare and is absent from the output). NULL
    groups are excluded. The group set derives from the histogram
    AGGREGATES, not a third corpus scan — the grouped report still
    costs exactly one pass per snapshot. Same oracle-exactness
    arguments.
    """
    h_old = baseline_histogram(old, metric, lo, hi, n_bins, group_col)
    h_new = baseline_histogram(new, metric, lo, hi, n_bins, group_col)
    return drift_from_histograms(h_old, h_new, n_bins, group_col)


def baseline_histogram(
    df: DataFrame,
    metric: Column | str,
    lo: float,
    hi: float,
    n_bins: int = 10,
    group_col: str | None = None,
) -> DataFrame:
    """The materializable side of a drift comparison: the (``group?``,
    ``bin``, ``n``) histogram frame :func:`distribution_drift` computes
    internally, exposed so a monitoring pipeline can compute it ONCE
    over a reference snapshot, write the handful of rows to the lake,
    and compare every future batch against it — the baseline corpus is
    scanned once ever, not once per report
    (``streaming.drift_monitor`` does exactly this). Same bin
    arithmetic, NULL/NaN exclusion, and under/overflow bins as
    :func:`metric_histogram`; grouped mode enumerates bins per group.
    Empty bins are absent (drift arithmetic zero-fills them)."""
    _validate_bins(lo, hi, n_bins)
    if group_col is None:
        return metric_histogram(df, metric, lo, hi, n_bins).select("bin", "n")
    return _grouped_histogram(df, metric, lo, hi, n_bins, group_col).select(
        group_col, "bin", "n"
    )


def drift_from_histograms(
    h_old: DataFrame,
    h_new: DataFrame,
    n_bins: int,
    group_col: str | None = None,
) -> DataFrame:
    """The PSI arithmetic of :func:`distribution_drift` over two
    PRECOMPUTED histogram frames of :func:`baseline_histogram` shape —
    everything here moves (groups x bins)-sized frames, nothing
    corpus-sized. Callers must pass the same ``n_bins`` the histograms
    were built with (bins outside [0, n_bins+1] would silently distort
    the smoothing denominators — there is no cheap way to validate
    without an action, so the contract is documented instead).

    Both inputs are eagerly localCheckpoint-ed: each is referenced up
    to three times below (group set, join, totals), and when handed a
    live aggregate lineage each reference would re-scan the underlying
    corpus — verified: without this the executed plan shows no
    ReusedExchange, just repeated FileScans. localCheckpoint, not
    persist: cached relations outlive the call in the session cache
    manager (repeated monitor runs would accumulate them
    indefinitely), while checkpoint blocks are GC-reclaimed with the
    DataFrame."""
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    k = n_bins + 2
    spark = h_old.sparkSession
    if group_col is None:
        h_old = checkpoint_frame(h_old.select("bin", F.col("n").alias("n_old")))
        h_new = checkpoint_frame(h_new.select("bin", F.col("n").alias("n_new")))
        bins = spark.range(0, k).select(F.col("id").alias("bin"))
        joined = (
            bins.join(h_old, "bin", "left")
            .join(h_new, "bin", "left")
            .fillna(0, ["n_old", "n_new"])
        )
        totals = joined.agg(
            F.sum("n_old").alias("__t_old"), F.sum("n_new").alias("__t_new")
        )
        joined = joined.crossJoin(F.broadcast(totals))
        group_cols = []
    else:
        h_old = checkpoint_frame(
            h_old.select(group_col, "bin", F.col("n").alias("n_old"))
        )
        h_new = checkpoint_frame(
            h_new.select(group_col, "bin", F.col("n").alias("n_new"))
        )
        groups = (
            h_old.select(group_col)
            .unionByName(h_new.select(group_col))
            .distinct()
        )
        bins = groups.crossJoin(
            spark.range(0, k).select(F.col("id").alias("bin"))
        )
        joined = (
            bins.join(h_old, [group_col, "bin"], "left")
            .join(h_new, [group_col, "bin"], "left")
            .fillna(0, ["n_old", "n_new"])
        )
        totals = joined.groupBy(group_col).agg(
            F.sum("n_old").alias("__t_old"), F.sum("n_new").alias("__t_new")
        )
        joined = joined.join(totals, group_col)
        group_cols = [group_col]
    p_old = (F.col("n_old") + F.lit(1)) / (F.col("__t_old") + F.lit(k))
    p_new = (F.col("n_new") + F.lit(1)) / (F.col("__t_new") + F.lit(k))
    return joined.select(
        *group_cols,
        F.col("bin").cast("bigint").alias("bin"),
        "n_old",
        "n_new",
        F.round(p_old, 6).alias("share_old"),
        F.round(p_new, 6).alias("share_new"),
        F.round((p_new - p_old) * F.log(p_new / p_old), 6).alias("psi_contrib"),
    )


def _grouped_histogram(
    df: DataFrame,
    metric: Column | str,
    lo: float,
    hi: float,
    n_bins: int,
    group_col: str,
) -> DataFrame:
    """(group, bin, n) — :func:`metric_histogram`'s bin assignment
    (the SHARED :func:`_bin_expr`, NaN/NULL exclusion) aggregated per
    group; NULL groups excluded. One pass, bounded-key shuffle."""
    m = F.col(metric) if isinstance(metric, str) else metric
    x = m.cast("double")
    return (
        df.filter(~F.isnan(F.coalesce(x, F.lit(0.0))))
        .filter(F.col(group_col).isNotNull())
        .select(F.col(group_col), _bin_expr(x, lo, hi, n_bins).alias("bin"))
        .filter(F.col("bin").isNotNull())
        .groupBy(group_col, "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
