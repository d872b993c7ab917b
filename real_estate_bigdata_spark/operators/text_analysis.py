"""Document-level text analysis operators over the `documents` table:
quality profiling, token accounting, language ID, fingerprinting.

Composes ``functions.text`` into table-shaped outputs. Everything is a
map-only projection or a single-shuffle aggregate — the shapes that
scale to a 100 TB document lake.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from real_estate_bigdata_spark.util import (
    checkpoint_frame,
    ensure_min_parallelism,
    write_epoch,
)
from real_estate_bigdata_spark.functions.text import (
    bpe_ish_token_count,
    quality_metrics,
    token_count,
    tokenize,
)

__all__ = [
    "bm25_topk",
    "build_bm25_index",
    "bm25_search",
    "append_bm25_epoch",
    "compact_bm25_index",
    "retract_from_bm25_index",
    "rrf_fuse",
    "doc_quality_profile",
    "token_accounting",
    "lang_id_report",
    "doc_fingerprints",
    "portable_fingerprint",
    "remove_boilerplate_lines",
    "repetition_metrics",
    "vocab_coverage",
    "vocab_top_tokens",
    "approx_heavy_hitters",
    "bigram_logprob_scores",
    "dedup_paragraphs",
    "unigram_logprob_scores",
    "tfidf_scores",
    "chunk_documents",
]


def doc_quality_profile(docs: DataFrame) -> DataFrame:
    """Per-document quality features (map-only projection)."""
    m = quality_metrics(F.col("text"))
    return ensure_min_parallelism(docs).select(
        "doc_id",
        m["n_chars"].alias("n_chars"),
        m["n_tokens"].alias("n_tokens"),
        m["avg_token_len"].alias("avg_token_len"),
        m["punct_ratio"].alias("punct_ratio"),
        m["alpha_ratio"].alias("alpha_ratio"),
        m["stopword_ratio"].alias("stopword_ratio"),
        m["uniq_token_ratio"].alias("uniq_token_ratio"),
    )


def token_accounting(docs: DataFrame) -> DataFrame:
    """Corpus token budget per source: whitespace + BPE-ish counts.
    Partial aggregation makes the shuffle carry one row per source."""
    return (
        ensure_min_parallelism(docs).select(
            "source",
            token_count(F.col("text")).alias("ws"),
            bpe_ish_token_count(F.col("text")).alias("bpe"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ws").alias("ws_tokens"),
            F.sum("bpe").alias("bpe_tokens"),
            F.round(F.avg("ws"), 6).alias("avg_ws_tokens"),
        )
    )


def lang_id_report(docs: DataFrame) -> DataFrame:
    """Predicted language per doc (stopword-argmax heuristic) alongside
    the labeled language — the confusion-matrix input.

    Staged projections (tokens -> per-language scores -> argmax) instead
    of one nested Column expression: a chained argmax over inline score
    expressions embeds every score into every branch of the when-tree,
    so each language's token scan is re-evaluated many times per row.
    Splitting the stages keeps each score computed once; the argmax then
    compares 5 cheap ints. Ties resolve to the alphabetically-first
    language with the max score (strict ``>``); no hits at all -> 'und'.
    """
    from real_estate_bigdata_spark.functions.text import LANG_STOPWORDS, tokenize

    toks_df = ensure_min_parallelism(docs).select(
        "doc_id", "lang", tokenize(F.lower(F.col("text"))).alias("toks")
    )
    score_cols = []
    for code in sorted(LANG_STOPWORDS):
        arr = F.array(*[F.lit(w) for w in LANG_STOPWORDS[code]])
        score_cols.append(
            F.size(F.filter("toks", lambda t: F.array_contains(arr, t))).alias(f"s_{code}")
        )
    scored = toks_df.select("doc_id", "lang", *score_cols)
    codes = sorted(LANG_STOPWORDS)
    best = F.lit("und")
    best_score = F.lit(0)
    for code in codes:
        cond = F.col(f"s_{code}") > best_score
        best = F.when(cond, F.lit(code)).otherwise(best)
        best_score = F.when(cond, F.col(f"s_{code}")).otherwise(best_score)
    return scored.select("doc_id", "lang", best.alias("lang_pred"))


def repetition_metrics(
    docs: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style repetition quality signals per document:
    ``n_ngrams`` (total word-n-gram occurrences), ``dup_ngram_frac``
    (1 - distinct/total — mass sitting in repeats) and
    ``top_ngram_frac`` (most frequent n-gram's share) — the classic
    drop-thresholds for boilerplate/spam before training
    (occurrence-fraction formulation; Gopher's char-fraction variant
    differs only by a length weight). Docs with fewer than ``n``
    tokens or NULL text keep a row with NULL metrics so a quality
    filter sees every document.

    Shape: explode hashed n-grams (no n-gram strings materialized) ->
    (doc, gram) count -> per-doc aggregate — two map-side-combining
    shuffles on doc-sized keys, then one doc-id join to re-attach
    metric-less docs. Exploded codegen aggregates, not per-row HOF
    folds (the fold re-scans the array per metric and stays outside
    partial aggregation).
    """
    from real_estate_bigdata_spark.operators.dedup import _hashed_shingles

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    # duplicates kept (distinct=False): repetition is exactly the mass
    # the dedup shingle sets throw away
    hsh = _hashed_shingles(docs, n, id_col=id_col, text_col=text_col, distinct=False)
    grams = hsh.select(F.col(id_col), F.explode("hs").alias("g"))
    agg = (
        grams.groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_ngrams"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("top_c"),
        )
    )
    metrics = agg.select(
        F.col(id_col),
        F.col("n_ngrams"),
        F.round(F.lit(1.0) - F.col("n_distinct") / F.col("n_ngrams"), 6).alias(
            "dup_ngram_frac"
        ),
        F.round(F.col("top_c") / F.col("n_ngrams"), 6).alias("top_ngram_frac"),
    )
    return docs.select(id_col).join(metrics, id_col, "left")


def portable_fingerprint(text: Column) -> Column:
    """60-bit content fingerprint from md5 — portable across engines
    (DuckDB: ``('0x' || substr(md5(x),1,15))::BIGINT``), used for
    oracle-checkable exact dedup. For Spark-only pipelines prefer
    ``functions.text.fingerprint64`` (xxhash64, cheaper)."""
    return F.conv(F.substring(F.md5(text), 1, 15), 16, 10).cast("bigint")


def doc_fingerprints(docs: DataFrame) -> DataFrame:
    """doc_id + whitespace-normalized portable fingerprint.
    NULL text -> NULL fingerprint (``concat_ws`` would otherwise collapse
    NULL to "" and collide with the empty document)."""
    text = F.col("text")
    normalized = F.concat_ws(" ", F.split(F.trim(text), r"\s+"))
    fp = F.when(text.isNull(), F.lit(None).cast("bigint")).otherwise(
        portable_fingerprint(normalized)
    )
    return ensure_min_parallelism(docs).select("doc_id", fp.alias("fingerprint"))


def remove_boilerplate_lines(
    docs: DataFrame,
    max_docs: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document line-level dedup (CCNet/Gopher boilerplate
    removal): strip every line that appears — as an exact string — in
    more than ``max_docs`` distinct documents (navigation bars, cookie
    banners, license footers), keeping the remaining lines in their
    original order. Docs whose every line is boilerplate come back with
    empty text (the row survives for accounting); NULL text stays NULL.
    Rows with a NULL ``id_col`` pass through UNTOUCHED and do not
    contribute to line frequencies: they cannot be reassembled
    per-document (a NULL key would merge every NULL-id doc's lines),
    so they are carried outside the line pipeline.

    Plan: posexplode lines -> 60-bit portable line fingerprint (the
    md5-prefix construction, same as ``portable_fingerprint`` — so the
    DuckDB oracle computes identical keys; collisions ~2^-60) ->
    distinct (fingerprint, doc) -> doc-frequency aggregate -> left-anti
    join of the line stream against the over-threshold fingerprints ->
    order-preserving reassembly (collect_list of (pos, line) structs,
    array_sort, array_join). Three shuffles, two of them on the 8-byte
    fingerprint; the line payload moves only in the reassembly shuffle.
    The boilerplate side of the anti join is df-filtered (small by
    construction) — AQE broadcasts it.
    """
    if max_docs < 1:
        raise ValueError(f"max_docs must be >= 1, got {max_docs}")
    null_id = docs.filter(F.col(id_col).isNull())
    docs = docs.filter(F.col(id_col).isNotNull())
    lines = docs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__line"),
    ).withColumn("__fp", portable_fingerprint(F.col("__line")))
    boiler = (
        lines.select("__fp", "__id")
        .distinct()
        .groupBy("__fp")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > max_docs)
        .select("__fp")
    )
    rebuilt = (
        lines.join(boiler, "__fp", "left_anti")
        .groupBy("__id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                    lambda x: x["__line"],
                ),
                "\n",
            ).alias("__clean")
        )
    )
    cleaned = (
        docs.join(rebuilt, docs[id_col] == rebuilt["__id"], "left")
        .withColumn(
            text_col,
            F.when(F.col(text_col).isNull(), F.lit(None).cast("string")).otherwise(
                F.coalesce(F.col("__clean"), F.lit(""))
            ),
        )
        .drop("__id", "__clean")
    )
    return cleaned.unionByName(null_id.select(*cleaned.columns))


def dedup_paragraphs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    join_sep: str | None = None,
) -> DataFrame:
    """Within-document paragraph dedup (the Gopher repetition-removal
    edit, not just the metric): split ``text_col`` on ``sep`` (a Java
    regex — pass ``join_sep`` when it isn't also the literal you want
    between kept paragraphs), keep each paragraph's FIRST occurrence in
    original order, rejoin. The complement of
    :func:`remove_boilerplate_lines` — that one removes lines repeated
    ACROSS documents; this removes repetition INSIDE one document
    (navigation blocks pasted twice, scraper stutter).

    Map-only Column expression (no shuffle, no Python): keep-first is
    an index filter against ``array_position`` (first occurrence index).
    NULL text stays NULL; docs without the separator pass through
    unchanged. Output replaces ``text_col`` and keeps the full schema.
    """
    parr = F.split(F.col(text_col), sep)
    kept = F.filter(parr, lambda x, i: F.array_position(parr, x) == i + 1)
    return docs.withColumn(
        text_col,
        F.when(F.col(text_col).isNull(), F.lit(None).cast("string")).otherwise(
            F.array_join(kept, join_sep if join_sep is not None else sep)
        ),
    )


def vocab_top_tokens(
    docs: DataFrame, k: int = 100, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus vocabulary head: the ``k`` most frequent whitespace tokens
    with occurrence count, document frequency, and a deterministic rank
    (count desc, token asc tie-break) — the seed table for BPE vocab
    construction, stopword derivation, and drift monitoring.

    Scale shape: classic wordcount — explode + one map-side-combining
    hash aggregate on the token (``countDistinct`` adds the standard
    two-phase distinct expansion), then ``orderBy().limit(k)`` which
    Spark executes as TakeOrderedAndProject (per-partition top-k,
    driver merges k·partitions rows — never a global sort). The rank
    window runs over the k surviving rows only, so the single-partition
    window is bounded at k regardless of corpus size.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    toks = ensure_min_parallelism(docs).select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("token")
    )
    agg = toks.groupBy("token").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct(id_col).alias("n_docs"),
    )
    top = agg.orderBy(F.col("n_occurrences").desc(), F.col("token").asc()).limit(k)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))


def bigram_logprob_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Bigram corpus-LM quality signal — the conditional-probability
    sharpening of :func:`unigram_logprob_scores` (one step toward the
    KenLM n-gram filters of CCNet/RefinedWeb, expressed in pure
    DataFrame ops): per document, the mean negative log conditional
    probability avg(-ln P(w2|w1)) of its token bigrams under the
    corpus's own bigram counts, with P(w2|w1) = c(w1,w2) / c_left(w1).
    Self-scoring needs no smoothing: every scored bigram was counted,
    so both counts are >= 1. High = locally incoherent token sequences
    (shuffled text, OCR noise, keyword stuffing) that unigram
    frequency alone cannot see.

    Plan shape: the bigram stream is built MAP-SIDE with a transform
    over the token array (no positional self-join), then one combining
    shuffle per count table (bigram and left-context), a stream-join
    against both (bigram vocab ≪ token stream; AQE broadcasts when it
    fits), and a per-doc aggregate. Docs with < 2 tokens keep a NULL
    score with n_bigrams 0.
    """
    toks = ensure_min_parallelism(docs).select(
        F.col(id_col), tokenize(F.col(text_col)).alias("t")
    )
    big = (
        toks.filter(F.size("t") >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    "transform(slice(t, 1, size(t)-1),"
                    " (x, i) -> struct(x AS w1, t[i+1] AS w2))"
                )
            ).alias("bg"),
        )
        .select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    c12 = big.groupBy("w1", "w2").agg(F.count("*").alias("n12"))
    c1 = big.groupBy("w1").agg(F.count("*").alias("n1"))
    per = (
        big.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.avg(F.log("n1") - F.log("n12")).alias("s"),
        )
    )
    return (
        docs.select(id_col)
        .join(per, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.round("s", 6).alias("avg_neg_logprob_bigram"),
        )
    )


def unigram_logprob_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CCNet-style corpus-language-model quality signal: per document,
    the mean negative log-probability of its tokens under the corpus's
    own unigram distribution. Low = stereotypical text, high =
    rare-token-heavy (gibberish, foreign-language, OCR noise); the
    standard filter is a quantile band over this score
    (compose with :func:`operators.quality.quantile_floor`).

    avg(-ln p(t)) decomposes as ln(N) - avg(ln n_t), so the plan is:
    wordcount (one combining shuffle), token-stream join against the
    frequency table (vocab ≪ corpus; AQE picks broadcast when it
    fits), per-doc aggregate, and the corpus total joined back as a
    broadcast scalar — no global sort, no driver data. Tokenless
    (empty/NULL) docs keep a NULL score with n_tokens 0.
    """
    toks = ensure_min_parallelism(docs).select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("token")
    )
    freq = toks.groupBy("token").agg(F.count("*").alias("n_tok"))
    total = freq.agg(F.sum("n_tok").cast("double").alias("corpus_n"))
    per_doc = (
        toks.join(freq, "token")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.avg(F.log("n_tok")).alias("avg_ln_count"),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
            F.round(F.log("corpus_n") - F.col("avg_ln_count"), 6).alias(
                "avg_neg_logprob"
            ),
        )
    )


def approx_heavy_hitters(
    docs: DataFrame,
    support: float = 0.01,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> list[str]:
    """Single-pass approximate heavy hitters over the token stream:
    every token with frequency > ``support`` of all token occurrences
    is returned (Karp-Papadimitriou-Shenker via ``df.stat.freqItems``
    — may include false positives below the threshold, never misses a
    true heavy hitter). The streaming-friendly complement to
    :func:`vocab_top_tokens`: one map-side pass, no count shuffle, no
    top-k merge — the shape for a quick boilerplate/stopword probe on
    100 TB where even a wordcount is a job you'd rather skip.

    Returns a driver-side list (bounded at ~1/support entries by the
    algorithm). Compose with ``vocab_top_tokens`` over the candidate
    set for exact counts when needed.
    """
    if not 0.0 < support < 1.0:
        raise ValueError(f"support must be in (0, 1), got {support}")
    toks = ensure_min_parallelism(docs).select(
        F.explode(tokenize(F.col(text_col))).alias("token")
    )
    row = toks.stat.freqItems(["token"], support).first()
    return sorted(row[0])


def tfidf_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exploded TF-IDF term weights: one row per (document, distinct
    token) with term frequency, smoothed inverse document frequency,
    and their product — the classic sparse text representation
    (SURVEY §7.6 names TF-IDF as north-star text-analysis surface).
    Kept exploded rather than assembled into vectors: the row form
    feeds similarity joins, top-term extraction, and keyword reports
    directly, and it's the shape an engine can actually shuffle.

    Definitions (scikit-learn smooth_idf convention):
    ``tf = occurrences / doc_tokens``,
    ``idf = ln((N + 1) / (df + 1)) + 1``, ``tfidf = tf * idf``
    (round-6 on tf/idf/tfidf for cross-engine comparability).

    Scale shape: one explode + one (doc, token) count aggregate, a doc
    total, a token document-frequency aggregate, and a join of the two
    — all map-side-combining shuffles on bounded keys, plus the corpus
    doc count N joined back as a broadcast scalar. No driver data, no
    Python.
    """
    toks = ensure_min_parallelism(docs).select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("token")
    )
    per_doc_tok = toks.groupBy(id_col, "token").agg(F.count("*").alias("n_occ"))
    doc_len = per_doc_tok.groupBy(id_col).agg(F.sum("n_occ").alias("doc_tokens"))
    df_counts = per_doc_tok.groupBy("token").agg(
        F.countDistinct(id_col).alias("doc_freq")
    )
    n_docs = docs.agg(F.count("*").cast("double").alias("n_corpus_docs"))
    tf = F.col("n_occ") / F.col("doc_tokens")
    idf = F.log((F.col("n_corpus_docs") + 1) / (F.col("doc_freq") + 1)) + 1
    return (
        per_doc_tok.join(doc_len, id_col)
        .join(df_counts, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "token",
            F.col("n_occ"),
            F.round(tf, 6).alias("tf"),
            F.round(idf, 6).alias("idf"),
            F.round(F.round(tf, 6) * F.round(idf, 6), 6).alias("tfidf"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 ranked retrieval: the top-``k`` documents for a free-text
    ``query`` — the lexical half of a RAG / retrieval pipeline (the
    embedding half is ``similarity.embedding_topk``), and the standard
    keyword-search surface over a document lake. Okapi BM25 with the
    Lucene idf: ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``,
    ``score = sum_t idf_t * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``
    over whitespace tokens (``functions.text.tokenize`` semantics; the
    query is split the same way, duplicates dropped).

    Output: (``id_col``, ``score``) ordered score-desc then id-asc
    (round-6 score before both the sum and the compare, so ranking is
    deterministic and DuckDB-reproducible; per-term contributions are
    rounded before summation so the two engines add identical values).

    Scale shape — the inverted-index analogue without an index:

    * one aggregate pass over the corpus for (N, avgdl) — broadcast
      scalars;
    * document frequency is computed for the QUERY'S terms only: tokens
      are array-filtered map-side before the explode, so the df shuffle
      carries <= |query| keys with map-side combine — never a full
      vocabulary aggregate;
    * candidates (docs sharing >= 1 query term) are pruned by the same
      map-side array filter BEFORE anything shuffles; only candidate
      (doc, term) rows — posting-list sized — ever move;
    * the final top-k is a TakeOrdered, never a global sort.

    N counts non-NULL-text documents (a missing document can neither
    match nor meaningfully lengthen the average). NULL/short ``k1``/
    ``b`` follow the standard Robertson defaults.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q_terms = sorted(set(str(query).split()))
    if not q_terms:
        raise ValueError("query has no tokens")
    qarr = F.array(*[F.lit(t) for t in q_terms])
    base = (
        ensure_min_parallelism(docs)
        .filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), tokenize(F.col(text_col)).alias("__toks"))
    )
    stats = base.agg(
        F.count("*").cast("double").alias("__n"),
        F.avg(F.size("__toks")).alias("__avgdl"),
    )
    hits = F.filter("__toks", lambda t: F.array_contains(qarr, t))
    df_t = (
        base.select(
            F.explode(F.array_distinct(hits)).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").cast("double").alias("__df"))
    )
    cand = (
        base.withColumn("__qhits", hits)
        .filter(F.size("__qhits") > 0)
        .select(
            F.col(id_col),
            F.size("__toks").cast("double").alias("__dl"),
            F.explode("__qhits").alias("term"),
        )
    )
    per_term = cand.groupBy(id_col, "__dl", "term").agg(
        F.count("*").cast("double").alias("__tf")
    )
    return _bm25_rank(per_term, df_t, stats, id_col, k, k1, b)


def _bm25_rank(
    per_term: DataFrame,
    df_t: DataFrame,
    stats: DataFrame,
    id_col: str,
    k: int,
    k1: float,
    b: float,
) -> DataFrame:
    """THE single BM25 scoring kernel: per-candidate (id, __dl, term,
    __tf) rows joined with broadcast per-term document frequencies
    (term, __df) and broadcast corpus scalars (__n, __avgdl), round-6
    per-term contributions summed per doc, TakeOrdered top-k. Shared by
    the one-shot :func:`bm25_topk` and the persisted-index
    :func:`bm25_search` so the two paths are bit-identical by
    construction (pytest-pinned)."""
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("__df") + F.lit(0.5)) / (F.col("__df") + F.lit(0.5))
    )
    denom = F.col("__tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("__dl") / F.col("__avgdl")
    )
    contrib = F.round(idf * F.col("__tf") * F.lit(k1 + 1.0) / denom, 6)
    return (
        per_term.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.round(F.sum(contrib), 6).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


#: term-hash buckets for the persisted BM25 postings layout; the
#: PHYSICAL partition key (one directory per bucket), so it bounds the
#: directory count at any vocabulary size while still letting a
#: query's handful of terms prune to a handful of directories
_BM25_TERM_BUCKETS = 64


def _bm25_term_bucket_py(term: str, n_buckets: int = _BM25_TERM_BUCKETS) -> int:
    """Driver-side twin of the build's Spark-side bucket expression
    (``pmod(portable_hash64(term), n_buckets)``) — same md5-prefix
    60-bit hash, so the search can compute its partition filter without
    a Spark job."""
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:15], 16) % n_buckets


def build_bm25_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist a BM25 index for :func:`bm25_search` — the build-once /
    search-many contract of ``similarity.save_ivf_index`` extended to
    lexical retrieval. :func:`bm25_topk` recomputes (N, avgdl, per-term
    df) per query; a SERVED search surface over a static corpus must pay
    the corpus scan once, then answer each query from posting lists.

    Layout at ``path``:

    * ``stats``  — one row: (n_docs, avgdl), both double;
    * ``postings`` — (``id_col``, dl, term, tf) partitioned by
      ``__tp = pmod(portable_hash64(term), 64)``: the inverted index in
      its shuffle-friendly exploded form. Partitioning by a term-hash
      bucket (not the raw term) bounds the directory count at any
      vocabulary size while still letting a query's few terms prune to
      few directories — the search computes the same hash driver-side
      (:func:`_bm25_term_bucket_py`) and filters ``__tp`` BEFORE the
      scan, so unqueried term partitions are never read (pytest-pinned
      via ``input_file_name``);
    * ``term_stats`` — (term, df, ``__tp``), same partitioning.

    All stored measures are double, matching :func:`bm25_topk`'s casts,
    so index-backed scores are bit-identical to the one-shot path.
    N counts non-NULL-text documents (same contract)."""
    from real_estate_bigdata_spark.functions.text import portable_hash64

    base = (
        ensure_min_parallelism(docs)
        .filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), tokenize(F.col(text_col)).alias("__toks"))
    )
    # __sum_dl rides along so the epoch tier can combine stats EXACTLY:
    # avgdl re-derives as sum(__sum_dl)/sum(__n) across tiers, and
    # because document lengths are integer-valued doubles the sums are
    # exact (and order-independent) below 2^53 total tokens
    base.agg(
        F.count("*").cast("double").alias("__n"),
        F.avg(F.size("__toks")).alias("__avgdl"),
        F.sum(F.size("__toks")).cast("double").alias("__sum_dl"),
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")
    postings = (
        base.select(
            F.col(id_col),
            F.size("__toks").cast("double").alias("__dl"),
            F.explode("__toks").alias("term"),
        )
        .groupBy(id_col, "__dl", "term")
        .agg(F.count("*").cast("double").alias("__tf"))
        .withColumn(
            "__tp", F.pmod(portable_hash64(F.col("term")), F.lit(_BM25_TERM_BUCKETS))
        )
    )
    postings.write.mode("overwrite").partitionBy("__tp").parquet(
        f"{path}/postings"
    )
    # df per term from the postings just written (re-read, not recompute:
    # postings' lineage would re-run the explode+agg a second time)
    (
        docs.sparkSession.read.parquet(f"{path}/postings")
        .groupBy("term", "__tp")
        .agg(F.count("*").cast("double").alias("__df"))
        .write.mode("overwrite")
        .partitionBy("__tp")
        .parquet(f"{path}/term_stats")
    )


def bm25_search(
    spark,
    path: str,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 top-``k`` over a :func:`build_bm25_index` artifact —
    bit-identical ranking to :func:`bm25_topk` (shared
    :func:`_bm25_rank` kernel, pytest-pinned) with NO corpus pass: the
    query's terms hash driver-side to their partition buckets, the
    ``__tp`` filter prunes every other posting directory at the scan,
    and only posting-list-sized (doc, term, tf) rows ever move. The
    per-query cost is proportional to the queried terms' posting lists,
    not the corpus — the served-search half of the BM25 surface.

    Retraction-aware: a :func:`retract_from_bm25_index` ledger, when
    present, masks the retracted docs' postings and subtracts their
    (N, sum_dl, per-term df) contributions, so surviving scores equal a
    fresh build without those docs bit-for-bit."""
    from real_estate_bigdata_spark.util import read_fold_marker

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q_terms = sorted(set(str(query).split()))
    if not q_terms:
        raise ValueError("query has no tokens")
    buckets = sorted({_bm25_term_bucket_py(t) for t in q_terms})
    epochs = {
        sub: _bm25_live_epochs(spark, path, sub)
        for sub in ("stats", "postings", "term_stats")
    }
    tombs = _read_bm25_tombstones(spark, path)
    base_stats = spark.read.parquet(f"{path}/stats")
    if "__sum_dl" not in base_stats.columns:
        # legacy pre-epoch-tier artifact (round-6 format): no exact
        # sum_dl to combine, so it cannot take appends or retractions —
        # but it still searches as built
        if any(v is not None for v in epochs.values()) or tombs is not None:
            raise ValueError(
                f"BM25 index at {path!r} predates the epoch-tier format "
                f"(stats lacks __sum_dl) yet has epoch partitions or a "
                f"retraction ledger — rebuild it with build_bm25_index"
            )
        stats = base_stats.select("__n", "__avgdl")
    else:
        stats = base_stats.select("__n", "__sum_dl")
        if epochs["stats"] is not None:
            stats = stats.unionByName(
                epochs["stats"].select("__n", "__sum_dl")
            )
        # exact integer-valued sums combine across tiers; avgdl re-derives
        stats = stats.agg(
            F.sum("__n").alias("__n"),
            F.sum("__sum_dl").alias("__sum_dl"),
        )
        if tombs is not None:
            # subtract retracted docs' (1, dl) shares — only ledger rows
            # ABOVE the stats table's own _retracted_through fencepost
            # (rows at/below it are already physically applied; the
            # subtraction, unlike the postings anti-join, is not
            # idempotent). Exact: integer-valued double sums.
            smark = read_fold_marker(
                spark, f"{path}/stats", "_retracted_through"
            )
            dec = (
                tombs.filter(F.col("__rseq") > smark)
                .select(id_col, "__dl")
                .distinct()
                .agg(
                    F.count("*").cast("double").alias("__n_dec"),
                    F.coalesce(F.sum("__dl"), F.lit(0.0)).alias("__dl_dec"),
                )
            )
            stats = stats.crossJoin(F.broadcast(dec)).select(
                (F.col("__n") - F.col("__n_dec")).alias("__n"),
                (F.col("__sum_dl") - F.col("__dl_dec")).alias("__sum_dl"),
            )
        stats = stats.select(
            "__n", (F.col("__sum_dl") / F.col("__n")).alias("__avgdl")
        )
    posts = spark.read.parquet(f"{path}/postings").select(
        id_col, "__dl", "term", "__tf", "__tp"
    )
    if epochs["postings"] is not None:
        posts = posts.unionByName(
            epochs["postings"].select(id_col, "__dl", "term", "__tf", "__tp")
        )
    posts = posts.filter(
        F.col("__tp").isin(buckets) & F.col("term").isin(q_terms)
    ).select(id_col, "__dl", "term", "__tf")
    if tombs is not None:
        # key mask over the postings: idempotent, so ALL ledger ids
        # apply regardless of fencepost (re-masking removed rows is a
        # no-op) — after the bucket/term filter, so it anti-joins only
        # posting-list-sized rows
        posts = posts.join(
            F.broadcast(tombs.select(id_col).distinct()), id_col, "left_anti"
        )
    df_t = spark.read.parquet(f"{path}/term_stats").select(
        "term", "__df", "__tp"
    )
    if epochs["term_stats"] is not None:
        df_t = df_t.unionByName(
            epochs["term_stats"].select("term", "__df", "__tp")
        )
    df_t = (
        df_t.filter(F.col("__tp").isin(buckets) & F.col("term").isin(q_terms))
        .groupBy("term")
        .agg(F.sum("__df").alias("__df"))
    )
    if tombs is not None:
        # per-term df decrement: each ledger row is one (doc, term)
        # posting, so count-per-term IS the df share to remove; again
        # fenceposted by the term_stats table's own marker
        tmark = read_fold_marker(
            spark, f"{path}/term_stats", "_retracted_through"
        )
        dec_t = (
            tombs.filter(
                (F.col("__rseq") > tmark) & F.col("term").isin(q_terms)
            )
            .groupBy("term")
            .agg(F.count("*").cast("double").alias("__df_dec"))
        )
        df_t = df_t.join(F.broadcast(dec_t), "term", "left").select(
            "term",
            (
                F.col("__df") - F.coalesce(F.col("__df_dec"), F.lit(0.0))
            ).alias("__df"),
        )
    return _bm25_rank(posts, df_t, stats, id_col, k, k1, b)


def _bm25_epochs_dir(path: str, sub: str) -> str:
    return f"{path.rstrip('/')}/{sub}_epochs"


def _read_bm25_epochs(spark, path: str, sub: str) -> DataFrame | None:
    """The append tier of a persisted BM25 index (:func:`append_bm25_epoch`),
    or None when the index was never appended to — the common
    static-corpus case is decided by one driver-side ``fs.exists``
    (a per-query search must not pay a caught AnalysisException per
    sub-table just to learn there is no tier)."""
    epochs_dir = _bm25_epochs_dir(path, sub)
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(epochs_dir)
    if not p.getFileSystem(conf).exists(p):
        return None
    return spark.read.parquet(epochs_dir)


def append_bm25_epoch(
    spark,
    path: str,
    docs: DataFrame,
    epoch: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append NEW documents to a persisted BM25 index without rewriting
    it — the lexical twin of ``similarity.append_ivf_epoch``: a corpus
    under continuous ingest cannot afford a full posting rebuild per
    micro-batch. The batch's postings, per-term document-frequency
    partials, and (n, sum_dl) stats partial land under
    ``<sub>_epochs/ingest_batch=<epoch>/`` with dynamic partition
    overwrite — a replayed epoch recomputes identically and overwrites
    exactly its own partitions. :func:`bm25_search` unions the tiers
    (stats and df combine EXACTLY — integer-valued sums);
    :func:`compact_bm25_index` folds them back into the base tables.

    CONTRACT: ``docs`` must be documents the index has never seen — an
    id re-appended would double-count its postings and inflate N.
    Compose with the dedup ingest family upstream (that is what it is
    for); this function cannot cheaply verify global novelty.
    """
    from pyspark.errors import AnalysisException

    from real_estate_bigdata_spark.util import is_missing_path_error

    try:
        spark.read.parquet(f"{path}/stats").first()
    except AnalysisException as exc:
        if not is_missing_path_error(exc):
            raise
        raise ValueError(
            f"append_bm25_epoch: no BM25 index at {path!r} — run "
            f"build_bm25_index first"
        ) from exc
    from real_estate_bigdata_spark.functions.text import portable_hash64

    base = (
        ensure_min_parallelism(docs)
        .filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), tokenize(F.col(text_col)).alias("__toks"))
    )
    write_epoch(
        base.agg(
            F.count("*").cast("double").alias("__n"),
            F.avg(F.size("__toks")).alias("__avgdl"),
            F.sum(F.size("__toks")).cast("double").alias("__sum_dl"),
        ).coalesce(1),
        _bm25_epochs_dir(path, "stats"),
        epoch,
    )
    postings = (
        base.select(
            F.col(id_col),
            F.size("__toks").cast("double").alias("__dl"),
            F.explode("__toks").alias("term"),
        )
        .groupBy(id_col, "__dl", "term")
        .agg(F.count("*").cast("double").alias("__tf"))
        .withColumn(
            "__tp", F.pmod(portable_hash64(F.col("term")), F.lit(_BM25_TERM_BUCKETS))
        )
    )
    write_epoch(postings, _bm25_epochs_dir(path, "postings"), epoch, "__tp")
    write_epoch(
        spark.read.parquet(_bm25_epochs_dir(path, "postings"))
        .filter(F.col("ingest_batch") == F.lit(int(epoch)))
        .groupBy("term", "__tp")
        .agg(F.count("*").cast("double").alias("__df")),
        _bm25_epochs_dir(path, "term_stats"),
        epoch,
        "__tp",
    )


def _bm25_live_epochs(spark, path: str, sub: str) -> DataFrame | None:
    """The epoch partitions of ``sub`` NOT yet folded into its base
    table: the append tier filtered by the base's fold fencepost
    (``util.read_fold_marker``). In the crash window between a
    compaction swap and the epoch-directory delete, the folded
    partitions are still on disk but the freshly-swapped base already
    contains them — the fencepost keeps both search and a compaction
    re-run from counting them twice."""
    from real_estate_bigdata_spark.util import read_fold_marker

    tier = _read_bm25_epochs(spark, path, sub)
    if tier is None:
        return None
    marker = read_fold_marker(spark, f"{path}/{sub}")
    if marker >= 0:
        tier = tier.filter(F.col("ingest_batch") > marker)
    return tier


def _bm25_tombstones_dir(path: str) -> str:
    # underscore-prefixed: hidden from parquet readers of the artifact
    return f"{path.rstrip('/')}/_tombstones"


def _bm25_index_id_field(spark, path: str) -> tuple[str, str]:
    """(name, type) of the id column of the BM25 index at ``path``,
    read from the ARTIFACT's own postings schema (never trusted from a
    caller frame — same rationale as ``similarity._ann_data_tables``)."""
    from pyspark.errors import AnalysisException

    from real_estate_bigdata_spark.util import is_missing_path_error

    try:
        schema = spark.read.parquet(f"{path}/postings").schema
    except AnalysisException as exc:
        if not is_missing_path_error(exc):
            raise
        raise ValueError(
            f"no BM25 index at {path!r} — run build_bm25_index first"
        ) from exc
    name = next(
        f.name
        for f in schema.fields
        if f.name not in ("__dl", "term", "__tf", "__tp")
    )
    return name, schema[name].dataType.simpleString()


def _read_bm25_tombstones(spark, path: str) -> DataFrame | None:
    """The index's retraction ledger (:func:`retract_from_bm25_index`):
    one row per (retracted doc, indexed term) carrying the doc's length
    — everything the search and compaction need to subtract the doc's
    full contribution ((1, dl) from stats, 1 per term from df, its
    postings by id). None in the common no-retractions case, decided by
    ONE driver-side ``fs.exists`` — a per-query search must not pay a
    postings-footer read plus a caught AnalysisException just to learn
    there is no ledger (measured +0.3 s/query at sf0.1)."""
    tomb_dir = _bm25_tombstones_dir(path)
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(tomb_dir)
    if not p.getFileSystem(conf).exists(p):
        return None
    id_field, id_type = _bm25_index_id_field(spark, path)
    return spark.read.schema(
        f"{id_field} {id_type}, __dl double, term string, __rseq int"
    ).parquet(tomb_dir)


def retract_from_bm25_index(
    spark, path: str, ids: DataFrame, id_col: str = "doc_id"
) -> int:
    """Retract documents from a persisted BM25 index
    (:func:`build_bm25_index`) — the takedown path the ANN artifacts got
    in :func:`similarity.retract_from_ann_index`, but VALUE-aware: a
    key-only mask is not enough for BM25, because a removed document's
    (1, dl) share of the corpus stats and its +1 per distinct term of
    the document frequencies shift every surviving score. The ledger
    row is therefore derived FROM the doc's own postings at retract
    time: ``(id, dl, term)`` per indexed term, with a monotonically
    increasing ``__rseq`` so the non-idempotent stats/df subtraction
    can be fenceposted (``_retracted_through`` per table) the same way
    the epoch fold is.

    After this call :func:`bm25_search` (a) anti-joins the doc's
    postings out and (b) adjusts (N, sum_dl, per-term df) from the
    broadcast ledger — surviving scores are bit-identical to a fresh
    build without the doc (integer-valued double sums subtract
    exactly; pytest-pinned). :func:`compact_bm25_index` later applies
    the ledger physically and consumes it; after compaction a re-added
    id is searchable again (the ledger is epoch-less, so re-appending
    BEFORE compacting would stay masked — same contract as the ANN
    retraction).

    Derivation reads the LIVE view (base ∪ unfolded epochs, already-
    retracted ids masked), so retracting an id twice, or an id the
    index never held, derives zero rows and is a no-op. A document
    indexed with ZERO tokens has no postings to derive from and cannot
    be individually retracted — its only index footprint is a (1, 0)
    stats count; no content remains retrievable. Legacy (pre-
    ``__sum_dl``) artifacts cannot adjust stats and are rejected. Run
    with searches drained, single writer — same contract as the other
    ledgers. Returns the number of documents whose postings were
    tombstoned."""
    from real_estate_bigdata_spark.util import read_fold_marker

    id_field, id_type = _bm25_index_id_field(spark, path)
    if "__sum_dl" not in spark.read.parquet(f"{path}/stats").columns:
        raise ValueError(
            f"BM25 index at {path!r} predates the epoch-tier format "
            f"(stats lacks __sum_dl) — stats cannot be adjusted for "
            f"retraction; rebuild it with build_bm25_index"
        )
    src_type = ids.schema[id_col].dataType.simpleString()
    keys = checkpoint_frame(
        ids.select(F.col(id_col).alias("__raw"))
        .filter(F.col("__raw").isNotNull())
        .distinct()
        .withColumn(id_field, F.col("__raw").cast(id_type))
    )
    bad = keys.filter(
        F.col(id_field).isNull()
        | (F.col(id_field).cast(src_type) != F.col("__raw"))
    ).limit(1)
    if bad.count():
        raise ValueError(
            f"retract_from_bm25_index: ids of type {src_type!r} do not "
            f"cast losslessly to the index id type {id_type!r}"
        )

    posts = spark.read.parquet(f"{path}/postings").select(
        id_field, "__dl", "term"
    )
    live_ep = _bm25_live_epochs(spark, path, "postings")
    if live_ep is not None:
        posts = posts.unionByName(live_ep.select(id_field, "__dl", "term"))
    ledger = _read_bm25_tombstones(spark, path)
    next_seq = (
        max(
            read_fold_marker(spark, f"{path}/{sub}", "_retracted_through")
            for sub in ("stats", "postings", "term_stats")
        )
        + 1
    )
    if ledger is not None:
        m = ledger.agg(F.max("__rseq")).first()[0]
        if m is not None:
            next_seq = max(next_seq, int(m) + 1)
        posts = posts.join(
            F.broadcast(ledger.select(id_field).distinct()),
            id_field,
            "left_anti",
        )
    derived = checkpoint_frame(
        posts.join(F.broadcast(keys.select(id_field)), id_field, "left_semi")
        .withColumn("__rseq", F.lit(int(next_seq)))
    )
    n = derived.select(id_field).distinct().count()
    if n:
        derived.select(id_field, "__dl", "term", "__rseq").write.mode(
            "append"
        ).parquet(_bm25_tombstones_dir(path))
    return n


def compact_bm25_index(spark, path: str) -> int:
    """Fold a BM25 index's append tier back into its base tables
    (stats combined exactly, postings unioned, per-term df partials
    summed), APPLY its retraction ledger physically
    (:func:`retract_from_bm25_index`: postings anti-joined by id,
    (N, sum_dl) and per-term df decremented, the ledger consumed), and
    drop the epoch directories — returns the number of epoch batches
    folded (0 = no live tier; a retraction-only run also returns 0).
    Same write-new/rename swap protocol as
    ``similarity.compact_ann_index`` (shared ``util`` helpers) and the
    same single-writer searches-drained contract. After compaction a
    re-added id is searchable again.

    Double-count safety: summed partials cannot be deduplicated after
    the fact (unlike the ANN fold's distinct), so each base table
    carries TWO fenceposts written into the ``_new`` table before its
    swap: ``_folded_through`` (highest epoch folded in) and
    ``_retracted_through`` (highest ledger ``__rseq`` subtracted out).
    A crash anywhere between the first swap and the directory deletes
    leaves some tables folded/decremented with the tier and ledger
    still on disk; search and a compaction re-run skip epochs and
    ledger rows at or below each table's own fenceposts — re-running
    converges without re-adding a folded partial or double-subtracting
    a retraction."""
    from real_estate_bigdata_spark.util import (
        delete_dir,
        finish_pending_dir_swap,
        read_fold_marker,
        swap_in_rewrite,
        write_fold_marker,
    )

    subs = ("stats", "postings", "term_stats")
    for sub in subs:
        finish_pending_dir_swap(spark, f"{path}/{sub}")
    live = {sub: _bm25_live_epochs(spark, path, sub) for sub in subs}
    raw = {sub: _read_bm25_epochs(spark, path, sub) for sub in subs}
    tombs = _read_bm25_tombstones(spark, path)
    rmark = {
        sub: read_fold_marker(spark, f"{path}/{sub}", "_retracted_through")
        for sub in subs
    }
    ledger_max = -1
    if tombs is not None:
        m = tombs.agg(F.max("__rseq")).first()[0]
        ledger_max = -1 if m is None else int(m)
    pending_retract = any(ledger_max > rmark[sub] for sub in subs)
    fold_through = max(
        (
            r[0]
            for sub in subs
            if raw[sub] is not None
            for r in raw[sub].select(F.max("ingest_batch")).collect()
            if r[0] is not None
        ),
        default=-1,
    )
    if fold_through < 0 and not pending_retract:
        # nothing to fold, nothing unapplied: at most consume an
        # already-applied (crash-window) ledger and stray epoch dirs
        if any(v is not None for v in raw.values()) or tombs is not None:
            for sub in subs:
                delete_dir(spark, _bm25_epochs_dir(path, sub))
            delete_dir(spark, _bm25_tombstones_dir(path))
        return 0
    id_field, _ = _bm25_index_id_field(spark, path)
    n_epochs = (
        live["stats"].select("ingest_batch").distinct().count()
        if live["stats"] is not None
        else 0
    )

    # ---- write phase: all three replacement tables to _<sub>_new ----
    stats = spark.read.parquet(f"{path}/stats").select("__n", "__sum_dl")
    if live["stats"] is not None:
        stats = stats.unionByName(live["stats"].select("__n", "__sum_dl"))
    stats = stats.agg(
        F.sum("__n").alias("__n"), F.sum("__sum_dl").alias("__sum_dl")
    )
    if tombs is not None:
        dec = (
            tombs.filter(F.col("__rseq") > rmark["stats"])
            .select(id_field, "__dl")
            .distinct()
            .agg(
                F.count("*").cast("double").alias("__n_dec"),
                F.coalesce(F.sum("__dl"), F.lit(0.0)).alias("__dl_dec"),
            )
        )
        stats = stats.crossJoin(F.broadcast(dec)).select(
            (F.col("__n") - F.col("__n_dec")).alias("__n"),
            (F.col("__sum_dl") - F.col("__dl_dec")).alias("__sum_dl"),
        )
    (
        stats.select(
            "__n",
            (F.col("__sum_dl") / F.col("__n")).alias("__avgdl"),
            "__sum_dl",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/_stats_new")
    )
    posts = spark.read.parquet(f"{path}/postings")
    posts_cols = list(posts.columns)
    if live["postings"] is not None:
        posts = posts.unionByName(live["postings"].select(*posts_cols))
    if tombs is not None:
        # idempotent key mask: every ledger id, regardless of fencepost
        posts = posts.join(
            F.broadcast(tombs.select(id_field).distinct()),
            id_field,
            "left_anti",
        )
    posts.write.mode("overwrite").partitionBy("__tp").parquet(
        f"{path}/_postings_new"
    )
    tstats = spark.read.parquet(f"{path}/term_stats").select(
        "term", "__df", "__tp"
    )
    if live["term_stats"] is not None:
        tstats = tstats.unionByName(
            live["term_stats"].select("term", "__df", "__tp")
        )
    tstats = tstats.groupBy("term", "__tp").agg(F.sum("__df").alias("__df"))
    if tombs is not None:
        dec_t = (
            tombs.filter(F.col("__rseq") > rmark["term_stats"])
            .groupBy("term")
            .agg(F.count("*").cast("double").alias("__df_dec"))
        )
        tstats = (
            tstats.join(F.broadcast(dec_t), "term", "left")
            .select(
                "term",
                (
                    F.col("__df") - F.coalesce(F.col("__df_dec"), F.lit(0.0))
                ).alias("__df"),
                "__tp",
            )
            .filter(F.col("__df") > 0)
        )
    tstats.write.mode("overwrite").partitionBy("__tp").parquet(
        f"{path}/_term_stats_new"
    )
    for sub in subs:
        if fold_through >= 0:
            write_fold_marker(spark, f"{path}/_{sub}_new", fold_through)
        new_rmark = max(rmark[sub], ledger_max)
        if new_rmark >= 0:
            write_fold_marker(
                spark, f"{path}/_{sub}_new", new_rmark, "_retracted_through"
            )

    # ---- swap phase, then drop the folded tier and the ledger ----
    for sub in subs:
        swap_in_rewrite(spark, f"{path}/{sub}")
    for sub in subs:
        delete_dir(spark, _bm25_epochs_dir(path, sub))
    delete_dir(spark, _bm25_tombstones_dir(path))
    return n_epochs


def rrf_fuse(
    rankings: list[DataFrame],
    k_rrf: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rn",
    top_k: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009)
    of any number of ranked candidate lists —
    ``score(d) = sum_lists 1 / (k_rrf + rank_d)`` — the standard way to
    combine the lexical (:func:`bm25_topk` / :func:`bm25_search`) and
    semantic (``similarity.brute_force_topk`` / ``ivf_search``) halves
    of a hybrid retrieval pipeline without score calibration: only
    RANKS enter the formula, so BM25 scores and cosines never need to
    share a scale.

    Inputs: DataFrames each carrying ``id_col`` and a 1-based
    ``rank_col``, one row per candidate — i.e. the ranked list for ONE
    query (fusing a multi-query result table requires per-query
    grouping first; handing it here would sum ranks across queries); a
    document missing from a list simply contributes no term (the
    standard convention). Output: (``id_col``, rrf_score
    round-6, fused_rank) ordered best-first with the engine-wide
    (score desc, id asc) deterministic tie-break; ``top_k`` truncates
    via TakeOrdered.

    Scale shape: ranked lists are top-k-sized BY CONSTRUCTION (they
    came out of retrieval operators), so everything here is bounded —
    one union, one sum aggregate on the id, and a final rank over at
    most sum(|lists|) rows. The unpartitioned rank window is
    deliberate and safe at that cardinality; this operator must never
    be handed corpus-sized frames.
    """
    from pyspark.sql import Window

    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    if k_rrf < 1:
        raise ValueError(f"k_rrf must be >= 1, got {k_rrf}")
    parts = [
        df.select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(float(k_rrf)) + F.col(rank_col).cast("double"))).alias(
                "__contrib"
            ),
        )
        for df in rankings
    ]
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    fused = allc.groupBy(id_col).agg(
        F.round(F.sum("__contrib"), 6).alias("rrf_score")
    )
    w = Window.orderBy(F.desc("rrf_score"), F.col(id_col))
    out = fused.withColumn("fused_rank", F.row_number().over(w))
    if top_k is not None:
        if top_k < 1:
            raise ValueError(f"top_k must be >= 1, got {top_k}")
        out = out.filter(F.col("fused_rank") <= top_k)
    return out.orderBy("fused_rank")


def chunk_documents(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Sentence-level document chunking: one row per non-empty sentence
    with a contiguous per-doc chunk index and token/char counts — the
    retrieval/embedding unit for RAG-style pipelines, and the input
    shape for chunk-level dedup or packing
    (:func:`operators.sampling.pack_documents` over chunks).

    Sentences = maximal runs matched by ``[^.!?]+[.!?]*`` (deliberately
    lookbehind-free: the same pattern compiles identically under Java
    regex and RE2/DuckDB, keeping the oracle bit-exact), trimmed, with
    empties dropped BEFORE indexing so ``chunk_idx`` is dense. Map-only
    (explode of a computed array); NULL text yields no rows.
    """
    sents = F.regexp_extract_all(F.col(text_col), F.lit(r"[^.!?]+[.!?]*"), 0)
    cleaned = F.filter(
        F.transform(sents, lambda s: F.trim(s)), lambda s: s != ""
    )
    exploded = ensure_min_parallelism(docs).select(
        F.col(id_col),
        F.posexplode(cleaned).alias("chunk_idx", "chunk_text"),
    )
    return exploded.select(
        F.col(id_col),
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        "chunk_text",
        token_count(F.col("chunk_text")).alias("n_tokens"),
        F.length("chunk_text").cast("bigint").alias("n_chars"),
    )


def vocab_coverage(
    docs: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_col: str = "token",
) -> DataFrame:
    """Per-document vocabulary coverage (r11): how much of each doc a
    fixed token vocabulary explains — the go/no-go readout before
    committing a tokenizer/vocab to a corpus (high OOV mass = wrong
    vocab or wrong corpus slice). Returns ``(id, n_tokens, n_oov,
    oov_rate)`` with occurrence weighting (a doc repeating one OOV
    token 50 times IS 50 tokens of OOV mass). NULL text keeps NULL
    counts; an empty doc has 0 tokens and a NULL rate.

    Scale shape: one map-side whitespace explode, one BROADCAST left
    join against the vocabulary (vocabs are bounded by construction —
    BPE/wordpiece sizes are 10k-500k rows of short strings), one
    doc-key aggregate. The corpus shuffles once, on the id.
    """
    toks = ensure_min_parallelism(docs).select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("__t")
    )
    hits = toks.join(
        F.broadcast(vocab.select(F.col(token_col).alias("__t")).distinct()),
        "__t",
        "left_semi",
    ).groupBy(id_col).agg(F.count(F.lit(1)).cast("long").alias("__in"))
    totals = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens")
    )
    has = F.col(text_col).isNotNull()
    nt = F.when(has, F.coalesce("n_tokens", F.lit(0)))
    oov = nt - F.coalesce("__in", F.lit(0))
    return (
        docs.select(id_col, text_col)
        .join(totals, id_col, "left")
        .join(hits, id_col, "left")
        .select(
            id_col,
            nt.alias("n_tokens"),
            oov.alias("n_oov"),
            F.when(nt > 0, F.round(oov / nt, 6)).alias("oov_rate"),
        )
    )
