"""Deduplication operators for large-scale training-data pipelines.

North-star surface (BASELINE.json): the reference only *implies* dedup
(its Kafka key was meant to be the listing link but is never populated —
`kafka_cc/producer/kafka_producer.py:59-61`, SURVEY §1.2 note). Here the
full family, each designed scale-out first:

- **exact**      — hash-groupBy on content (or fingerprint): one shuffle
  on the dup key; canonical row = min id (deterministic, unlike
  ``dropDuplicates``'s arbitrary pick).
- **n-gram Jaccard** — explode distinct shingles -> self-join on shingle
  -> per-pair intersection counts. Exact but O(sum of postings²) in the
  worst case; at 100 TB run it *after* LSH candidate pruning.
- **MinHash + LSH** — signature per doc (map-only), banded bucket keys,
  shuffle on (band, bucket) so only same-bucket docs ever meet; candidate
  pairs verified with exact Jaccard. The scale path: cost is
  O(docs x bands) + postings within buckets, never all-pairs.
- **SimHash**    — 64-bit signature; near-dups = small Hamming distance;
  banded exact-match blocking + ``bit_count(xor)`` verify.
- **Embedding cosine** — near-dup by semantic similarity; exact
  threshold join at small scale, hyperplane-LSH blocking at large.

Feature hashing is xxhash64/md5 (JVM-side, seeded, deterministic);
the MinHash/SimHash signature tallies over those features run as
vectorized numpy Arrow-batch kernels (``functions.nphash``, bit-exact
mirrors pinned against per-row JVM Column specs kept in
``tests/test_dedup_similarity.py``) — no row-at-a-time Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from real_estate_bigdata_spark.functions.text import (
    hashed_ngrams_from_token_hashes,
    portable_hash64,
    tokenize,
    word_ngrams,
)
from real_estate_bigdata_spark.functions.vectors import cosine_from_norms, l2_norm
from real_estate_bigdata_spark.util import (
    checkpoint_frame,
    concurrently,
    ensure_min_parallelism,
)

__all__ = [
    "exact_dup_groups",
    "exact_dedup",
    "ngram_jaccard_pairs",
    "ngram_containment_pairs",
    "minhash_lsh_pairs",
    "simhash_signatures",
    "simhash_pairs",
    "hamming_banded_pairs",
    "embedding_neardup_pairs",
    "embedding_neardup_pairs_blocked",
    "embedding_neardup_pairs_ivf",
    "embedding_neardup_pairs_pca",
    "semantic_dedup",
    "redact_duplicate_spans",
    "dedup_against_store",
    "neardup_against_store",
    "cross_corpus_lsh_pairs",
    "novelty_scores",
    "source_overlap_matrix",
]


def _rewrite_minus_windows(
    corpus: DataFrame,
    spans: DataFrame,
    n: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Rebuild ``text_col`` with every token covered by an ``n``-token
    window starting at a position in ``spans.__starts`` removed.

    ``spans`` is (id_col, __starts: array<int>) with 0-based token
    starts; docs absent from it (including NULL-id rows, which a join
    on ``id_col`` can never match) keep their text BYTE-IDENTICAL and
    get ``n_redacted = 0``. Redacted docs are rebuilt as the surviving
    tokens joined by single spaces (whitespace normalizes — unavoidable
    once tokens are removed); a fully-covered doc comes back with empty
    text but the row survives for accounting. NULL text stays NULL.

    Shared by :func:`redact_duplicate_spans` (self-corpus duplicates)
    and ``decontamination.redact_contaminated_spans`` (benchmark
    overlap) — the rewrite is a map-side array filter after the spans
    table (dirty-doc sized, never the corpus) joins back; the text
    payload never shuffles.
    """
    covered = lambda i: F.exists(  # noqa: E731 — token i inside any window
        F.col("__starts"), lambda s: (i >= s) & (i <= s + F.lit(n - 1))
    )
    t = tokenize(F.col(text_col))
    kept_idx = F.filter(F.sequence(F.lit(0), F.size(t) - 1), lambda i: ~covered(i))
    return (
        corpus.join(spans, id_col, "left")
        .withColumn(
            text_col,
            F.when(F.col("__starts").isNull(), F.col(text_col)).otherwise(
                F.array_join(
                    F.transform(kept_idx, lambda i: F.element_at(t, i + 1)), " "
                )
            ),
        )
        .withColumn(
            "n_redacted",
            # size(NULL) is -1 under legacy sizeOfNull — branch, don't
            # coalesce (the same pitfall functions.text._nullsafe_size
            # guards)
            F.when(F.col("__starts").isNull(), F.lit(0))
            .otherwise(F.size("__starts"))
            .cast("bigint"),
        )
        .drop("__starts")
    )


def redact_duplicate_spans(
    corpus: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ExactSubstr-style corpus self-dedup: every word-``n``-gram window
    that occurs more than once ACROSS THE WHOLE CORPUS is redacted from
    every occurrence except its first (minimum ``(id, start)``), token
    by token — the span-level complement of document-level dedup, per
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better": duplicated passages are removed from all but one
    occurrence while the host documents survive). The reference has no
    analogue (crawl/count only — ``map_reduce/mapper.py``); this is a
    north-star training-pipeline operator like the rest of the family.

    Output: full corpus schema with ``text_col`` rewritten plus
    ``n_redacted`` (count of redacted windows; 0 for clean docs).
    Clean docs keep byte-identical text; NULL text stays NULL; NULL-id
    rows pass through untouched and do NOT vote in duplication counts
    (a span table keyed by id can never reach them).

    Plan shape (100 TB posture): positional hashed n-grams build
    map-side (rolling xxhash64 — no gram strings); ONE corpus-gram
    shuffle feeds the per-gram ``(count, first-occurrence)`` hash
    aggregate, which is partial-aggregation (map-side combine) safe —
    deliberately NOT a window over ``g``, whose per-key sort would
    serialize on a viral boilerplate gram repeated billions of times.
    The dup-gram table (duplication-rate sized) joins back to the gram
    stream (AQE picks broadcast when it is small); only non-first
    ``(id, start)`` pairs shuffle to build per-doc span sets; the text
    payload moves once in the final rewrite join.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    # distinct=False keeps the gram array POSITIONAL (index == start)
    grams = (
        _hashed_shingles(corpus, n, id_col=id_col, text_col=text_col, distinct=False)
        .filter(F.col(id_col).isNotNull())
        .select(F.col(id_col), F.posexplode("hs").alias("__start", "g"))
    )
    dup_first = (
        grams.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.min(
                F.struct(F.col(id_col).alias("__i"), F.col("__start").alias("__s"))
            ).alias("__first"),
        )
        .filter(F.col("__cnt") > 1)
        .select("g", "__first")
    )
    spans = (
        grams.join(dup_first, "g")
        .filter(
            ~(
                (F.col(id_col) == F.col("__first.__i"))
                & (F.col("__start") == F.col("__first.__s"))
            )
        )
        .groupBy(id_col)
        .agg(F.collect_set("__start").alias("__starts"))
    )
    return _rewrite_minus_windows(corpus, spans, n, id_col, text_col)


def exact_dup_groups(
    df: DataFrame, key: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct key value: canonical (min) id + group size.
    The exact-dedup 'report' view; single shuffle on the key."""
    return (
        df.groupBy(key)
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .select(id_col, "dup_count")
    )


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep exactly the min-id row per duplicate group (all columns).

    Window row_number over the dup key: one shuffle, deterministic
    survivor — `dropDuplicates` keeps an arbitrary row, which is
    unacceptable for reproducible training sets.
    """
    w = Window.partitionBy(*key_cols).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _distinct_shingles(docs: DataFrame, n: int, id_col: str, text_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col), F.array_distinct(word_ngrams(F.col(text_col), n)).alias("shingles")
    )


def _hashed_shingles(
    docs: DataFrame,
    n: int,
    id_col: str,
    text_col: str,
    distinct: bool = True,
    portable: bool = False,
) -> DataFrame:
    """(id, hs: distinct array<bigint>) — 64-bit word-n-gram shingle ids.

    Built from per-token xxhash64 + a rolling n-wise combine, so no
    n-gram strings are ever materialized: the build is one cheap pass
    over the token array instead of per-position string slicing and
    concatenation. Two hashed shingles are equal iff the underlying
    n-grams are equal, up to xxhash64 collisions (~|S|^2 * 2^-64 per
    doc pair — immaterial), so set sizes and intersections match the
    string formulation the oracle computes.

    ``portable=True`` swaps the feature hash for
    :func:`functions.text.portable_hash64` over materialized n-gram
    strings — DuckDB can reproduce every bit
    (``('0x' || substr(md5(g),1,15))::BIGINT``), so portable-mode
    consumers (SimHash) get full hash-match oracles. Costs one string
    concat per shingle; the xxhash64 rolling combine stays the default
    scale path.
    """
    if portable:
        sh = F.transform(
            word_ngrams(F.col(text_col), n), lambda g: portable_hash64(g)
        )
        return ensure_min_parallelism(docs).select(
            F.col(id_col), (F.array_distinct(sh) if distinct else sh).alias("hs")
        )
    toks = tokenize(F.col(text_col))
    th = ensure_min_parallelism(docs).select(
        F.col(id_col), F.transform(toks, lambda t: F.xxhash64(t)).alias("th")
    )
    sh = hashed_ngrams_from_token_hashes(F.col("th"), n)
    return th.select(
        F.col(id_col), (F.array_distinct(sh) if distinct else sh).alias("hs")
    )


def _posting_pairs(
    exploded: DataFrame, id_col: str, max_posting_len: int | None = None
) -> DataFrame:
    """(id_a, id_b, n_inter) co-occurrence counts from an exploded
    (id, g) posting stream — one shuffle on g to build posting lists,
    pair expansion inside each list, one shuffle on the pair.

    This halves the work of the classic self-join-on-g formulation,
    which evaluates the (expensive) shingle pipeline once per join side.

    ``max_posting_len`` is the stop-shingle cap: postings longer than it
    (shingles shared by more than that many docs — boilerplate headers,
    empty-ish fragments) are DROPPED before pair expansion. A k-doc
    posting emits k(k-1)/2 pairs, so one viral shingle at 100 TB
    otherwise materializes billions of candidate rows on a single
    shuffle key. Capping makes the result approximate (intersections
    lose the dropped shingles, so jaccard is underestimated for pairs
    sharing them — conservative: never a false positive); ``None``
    (default) keeps exact-oracle semantics.

    Recommended production cap: ~500 (r10). A shingle present in more
    than a few hundred documents is boilerplate, not dedup signal —
    near-duplicate pairs share MANY rarer shingles, so the planted
    near-dups in every fixture survive a 500-cap intact (pytest-pinned
    for jaccard and containment) while a single viral shingle's
    quadratic pair expansion (>125k candidate rows at 500, billions at
    corpus scale) is cut before the shuffle.
    """
    if max_posting_len is not None and max_posting_len < 2:
        raise ValueError(f"max_posting_len must be >= 2, got {max_posting_len}")
    post = (
        exploded.groupBy("g")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_posting_len is not None:
        post = post.filter(F.size("ids") <= max_posting_len)
    # sorted ids -> emit ONLY the upper triangle (ids[i] pairs with the
    # strictly-later suffix), never the full n^2 product + filter: a
    # k-doc posting materializes k(k-1)/2 structs, not k^2. (An r15
    # experiment carried per-id payload structs through the postings to
    # kill the size joins; interpreted struct array_sort + the wider
    # pair aggregate measured slower than the joins it saved — the
    # shared-checkpoint form in ngram_jaccard_pairs won instead.)
    pairs = post.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.size("ids") - 1),
                    lambda i: F.transform(
                        F.slice("ids", i + 1, F.size("ids") - i),
                        lambda y: F.struct(
                            F.element_at("ids", i).alias("id_a"), y.alias("id_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    return pairs.groupBy("id_a", "id_b").agg(F.count("*").alias("n_inter"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_posting_len: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard near-dup pairs (id_a < id_b, jaccard).

    Plan: hashed distinct shingles (64-bit ids, no n-gram strings
    materialized) -> explode -> posting lists per shingle -> pair
    expansion within postings -> per-pair intersection counts -> join
    shingle-set sizes (broadcastable) -> jaccard filter. The division is
    exact int/int in double, so results are bit-identical across engines.

    ``max_posting_len`` enables the stop-shingle cap (see
    ``_posting_pairs``) — the knob that keeps the worst-case
    O(sum-of-postings²) bounded at 100 TB. Leave ``None`` for exact
    semantics; when set, jaccard is conservatively underestimated for
    pairs sharing ultra-common shingles (no false positives enter).
    """
    # ONE corpus tokenize+hash pass (r15): the r14 plan re-ran the full
    # shingle pipeline once per size-join build side (3 corpus scans);
    # checkpointing the (id, hs) frame keeps the posting arrays
    # primitive longs (a struct-carried size variant measured slower —
    # interpreted struct array_sort) while both the posting stream and
    # the broadcast size sides read the materialization.
    hsh = checkpoint_frame(_hashed_shingles(docs, n, id_col, text_col))
    sizes = hsh.select(F.col(id_col), F.size("hs").alias("n_sh"))
    exploded = hsh.select(F.col(id_col), F.explode("hs").alias("g"))
    inter = _posting_pairs(exploded, id_col, max_posting_len)
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_posting_len: int | None = None,
) -> DataFrame:
    """Exact word-n-gram CONTAINMENT near-dup pairs — the asymmetric
    relationship Jaccard structurally misses: a short document quoted
    wholesale inside a long one shares ~all of ITS shingles but a tiny
    fraction of the union, so ``jaccard`` stays far below any sane
    threshold while the duplication is total. Containment scores each
    direction separately (Broder 1997's "containment" companion to
    resemblance): ``containment_a = |A∩B| / |A|`` (share of A inside
    B), ``containment_b = |A∩B| / |B|``, and pairs pass when the
    OVERLAP COEFFICIENT ``max(containment_a, containment_b) =
    |A∩B| / min(|A|,|B|)`` meets ``threshold`` — i.e. the smaller
    document is mostly inside the larger. The training-data use is
    quote/subset dedup and contamination sweeps where benchmark items
    embed verbatim in long pages.

    Plan: identical posting-list shape to :func:`ngram_jaccard_pairs`
    (hashed distinct shingles -> explode -> postings -> upper-triangle
    pair expansion -> intersection counts -> broadcast size join); only
    the final scoring expression differs, so the 100 TB posture —
    shuffle on shingle then on pair, ``max_posting_len`` stop-shingle
    cap against viral postings — is inherited unchanged. Divisions are
    exact int/int in double: bit-identical across engines.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # one tokenize+hash pass via the shared checkpoint — see
    # ngram_jaccard_pairs
    hsh = checkpoint_frame(_hashed_shingles(docs, n, id_col, text_col))
    sizes = hsh.select(F.col(id_col), F.size("hs").alias("n_sh"))
    exploded = hsh.select(F.col(id_col), F.explode("hs").alias("g"))
    inter = _posting_pairs(exploded, id_col, max_posting_len)
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("n_inter") / F.col("n_a"), 6).alias("containment_a"),
            F.round(F.col("n_inter") / F.col("n_b"), 6).alias("containment_b"),
            F.round(
                F.col("n_inter") / F.least(F.col("n_a"), F.col("n_b")), 6
            ).alias("overlap"),
        )
        .filter(F.col("overlap") >= threshold)
    )


def _minhash_signatures(
    hsh: DataFrame, num_hashes: int, id_col: str
) -> DataFrame:
    """(id, sig: array<num_hashes> bigint) from hashed shingles.

    The hash family is min(xxhash64(shingle_id, i)) over the 64-bit
    shingle universe, pinned bit-identical to a per-row Column spec
    (one ``array_min(transform(xxhash64(s, i)))`` per lane, kept in
    ``tests/test_dedup_similarity.py``) by
    ``test_minhash_agg_signatures_match_per_row_spec``. Shingle-less
    docs (NULL/empty/too-short text) produce no signature row.

    r16 (guide §4.2/§7.3): computed by one vectorized numpy kernel per
    Arrow batch (:func:`functions.nphash.minhash_sigs`, bit-exact
    xxhash64 mirror) instead of explode + a num_hashes-lane
    min-aggregate. The lane tree cost ~1 s of single-threaded driver
    planning per execution and re-hashed the full two-link xxhash64
    chain per lane; the kernel shares the first link (shingle, seed 42)
    across all lanes and needs no shuffle at all — the signature is a
    per-document function of its shingle array.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from real_estate_bigdata_spark.functions.nphash import minhash_sigs

    out_schema = T.StructType(
        [
            hsh.schema[id_col],
            T.StructField("sig", T.ArrayType(T.LongType(), False), False),
        ]
    )

    def _sig_batches(it):
        for pdf in it:
            keep, arrays = [], []
            for k, arr in enumerate(pdf["hs"]):
                if arr is not None and len(arr):
                    keep.append(k)
                    arrays.append(np.asarray(arr, dtype=np.int64))
            if not arrays:
                continue
            sig = minhash_sigs(arrays, num_hashes)
            yield pd.DataFrame(
                {id_col: pdf[id_col].iloc[keep].values, "sig": list(sig)}
            )

    return hsh.select(F.col(id_col), "hs").mapInPandas(
        _sig_batches, schema=out_schema
    )


def _band_keys(
    sig: DataFrame,
    bands: int,
    rows_per_band: int,
    id_col: str,
    expected_len: int | None = None,
) -> DataFrame:
    """(id, band, bucket) LSH band keys — one xxhash64 per contiguous
    signature slice; a pure map-side projection of the signature table.

    ``expected_len`` (used for EXTERNAL signature tables, e.g. the
    persisted near-dup store): fail fast at execution time if any
    ``sig`` array is not exactly that long. Banding a wrong-length
    signature would not error on its own — slices just come out short,
    bucket keys hash over different content, and cross-table buckets
    silently never collide — so a store written with a different
    ``num_hashes`` would admit every historical near-duplicate. The
    guard is part of the bucket expression itself (not a
    projected-then-dropped assert column) so column pruning can never
    optimize it away."""
    sig_col = F.col("sig")
    if expected_len is not None:
        sig_col = F.when(F.size("sig") == expected_len, sig_col).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"signature length mismatch: expected {expected_len}"
                        " hashes, got "
                    ),
                    F.size("sig").cast("string"),
                    F.lit(
                        " — was this signature store written with a"
                        " different num_hashes?"
                    ),
                )
            )
        )
    return sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.xxhash64(
                            F.slice(sig_col, i * rows_per_band + 1, rows_per_band)
                        ).alias("bucket"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(F.col(id_col), "bb.band", "bb.bucket")


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification.

    1. signature: array<num_hashes> of min-xxhash64 per doc (map-only)
    2. banding: ``bands`` keys of ``num_hashes/bands`` signature rows each;
       shuffle on (band_idx, band_hash) — only same-bucket docs pair up
    3. candidates: distinct (id_a, id_b) from bucket self-joins
    4. verify: exact Jaccard on distinct shingle arrays via
       array_intersect (candidates are few; arrays travel with the join)

    With 16 bands x 4 rows, P(miss) at j=0.9 is ~4e-8 — the verified
    output is exact for any realistic corpus, at a fraction of the
    all-pairs cost. Output matches :func:`ngram_jaccard_pairs`.

    Contract: ``id_col`` is unique per document, and nothing checks it.
    The signature kernel emits one row per input row, so a repeated id
    gets one signature per row, and the verify joins every row of each
    candidate id: a pair can then appear once per row combination, each
    with its own per-row Jaccard.
    """
    if not 0 < bands <= num_hashes or num_hashes % bands != 0:
        # a non-divisor silently drops trailing signature rows from the
        # banding; bands > num_hashes makes every band key the hash of an
        # empty slice, degenerating candidate generation to all-pairs
        raise ValueError(
            f"bands must divide num_hashes with 0 < bands <= num_hashes; "
            f"got bands={bands}, num_hashes={num_hashes}"
        )
    rows_per_band = num_hashes // bands
    # NOTE: no size(hs)>0 pre-filter — a Filter on a computed array column
    # gets pushed below the Project and re-evaluates the whole shingle
    # expression per row; explode() drops empty arrays on its own.
    # r15: the shingle table feeds THREE consumers (the signature
    # aggregate and both verify sides), and unmaterialized lineage ran
    # the tokenize+hash pipeline once per consumer — checkpoint once.
    hsh = checkpoint_frame(_hashed_shingles(docs, n, id_col, text_col))
    # r16: the numpy-kernel signature (see _minhash_signatures) has no
    # exchange for the band self-join's two sides to reuse — without a
    # materialization each side would re-run the whole kernel pipeline.
    # The (id, 64xbigint) frame is small (~0.5 KB/doc, payload-free).
    sig = checkpoint_frame(_minhash_signatures(hsh, num_hashes, id_col))
    banded = _band_keys(sig, bands, rows_per_band, id_col)
    left = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    right = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    candidates = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _verify_jaccard(candidates, hsh, hsh, threshold, id_col)


def _verify_jaccard(
    candidates: DataFrame,
    hsh_a: DataFrame,
    hsh_b: DataFrame,
    threshold: float,
    id_col: str,
) -> DataFrame:
    """Exact-Jaccard verification of an (id_a, id_b) candidate frame
    against the two sides' hashed-shingle tables — shared by the
    self-corpus (:func:`minhash_lsh_pairs`) and cross-corpus
    (:func:`cross_corpus_lsh_pairs`) LSH operators so the jaccard
    expression can never silently diverge between them. Shingle arrays
    move for candidate ids only."""
    sh_a = hsh_a.select(F.col(id_col).alias("id_a"), F.col("hs").alias("sh_a"))
    sh_b = hsh_b.select(F.col(id_col).alias("id_b"), F.col("hs").alias("sh_b"))
    return (
        candidates.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / (
                    F.size("sh_a")
                    + F.size("sh_b")
                    - F.size(F.array_intersect("sh_a", "sh_b"))
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_signatures(
    docs: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable: bool = False,
) -> DataFrame:
    """(id, sim) SimHash signatures, computed the scale-out way.

    Identical bits to the per-row Column spec (64 bit-vote aggregates
    over the hashed n-gram array, kept in
    ``tests/test_dedup_similarity.py`` and pinned by
    ``test_simhash_signatures_match_per_row_spec``): feature hashing
    stays JVM-side (``_hashed_shingles``), and the 64 bit-votes are
    tallied by ONE vectorized numpy kernel per Arrow batch
    (:func:`functions.nphash.simhash_sims` — an unpackbits popcount;
    the vote comparison ``2*ones > n_feats`` is integer arithmetic, so
    the bits match the JVM formulation exactly, not approximately).

    r16 (guide §4.2/§7.3): the previous explode + 64-conditional-sum
    hash aggregate was whole-stage-codegen but its 64-lane expression
    tree cost ~1.1 s of single-threaded driver PLANNING per execution
    (measured as a zero-jobs-running gap) plus a full exchange on the
    doc id. The signature is a per-document function of its feature
    array, so the map-side kernel needs no shuffle and a ~20-node plan.
    One row out per input row (the aggregate form merged duplicate-id
    feature streams instead — the per-row spec semantics are the
    documented ones, and every fixture has unique ids).

    Docs with no features (empty/whitespace/NULL text) keep signature
    0, as in the per-row variant.

    ``portable=True`` uses md5-derived 60-bit feature hashes (see
    ``_hashed_shingles``) so the whole signature is reproducible in
    DuckDB bit-for-bit; bits 60-63 are then always 0 (every feature
    votes -1 there).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from real_estate_bigdata_spark.functions.nphash import simhash_sims

    feats = _hashed_shingles(
        docs, n, id_col, text_col, distinct=False, portable=portable
    )
    out_schema = T.StructType(
        [feats.schema[id_col], T.StructField("sim", T.LongType(), False)]
    )

    def _sig_batches(it):
        for pdf in it:
            sims = np.zeros(len(pdf), dtype=np.int64)
            keep, arrays = [], []
            for k, arr in enumerate(pdf["hs"]):
                if arr is not None and len(arr):
                    keep.append(k)
                    arrays.append(np.asarray(arr, dtype=np.int64))
            if arrays:
                sims[keep] = simhash_sims(arrays)
            yield pd.DataFrame({id_col: pdf[id_col], "sim": sims})

    return feats.mapInPandas(_sig_batches, schema=out_schema)


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 8,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    portable: bool = False,
) -> DataFrame:
    """SimHash near-dup pairs: banded blocking (a pair within Hamming
    distance ``max_hamming`` <= bands-1 must agree exactly on >=1 of
    ``bands`` (64/bands)-bit bands) + bit_count(xor) verification.

    Recall is EXACT when ``max_hamming <= bands - 1`` (pigeonhole:
    fewer differing bits than bands forces one identical band);
    beyond that the blocking is approximate — the classic trade. With
    ``portable=True`` and ``max_hamming <= bands - 1`` the operator is
    fully deterministic AND DuckDB-reproducible, so it carries a
    hash-match oracle (q_dedup_simhash); wider bands = weaker blocking
    keys, so at 100 TB prefer bands=4 approximate unless exactness is
    contractual.

    Contract change (r5): ``bands`` must now divide 64 exactly (1, 2,
    4, 8, 16, 32, 64) — enforced by :func:`hamming_banded_pairs`, which
    this delegates to. Previously a non-divisor (e.g. ``bands=3``) ran
    silently but LOSSILY: the top ``64 % bands`` signature bits were
    ignored by the blocking, so two signatures differing only there
    collided in every band and recall claims were quietly weaker than
    documented. Callers that hit the new ValueError were relying on
    that lossy behavior, not a valid configuration."""
    # eager checkpoint (r15): the banded self-join references the
    # signature frame twice, and unmaterialized lineage planned the
    # whole shingle + 64-sum pipeline once per side (4 corpus scans, 2
    # signature aggregations). The frame is (id, int64) — 16 bytes/row.
    sig = checkpoint_frame(
        simhash_signatures(
            docs, n=n, id_col=id_col, text_col=text_col, portable=portable
        )
    )
    return hamming_banded_pairs(
        sig, sig_col="sim", max_hamming=max_hamming, bands=bands, id_col=id_col
    )


def hamming_banded_pairs(
    sig: DataFrame,
    sig_col: str,
    max_hamming: int,
    bands: int,
    id_col: str,
) -> DataFrame:
    """Near-dup pairs over ANY 64-bit signature column (SimHash, image
    perceptual hash, ...): banded exact-match blocking + bit_count(xor)
    verification. Output: (id_a, id_b, hamming) with id_a < id_b and
    hamming <= ``max_hamming``; recall is EXACT when
    ``max_hamming <= bands - 1`` (pigeonhole — fewer differing bits
    than bands forces one identical band), approximate beyond. One
    shuffle on (band, key); only same-key signatures ever pair.
    NULL-signature rows never pair (band keys of NULL are NULL, and a
    join key never equals NULL).

    The self-join references ``sig`` twice, so the planner materializes
    its upstream pipeline once PER SIDE — callers whose signature is
    expensive to compute (``simhash_pairs``: shingle + 64-sum
    aggregation; ``image_neardup_pairs``: a full decode pass) must pass
    an eagerly localCheckpoint-ed frame, as both do. (The posting-list
    rewrite that removes the join entirely was measured SLOWER at
    sf0.1 — Catalyst HOF upper-triangle expansion is interpreted per
    element — and was rejected; see OPTIMIZATION_r15.md.)"""
    if not 1 <= bands <= 64 or 64 % bands != 0:
        raise ValueError(f"bands must divide 64 with 1 <= bands <= 64, got {bands}")
    width = 64 // bands

    def _band_key(i: int):
        if width == 64:  # single band: the signature IS the key (a
            # 64-bit mask literal would overflow Spark's signed long)
            return F.col(sig_col)
        mask = (1 << width) - 1
        return F.shiftright(F.col(sig_col), i * width).bitwiseAND(F.lit(mask))

    banded = sig.select(
        F.col(id_col),
        F.col(sig_col).alias("__sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"), _band_key(i).alias("key")
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(F.col(id_col), "__sig", "bb.band", "bb.key")
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("__sig").alias("sig_a"), "band", "key"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("__sig").alias("sig_b"), "band", "key"
    )
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine >= threshold).

    All-pairs formulation with norms computed ONCE per row before the
    crossJoin (3x less per-pair work than recomputing both norms inside
    each pair; arithmetic is unchanged — same sequential-fold dot, same
    sqrt — so results stay bit-identical to the oracle). The left side
    is repartitioned to the cluster's default parallelism first: a
    cross join's task count equals its stream-side partition count, and
    a small single-file input would otherwise pin the whole O(n^2) pair
    loop to 1-3 cores (measured 9x on local[32]). Correct and fine to a
    few 10^4 vectors; at scale use
    :func:`embedding_neardup_pairs_blocked` (GEMM block-nested-loop) or
    LSH-block first (``similarity.hyperplane_lsh_bucket``).
    """
    # UNCONDITIONAL round-robin repartition (not ensure_min_parallelism):
    # the downstream stage is O(n^2), so even with enough partitions a
    # row-count skew (199 near-empty files + 1 full one after a filter)
    # would pin the quadratic work to a few cores; the rebalance cost is
    # linear and trivially amortized here, unlike in the linear text ops
    parallelism = embeddings.sparkSession.sparkContext.defaultParallelism
    e = (
        embeddings.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
        )
        .repartition(parallelism)
        .withColumn("nrm", l2_norm(F.col("v")))
    )
    a = e.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("v_a"), F.col("nrm").alias("n_a")
    )
    b = e.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("v_b"), F.col("nrm").alias("n_b")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine_from_norms(
                F.col("v_a"), F.col("v_b"), F.col("n_a"), F.col("n_b")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_neardup_pairs_blocked(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs cosine via blocked GEMM — the 100 TB formulation.

    Block-nested-loop join: vectors are hashed into ``n_blocks`` blocks,
    every block *pair* (bx <= by) becomes one task whose rows are crunched
    as a single numpy matrix multiply (``A @ B.T``) inside Arrow-batched
    ``applyInPandas``. Data motion is each vector replicated ~n_blocks/2
    times — O(N * sqrt(P)) per executor instead of the O(N^2) row-pair
    materialization of the expression-tree variant; the flops run in BLAS
    instead of per-row codegen. Size n_blocks so one block pair
    (~(N/n_blocks)^2 doubles) fits executor memory.

    Output matches :func:`embedding_neardup_pairs` up to BLAS summation
    order (differences ~1e-15, far below the round-6 contract).
    """
    import pandas as pd

    e = embeddings.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("blk", F.pmod(F.xxhash64(F.col("vid")), F.lit(n_blocks)).cast("int"))
    blks = e.select("blk").distinct()
    bp = (
        blks.select(F.col("blk").alias("bx"))
        .crossJoin(blks.select(F.col("blk").alias("by")))
        .filter(F.col("bx") <= F.col("by"))
    )
    lhs = bp.join(e, F.col("bx") == F.col("blk")).select(
        "bx", "by", "vid", "v", F.lit("a").alias("side")
    )
    rhs = (
        bp.filter(F.col("bx") != F.col("by"))
        .join(e, F.col("by") == F.col("blk"))
        .select("bx", "by", "vid", "v", F.lit("b").alias("side"))
    )

    def _gram(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        a_rows = pdf[pdf["side"] == "a"]
        b_rows = pdf[pdf["side"] == "b"]
        same_block = len(b_rows) == 0
        if same_block:
            b_rows = a_rows
        ids_a = a_rows["vid"].to_numpy()
        ids_b = b_rows["vid"].to_numpy()
        A = np.stack(a_rows["v"].to_numpy())
        B = np.stack(b_rows["v"].to_numpy())
        na = np.linalg.norm(A, axis=1)
        nb = np.linalg.norm(B, axis=1)
        denom = np.outer(na, nb)
        with np.errstate(divide="ignore", invalid="ignore"):
            C = np.round(np.where(denom != 0.0, (A @ B.T) / denom, np.nan), 6)
        ii, jj = np.nonzero(C >= threshold)
        id_a, id_b = ids_a[ii], ids_b[jj]
        if same_block:
            # both orientations present in C — keep one
            keep = id_a < id_b
            id_a, id_b, cos = id_a[keep], id_b[keep], C[ii, jj][keep]
        else:
            # each unordered pair appears once with arbitrary orientation
            cos = C[ii, jj]
            id_a, id_b = np.minimum(id_a, id_b), np.maximum(id_a, id_b)
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "cosine": cos})

    return (
        lhs.unionByName(rhs)
        .groupBy("bx", "by")
        .applyInPandas(_gram, "id_a long, id_b long, cosine double")
    )


def _expand_hot_lists(
    assigned: DataFrame, max_list_rows: int, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Sub-partition over-sized probed lists for bounded GEMM tasks.

    Input: (__plist, vid, v) plus any ``extra_cols`` carried through
    verbatim (r13: the PCA variant rides both the raw and the
    projected vector through the same replication). Each list over ``max_list_rows`` rows is
    hash-split on ``vid`` into ``ceil(rows / max_list_rows)`` sub-blocks;
    every row is replicated once per sub-block pair it participates in,
    keyed (__plist, __sx <= __sy). Within one list, every vector pair
    co-occurs in EXACTLY one (__sx, __sy) group: same-sub pairs in the
    diagonal group, cross-sub pairs in the one group keyed by their two
    subs — so downstream pair emission needs no extra dedup. Lists at or
    under the bound get a single (0, 0) group and one replica.

    The per-list counts aggregate is bounded by list cardinality
    (n_lists x n_probe keys at most) and broadcast back — the map-side
    explode is the only row amplification.
    """
    counts = assigned.groupBy("__plist").agg(F.count("*").alias("__ln"))
    return (
        assigned.join(F.broadcast(counts), "__plist")
        .withColumn(
            "__nsub",
            F.ceil(F.col("__ln") / F.lit(max_list_rows)).cast("int"),
        )
        .withColumn(
            "__sub", F.pmod(F.xxhash64(F.col("vid")), F.col("__nsub")).cast("int")
        )
        .select(
            "__plist",
            "vid",
            "v",
            *extra_cols,
            "__sub",
            F.explode(F.sequence(F.lit(0), F.col("__nsub") - 1)).alias("__other"),
        )
        .select(
            "__plist",
            F.least("__sub", "__other").alias("__sx"),
            F.greatest("__sub", "__other").alias("__sy"),
            "__sub",
            "vid",
            "v",
            *extra_cols,
        )
    )


def embedding_neardup_pairs_ivf(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_lists: int = 16,
    n_probe: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index=None,
    within_lists=None,
    max_list_rows: int = 65_536,
) -> DataFrame:
    """Embedding near-dup pairs via IVF-blocked GEMM — the third tier
    between :func:`embedding_neardup_pairs_blocked` (all block pairs,
    exact) and hyperplane LSH (random blocking): cluster-aware blocking
    reuses ``similarity.build_ivf_index`` so only semantically close
    vectors ever meet.

    Plan: every indexed vector multi-probes its ``n_probe`` nearest
    centroids (Arrow-batched argsort over the tiny driver-side centroid
    table), explodes to one row per probed list, and each list becomes
    ONE applyInPandas task that emits its upper-triangle cosine pairs
    from a chunked BLAS matrix multiply. A pair is found iff the two
    vectors' probe sets intersect — near-duplicates have near-identical
    centroid distances, so recall at near-dup thresholds is high and
    rises with ``n_probe`` (pytest pins >= 0.95 vs the exact generator
    at threshold 0.4). Pairs co-occurring in several lists are collapsed
    by a (id_a, id_b) group taking the max cosine — robust even if
    BLAS produces a last-ulp difference for the same pair across
    differently-shaped list matrices (``distinct`` on the cosine would
    then emit the pair twice).

    Scale posture: one shuffle keyed on the probed list id; each vector
    replicated ``n_probe`` times (vs ~n_blocks/2 in the blocked
    generator); per-task work is (list size)^2 flops in BLAS with
    list sizes ~N/n_lists — grow ``n_lists`` ~ sqrt(N) so tasks stay
    bounded; never an all-pairs crossJoin. Skewed lists (one dense
    semantic cluster all probing the same centroid) are handled by an
    AUTO-SPLIT — AQE cannot split a single applyInPandas group, so any
    list over ``max_list_rows`` is hash-sub-partitioned into
    ceil(rows / max_list_rows) sub-blocks and every sub-block PAIR
    becomes its own task (the blocked-GEMM pattern applied inside the
    hot list): identical pair output, per-task rows bounded by ~2x
    ``max_list_rows``, data motion for a hot list multiplied by its
    sub-block count. Cold lists pay one broadcast-joined count lookup
    and a single-element explode.

    ``index`` accepts a prebuilt/persisted :class:`similarity.IvfIndex`
    (build once, pair-generate many times). ``within_lists`` restricts
    to vectors whose PRIMARY assignment is in the given lists — on a
    ``save_ivf_index``-persisted index that filter is static partition
    pruning (unlisted directories never read), the shard-at-a-time
    audit path; boundary pairs whose members' primary lists fall in
    different shards are only found if both probe into the same listed
    shard, so full-corpus runs should leave it None.

    Cites the same reference-gap as the family header: the reference
    implies dedup (SURVEY §1.2) but ships none; this tier is the
    100 TB embedding path.
    """
    import numpy as np
    import pandas as pd

    from real_estate_bigdata_spark.operators.similarity import (
        _probe_lists_udf,
        build_ivf_index,
    )

    if max_list_rows < 1:
        raise ValueError(f"max_list_rows must be >= 1, got {max_list_rows}")
    if index is None:
        index = build_ivf_index(
            embeddings, n_lists=n_lists, seed=seed, id_col=id_col, vec_col=vec_col
        )
    k_probe = min(n_probe, index.n_lists)
    probe = _probe_lists_udf(index.centroids, k_probe)

    lists = index.lists
    if within_lists is not None:
        wl = [int(x) for x in within_lists]
        # filter on the PARTITION column first: persisted indexes prune
        # whole list directories at the scan
        lists = lists.filter(F.col("__list").isin(wl))
    assigned = lists.select(
        F.col("neighbor_id").alias("vid"),
        F.col("c_vec").alias("v"),
        F.explode(probe(F.col("c_vec"))).alias("__plist"),
    )
    if within_lists is not None:
        assigned = assigned.filter(F.col("__plist").isin(wl))

    def _normed(rows: pd.DataFrame):
        ids = rows["vid"].to_numpy()
        M = np.stack(rows["v"].to_numpy())
        nrm = np.linalg.norm(M, axis=1)
        safe = np.where(nrm == 0.0, np.inf, nrm)
        return ids, M / safe[:, None]

    def _list_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        sx, sy = int(pdf["__sx"].iat[0]), int(pdf["__sy"].iat[0])
        out_a, out_b, out_c = [], [], []
        step = 2048  # bounds the per-chunk gram slab at ~step x |rows|
        if sx == sy:
            # within one sub-block (or a cold list): upper triangle
            ids, Mn = _normed(pdf)
            for s in range(0, len(ids), step):
                C = np.round(Mn[s : s + step] @ Mn.T, 6)
                ii, jj = np.nonzero(C >= threshold)
                ga, gb, gc = ids[s + ii], ids[jj], C[ii, jj]
                keep = ga < gb  # drop self + mirrored pairs
                out_a.append(ga[keep])
                out_b.append(gb[keep])
                out_c.append(gc[keep])
        else:
            # cross sub-block pair of a hot list: full A x B gram, no
            # self-pairs possible; orient each pair min/max. A hash
            # sub-block can be EMPTY (pmod needn't populate every value
            # when the list barely exceeds max_list_rows) — np.stack on
            # zero rows would throw, so emit nothing instead
            a_rows = pdf[pdf["__sub"] == sx]
            b_rows = pdf[pdf["__sub"] == sy]
            if len(a_rows) and len(b_rows):
                ids_a, An = _normed(a_rows)
                ids_b, Bn = _normed(b_rows)
                for s in range(0, len(ids_a), step):
                    C = np.round(An[s : s + step] @ Bn.T, 6)
                    ii, jj = np.nonzero(C >= threshold)
                    ga, gb = ids_a[s + ii], ids_b[jj]
                    out_a.append(np.minimum(ga, gb))
                    out_b.append(np.maximum(ga, gb))
                    out_c.append(C[ii, jj])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a) if out_a else np.array([], dtype=np.int64),
                "id_b": np.concatenate(out_b) if out_b else np.array([], dtype=np.int64),
                "cosine": np.concatenate(out_c) if out_c else np.array([]),
            }
        )

    return (
        _expand_hot_lists(assigned, max_list_rows)
        .groupBy("__plist", "__sx", "__sy")
        .applyInPandas(_list_pairs, "id_a long, id_b long, cosine double")
        .groupBy("id_a", "id_b")
        .agg(F.max("cosine").alias("cosine"))
    )


#: participating-cell fraction of a chunk (unique masked rows x unique
#: masked cols / chunk cells) above which the PCA kernel's exact
#: verify switches from a participants-only sub-GEMM to one full
#: raw-dim GEMM for the chunk: near-full participation makes the
#: sub-GEMM gather and multiply nearly everything anyway, and the
#: dense multiply additionally recovers the mask's candidate misses
#: for free (r13: dense within-list masks made per-pair gather traffic
#: the bottleneck; r14 replaced per-pair gathers with the sub-GEMM —
#: allocation scales with participants, never with masked pairs)
_DENSE_MASK_FRAC = 0.25


def embedding_neardup_pairs_pca(
    embeddings: DataFrame,
    threshold: float = 0.4,
    k: int = 32,
    candidate_threshold: float = 0.3,
    n_lists: int = 16,
    n_probe: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    model=None,
    max_list_rows: int = 65_536,
) -> DataFrame:
    """Embedding near-dup pairs via PCA-masked IVF lists (NEW r13,
    VERDICT r12 task #4 — the projection tier wired into the pair
    path): project the corpus onto the top-k principal directions
    (:mod:`operators.projection`, UNCENTERED and non-whitened — both
    centering and whitening distort cosine; see fit_pca's center doc), bucket by an IVF built in the
    PROJECTED space, and inside each list task compute the pair MASK
    with a k-dim float32 GEMM at a permissive ``candidate_threshold``
    — then evaluate the EXACT d-dim cosine only for masked pairs and
    emit those at or above ``threshold``. Every emitted pair carries
    the exact round-6 cosine (the blocked-GEMM bit-parity class), and
    precision is 1.0 by construction.

    Approximation lives only in candidate RECALL: a true pair is
    missed iff its projected cosine falls below ``candidate_threshold``
    (PCA drops tail variance, so a true near-dup's projected cosine
    can sag below its raw cosine) or its members' probe sets are
    disjoint. Defaults are a MEASURED operating point on the synth
    corpus (k=32, candidate 0.3 vs raw threshold 0.4 — end-to-end
    recall 0.970 at sf0.1, uncentered fit), pinned >= 0.9 against the exact generator
    in tests/test_dedup_similarity.py. Rows-only at the oracle gate
    (the ANN class).

    Why IN-LIST verify (r13 second design — the first emitted
    projected candidates and verified via joins, and the measured
    x10 scale point moved 2.8x MORE shuffle bytes than the raw path:
    at a permissive threshold the candidate-pair stream dwarfs the
    vector bytes it saved, then paid groupBy + two verify joins on
    top): here the candidate mask never leaves the task — no
    candidate shuffle, no verify joins, output is true-pair-sized.
    The costs and wins, honestly (BENCH_SCALE.json
    ``pca_embedding_neardup`` vs ``ivf_embedding_neardup``):

    * list-shuffle bytes = raw + k-dim float32 replicas, (d + k/2)/d
      of the raw path (~1.25x at d=64/k=32; ~1.02x at d=1536/k=64) —
      a small, bounded byte REGRESSION;
    * quadratic-stage flops = k-dim float32 mask vs the raw path's
      full d-dim float64 gram + round: ~4x less at d=64/k=32, ~50x
      at d=1536/k=64, with exact d-dim dots only for the masked
      sparse set. On THIS 64-dim corpus the win is modest by
      construction; the operator's target is fat embeddings, where
      the quadratic stage dominates everything.

    The k-means fit and probing also run in k dims. Fit is one corpus
    pass (``fit_pca``); pass a prefit ``model`` to amortize it across
    runs (the persisted-index pattern)."""
    import numpy as np
    import pandas as pd

    from real_estate_bigdata_spark.operators.projection import (
        apply_pca_arrow,
        fit_pca,
    )
    from real_estate_bigdata_spark.operators.similarity import (
        _deterministic_vector_sample,
        _kmeans_fit,
        _probe_lists_udf,
    )

    if max_list_rows < 1:
        raise ValueError(f"max_list_rows must be >= 1, got {max_list_rows}")
    if model is None:
        # UNCENTERED fit (center=False): the mask must preserve raw
        # cosines, and the top-k eigenvectors of E[xx^T] are the
        # least-squares dot-product preserver; centered PCA subtracts
        # the corpus mean first, and when the mean carries the signal
        # (a tight cluster) the centered projections of near-identical
        # vectors are just their noise components — decorrelated from
        # the raw cosine (pinned by the dense-cluster regression test)
        model = fit_pca(
            embeddings, k=k, vec_col=vec_col, whiten=False, center=False
        )
    # materialize (id, raw, projected) ONCE: the sample pass and the
    # probe/assignment pass both scan it, and re-evaluating the k x d
    # projection expression per scan measured 5x at sf0.1
    both = checkpoint_frame(
        # Arrow/BLAS projection, not the Column-HOF form: Catalyst
        # interprets HOF lambdas per element, which at fat widths
        # (d=768/k=64) measured ~30 s per 2000 rows vs milliseconds
        # here — this operator is already Python-whitelisted (r14)
        apply_pca_arrow(embeddings, model, vec_col=vec_col, out_col="__pca")
        .select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).cast("array<double>").alias("v"),
            F.col("__pca").cast("array<float>").alias("__pv"),
        )
        .filter(
            F.col("v").isNotNull()
            & (F.size("v") == model.dim)
            & F.col("__pv").isNotNull()
        ),
        eager=False,
    )
    sample, _ = _deterministic_vector_sample(
        both, "vid", "__pv", seed, 100_000, caller="embedding_neardup_pairs_pca"
    )
    centers = _kmeans_fit(
        sample, k=min(n_lists, len(sample)), seed=seed, max_iter=10
    )
    probe = _probe_lists_udf(centers, min(n_probe, len(centers)))
    assigned = both.select(
        "vid", "v", "__pv", F.explode(probe(F.col("__pv"))).alias("__plist")
    )

    def _sorted_rows(rows: pd.DataFrame):
        # sort by vid BEFORE chunking: chunk membership — and with it
        # the sparse/dense branch choice below — becomes a pure
        # function of the list CONTENT, not of shuffle arrival order
        # (unsorted, a borderline pair could be emitted or not
        # depending on which chunk its rows landed in across runs)
        ids = rows["vid"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        V = np.stack(rows["v"].to_numpy())[order]
        P = np.stack(rows["__pv"].to_numpy())[order].astype(np.float32)
        # raw vectors + norms kept separate: the exact verify divides
        # the dot by the norm PRODUCT, matching the exact generator's
        # dot-then-divide order (normalize-then-dot differs in the
        # last ulp; parity with the exact generator is pinned at the
        # round-6 readout). A zero vector gets an inf norm -> cosine 0.
        nv = np.linalg.norm(V, axis=1)
        nv = np.where(nv == 0.0, np.inf, nv)
        npr = np.linalg.norm(P, axis=1)
        npr = np.where(npr == 0.0, np.inf, npr)
        return ids, V, nv, P / npr[:, None]

    def _list_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        sx, sy = int(pdf["__sx"].iat[0]), int(pdf["__sy"].iat[0])
        out_a, out_b, out_c = [], [], []
        step = 2048  # bounds the per-chunk mask slab at ~step x |rows|

        def emit(ii, jj, ids_l, ids_r, Vl, nl, Vr, nr, s, same_block):
            # exact d-dim cosines for the masked set via a sub-GEMM
            # over the PARTICIPATING rows only, then a per-pair SCALAR
            # readout. Never gather d-wide rows per pair: the masked
            # pair stream times d dwarfs the participants (r14
            # measurement at d=768: a 39k-pair gather+einsum cost 4.7 s
            # where the full 2048x2350 GEMM cost 0.18 s — fresh-page
            # allocation, not flops, is the binding cost). Cosine is
            # dot-then-divide, the exact generator's order.
            iu, i_inv = np.unique(ii, return_inverse=True)
            ju, j_inv = np.unique(jj, return_inverse=True)
            S = (Vl[s + iu] @ Vr[ju].T) / np.outer(nl[s + iu], nr[ju])
            ex = np.round(S[i_inv, j_inv], 6)
            ii_ids, jj_ids = ids_l[s + ii], ids_r[jj]
            if same_block:
                keep = (ii_ids < jj_ids) & (ex >= threshold)
            else:
                keep = ex >= threshold
            out_a.append(np.minimum(ii_ids[keep], jj_ids[keep]))
            out_b.append(np.maximum(ii_ids[keep], jj_ids[keep]))
            out_c.append(ex[keep])

        # adaptive chunk kernel: when few ROWS participate in the
        # projected mask, the masked pairs resolve through a sub-GEMM
        # over just those rows; when participation is DENSE (unique
        # rows x unique cols > _DENSE_MASK_FRAC of the chunk — IVF
        # lists concentrate similarity, so a permissive candidate bar
        # can pass most of a list) the sub-GEMM would gather and
        # multiply nearly everything anyway, so the chunk falls back
        # to a full GEMM over the raw vectors (the raw-IVF kernel's
        # shape, with the cosine computed dot-then-divide to match the
        # exact generator) — recall for that chunk is >= the sparse
        # path's for every pair orientation: both (a,b) and (b,a) emit
        # canonicalized, and the final groupBy(max) dedups them.
        def chunk(ids_l, Vl, nl, Pl, ids_r, Vr, nr, Pr, s, same):
            Cp = Pl[s : s + step] @ Pr.T
            ii, jj = np.nonzero(Cp >= candidate_threshold)
            if not len(ii):
                return
            if (
                len(np.unique(ii)) * len(np.unique(jj))
                > _DENSE_MASK_FRAC * Cp.size
            ):
                C = np.round(
                    (Vl[s : s + step] @ Vr.T)
                    / np.outer(nl[s : s + step], nr),
                    6,
                )
                ii, jj = np.nonzero(C >= threshold)
                if not len(ii):
                    return
                ga, gb, ex = ids_l[s + ii], ids_r[jj], C[ii, jj]
                # drop only SELF pairs: keeping ga < gb here lost the
                # recovered pair whose lower-id row sat in a sparse
                # chunk that masked it out — min/max emission + the
                # final groupBy dedups the mirrored orientation instead
                keep = (ga != gb) if same else np.ones(len(ga), dtype=bool)
                out_a.append(np.minimum(ga[keep], gb[keep]))
                out_b.append(np.maximum(ga[keep], gb[keep]))
                out_c.append(ex[keep])
            else:
                emit(ii, jj, ids_l, ids_r, Vl, nl, Vr, nr, s, same)

        if sx == sy:
            ids, V, nv, Pn = _sorted_rows(pdf)
            for s in range(0, len(ids), step):
                chunk(ids, V, nv, Pn, ids, V, nv, Pn, s, True)
        else:
            a_rows = pdf[pdf["__sub"] == sx]
            b_rows = pdf[pdf["__sub"] == sy]
            if len(a_rows) and len(b_rows):
                ids_a, Va, na, Pa = _sorted_rows(a_rows)
                ids_b, Vb, nb, Pb = _sorted_rows(b_rows)
                for s in range(0, len(ids_a), step):
                    chunk(ids_a, Va, na, Pa, ids_b, Vb, nb, Pb, s, False)
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a) if out_a else np.array([], dtype=np.int64),
                "id_b": np.concatenate(out_b) if out_b else np.array([], dtype=np.int64),
                "cosine": np.concatenate(out_c) if out_c else np.array([]),
            }
        )

    return (
        _expand_hot_lists(assigned, max_list_rows, extra_cols=("__pv",))
        .groupBy("__plist", "__sx", "__sy")
        .applyInPandas(_list_pairs, "id_a long, id_b long, cosine double")
        .groupBy("id_a", "id_b")
        .agg(F.max("cosine").alias("cosine"))
    )

def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pairs: DataFrame | None = None,
    **ivf_kwargs,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): deduplicate an
    embedding-represented corpus by keeping ONE representative — the
    min-id member — per connected component of the cosine >= threshold
    near-duplicate graph; singletons pass through whole. The semantic
    counterpart of ``exact_dedup``'s min-id survivor policy, and the
    step that turns the pair generators into a usable corpus filter.

    ``pairs`` overrides the pair generator (e.g. the exact
    :func:`embedding_neardup_pairs` for oracle runs, or a precomputed/
    persisted pair table); the default is the scale path —
    :func:`embedding_neardup_pairs_ivf` with ``ivf_kwargs`` passed
    through (n_lists, n_probe, index, max_list_rows...).

    Scale shape: pair stream is near-dup-rate sized; transitive
    grouping + survivor anti-join reuse
    ``clustering.near_dup_survivors`` (hash-min CC with star fallback,
    victims-side anti join). Output keeps the full input schema.
    """
    from real_estate_bigdata_spark.operators.clustering import near_dup_survivors

    if pairs is None:
        pairs = embedding_neardup_pairs_ivf(
            embeddings,
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
            **ivf_kwargs,
        )
    return near_dup_survivors(embeddings, pairs, id_col=id_col)


def dedup_against_store(
    new_docs: DataFrame,
    store: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_fingerprint: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Incremental exact dedup for continuous ingest: drop every new
    document whose (whitespace-normalized, portable) content fingerprint
    already exists in the historical ``store``, and return the novel
    docs plus the updated store. The production loop is::

        novel, store = dedup_against_store(batch, store)
        write_lake(novel, ...); overwrite/append the store table

    Semantics: within-batch duplicates resolve to the min-id survivor
    first (same policy as :func:`exact_dedup`), then survivors are
    anti-joined against the store. NULL-text docs carry a NULL
    fingerprint — they always pass through as novel and are NEVER added
    to the store (a missing document must not dedup future missing
    documents against each other).

    Scale posture: the store is one 8-byte-key column; both the
    anti-join and the store union shuffle on the fingerprint only —
    never the document payload. Persist the store bucketed on
    ``fingerprint`` (``sources.lake.write_bucketed``) and the per-batch
    anti-join reads co-located buckets with no exchange on the store
    side. Returned store rows are distinct by construction.

    ``keep_fingerprint=True`` leaves the computed ``fingerprint``
    column on the returned novel frame so callers persisting it (the
    streaming ingest loop) don't pay a second md5 pass over every
    novel document.
    """
    from real_estate_bigdata_spark.operators.text_analysis import doc_fingerprints

    fps = doc_fingerprints(
        new_docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    ).select(F.col("doc_id").alias(id_col), "fingerprint")
    tagged = new_docs.join(fps, id_col)
    survivors = exact_dedup(
        tagged.filter(F.col("fingerprint").isNotNull()), ["fingerprint"], id_col
    ).unionByName(tagged.filter(F.col("fingerprint").isNull()))
    store_fps = store.select("fingerprint")
    # left_anti on an equality key keeps NULL-fingerprint rows (NULL
    # never equals a store row), which is exactly the pass-through we
    # want — no separate NULL branch needed
    novel = survivors.join(store_fps, "fingerprint", "left_anti")
    new_store = store_fps.unionByName(
        novel.filter(F.col("fingerprint").isNotNull()).select("fingerprint")
    ).distinct()
    return (novel if keep_fingerprint else novel.drop("fingerprint")), new_store


def neardup_against_store(
    new_docs: DataFrame,
    store: DataFrame,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    return_additions: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Incremental NEAR-duplicate dedup for continuous ingest: drop
    every new document whose MinHash signature says it near-duplicates
    either an earlier-id document in the same batch or any document in
    the historical signature ``store``; return the novel docs and the
    updated store. The production loop mirrors
    :func:`dedup_against_store`::

        novel, store = neardup_against_store(batch, store)
        write_lake(novel, ...); overwrite/append the signature store

    ``store`` schema: (``id_col``, ``sig`` array<bigint>[num_hashes]) —
    exactly what this function returns, and what
    ``_minhash_signatures`` produces. An empty store (first epoch) is
    ``store.limit(0)`` of that shape. Store ``sig`` arrays MUST be
    exactly ``num_hashes`` long — signatures are not comparable across
    different ``num_hashes`` settings, and band keys hashed over
    different-length slices would silently never collide — so the
    operator raises at execution time on the first wrong-length store
    row (see :func:`_band_keys`). Compacted stores
    (``streaming.ingest.compact_signature_store``) inherit the
    constraint: compaction rewrites rows verbatim.

    Semantics — signature-estimator, one-pass:

    * candidates come from LSH band-bucket collisions (same banding as
      :func:`minhash_lsh_pairs`), so only same-bucket docs ever pair;
    * a candidate is a DUPLICATE when the fraction of agreeing
      signature positions — the unbiased MinHash estimate of Jaccard —
      is >= ``threshold``. Unlike the batch operator there is no exact
      shingle verification: the store deliberately keeps 8-byte
      signature rows, never document payloads, so the historical side
      of the comparison must come from the signature alone. With 64
      hashes the estimator's std-dev at j=0.8 is ~0.05; tune
      ``num_hashes`` for a tighter band.
    * within-batch policy is one-pass id-ordered: a doc is dropped
      whenever a SMALLER-id batch doc collides-and-matches it, whether
      or not that doc itself survives. This over-drops chain cases
      (a~b, b~c, a!~c drops both b and c; cluster-exact semantics keep
      c) — the conservative direction for dedup. Batch-exact cluster
      policy needs :func:`clustering.near_dup_survivors` over
      :func:`minhash_lsh_pairs`; this operator trades that for a
      non-iterative incremental plan.
    * shingle-less docs (NULL/empty text) have no signature: they pass
      through as novel and are never added to the store, mirroring
      :func:`dedup_against_store`'s NULL-fingerprint contract.

    Scale posture: batch signatures are one codegen aggregate over the
    batch; band keys are map-side projections of BOTH sides, so the
    store never re-shuffles its payloadless (id, sig) rows beyond the
    band-key join; every join key is (band, bucket) with
    near-dup-rate-sized matches. The candidate estimator compares two
    64-element arrays per candidate — candidates, not corpus, sized.
    The returned store is distinct-by-id: additions exclude NULL ids
    (dead rows an id equi-join could never match) and ids the store
    already holds (a same-id re-crawl whose rewrite fell below the
    threshold passes through as novel without creating a second store
    row — the stored signature, the dedup reference, stays the
    first-seen one).

    ``return_additions=True`` makes the second element only THIS
    batch's new (id, sig) rows instead of the full updated store — the
    epoch-partitioned ingest loop (``streaming.ingest``) appends those
    rows as its own partition rather than rewriting the store.

    Contract: ``id_col`` is unique within ``new_docs``, as in
    :func:`minhash_lsh_pairs`, and nothing checks it. Batch signatures
    are one row per input row, so rows that share a batch id are never
    compared with each other (the smaller-id rule), and each of them
    that survives lands in the additions: the returned store is then no
    longer distinct-by-id.
    """
    if not 0 < bands <= num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes with 0 < bands <= num_hashes; "
            f"got bands={bands}, num_hashes={num_hashes}"
        )
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    rows_per_band = num_hashes // bands

    hsh = _hashed_shingles(new_docs, n, id_col, text_col)
    # r16: the batch signature feeds the within-batch self-join (both
    # sides), the store join, the estimator verify and the additions —
    # five references. The pre-r16 aggregate's exchange was reused
    # across all of them; the numpy-kernel signature has no exchange,
    # so materialize it once instead of re-tokenizing per reference.
    sig = checkpoint_frame(_minhash_signatures(hsh, num_hashes, id_col))
    batch_bands = _band_keys(sig, bands, rows_per_band, id_col)

    est = F.round(
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda a, b: a == b),
                        lambda x: x))
        / F.lit(float(num_hashes)),
        6,
    )

    # within-batch: drop any doc matched by a smaller-id batch doc
    left = batch_bands.select(F.col(id_col).alias("id_a"), "band", "bucket")
    right = batch_bands.select(F.col(id_col).alias("id_b"), "band", "bucket")
    cand_ids = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sig_a = sig.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sig.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    batch_dups = (
        cand_ids.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .filter(est >= F.lit(threshold))
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )

    # against store: band keys recomputed from stored signatures
    # (map-side projection — the 16x banding is never persisted).
    # expected_len fails fast if the store was written under a
    # different num_hashes (wrong-length sigs would otherwise never
    # collide with batch buckets and every historical near-dup would be
    # silently admitted); compacted stores inherit the same constraint
    # since compaction only rewrites rows verbatim.
    store_bands = _band_keys(
        store, bands, rows_per_band, id_col, expected_len=num_hashes
    )
    cand_vs_store = (
        batch_bands.select(F.col(id_col).alias("id_a"), "band", "bucket")
        .join(
            store_bands.select(F.col(id_col).alias("id_b"), "band", "bucket"),
            ["band", "bucket"],
        )
        .select("id_a", "id_b")
        .distinct()
    )
    store_sig_b = store.select(
        F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b")
    )
    store_dups = (
        cand_vs_store.join(sig_a, "id_a")
        .join(store_sig_b, "id_b")
        .filter(est >= F.lit(threshold))
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )

    dropped = batch_dups.unionByName(store_dups).distinct()
    novel = new_docs.join(dropped, id_col, "left_anti")
    # sig ids are a subset of the batch ids, so sig-minus-dropped is
    # exactly the kept signature-bearing docs — no novel re-join needed.
    # NULL-id signatures are excluded (an equi-join on id can never
    # match them later — they would accumulate as dead store rows), and
    # ids already present in the store are excluded too: a re-crawled
    # id whose rewrite fell BELOW the threshold passes through as novel
    # but must not create a second store row under the same id.
    additions = (
        sig.filter(F.col(id_col).isNotNull())
        .join(dropped, id_col, "left_anti")
        .join(store.select(id_col), id_col, "left_anti")
    )
    if return_additions:
        return novel, additions
    return novel, store.unionByName(additions)


def cross_corpus_lsh_pairs(
    a: DataFrame,
    b: DataFrame,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document-level near-duplicate pairs ACROSS two corpora — "which
    of my training documents near-duplicate a benchmark / another
    snapshot / a held-out set?" The doc-granularity complement of
    gram-level ``decontamination.decontaminate``: that flags documents
    containing benchmark n-grams; this finds whole-document rewrites
    (high Jaccard) even when no 8-gram survives verbatim.

    Output: (id_a from ``a``, id_b from ``b``, jaccard) for every pair
    with exact word-``n``-gram Jaccard >= ``threshold`` — the same
    verified-exact contract as :func:`minhash_lsh_pairs` (banded
    candidates, then exact verification against both sides' shingle
    arrays; P(miss) at j=0.9 with 16x4 banding ~4e-8). No id ordering
    constraint: the corpora are distinct sides, and a shared id is a
    legitimate pair (same doc present in both snapshots).

    Scale posture: signatures are one codegen aggregate per side; the
    only cross-side contact is the (band, bucket) equi-join — only
    same-bucket docs ever meet, so cost is postings-within-buckets,
    never |a| x |b|. Verification joins move shingle arrays for
    candidate ids only.
    """
    if not 0 < bands <= num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes with 0 < bands <= num_hashes; "
            f"got bands={bands}, num_hashes={num_hashes}"
        )
    rows_per_band = num_hashes // bands
    # each side's shingle table feeds its signature aggregate AND its
    # verify join — checkpoint so the tokenize+hash pipeline runs once
    # per side (r15; the minhash_lsh_pairs rationale). r16: the two
    # sides' materialization jobs are independent, so they run in
    # parallel driver threads (guide §2.6) — the second side back-fills
    # cores the first side's job tail leaves idle; results untouched.
    def _cp(side: DataFrame) -> DataFrame:
        return checkpoint_frame(_hashed_shingles(side, n, id_col, text_col))

    hsh_a, hsh_b = concurrently(lambda: _cp(a), lambda: _cp(b))
    bands_a = _band_keys(
        _minhash_signatures(hsh_a, num_hashes, id_col), bands, rows_per_band, id_col
    ).select(F.col(id_col).alias("id_a"), "band", "bucket")
    bands_b = _band_keys(
        _minhash_signatures(hsh_b, num_hashes, id_col), bands, rows_per_band, id_col
    ).select(F.col(id_col).alias("id_b"), "band", "bucket")
    candidates = (
        bands_a.join(bands_b, ["band", "bucket"]).select("id_a", "id_b").distinct()
    )
    return _verify_jaccard(candidates, hsh_a, hsh_b, threshold, id_col)


def novelty_scores(
    corpus: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document content novelty: the fraction of a doc's DISTINCT
    word-``n``-grams whose global first occurrence (minimum owning doc
    id) is this doc — 1.0 = nothing seen before (fresh content), ~0 =
    assembled entirely from earlier documents (aggregator/spam shape).
    The per-doc profile underlying span-level dedup
    (:func:`redact_duplicate_spans` REMOVES repeats; this MEASURES
    each doc's contribution), and a curation signal in its own right:
    rank a crawl snapshot by novelty before deciding what to keep.

    Output: (id, n_grams, n_novel, novelty round-6). Docs with no
    grams (NULL/empty/too-short text) keep n_grams = 0 and NULL
    novelty; NULL-id docs are excluded entirely (they cannot own a
    first occurrence, and a NULL id is unusable downstream).

    ``id_col`` values must be UNIQUE (the dsir_logweights target-id
    precondition, stated per ADVICE r15 #5): the r15 plan emits one
    output row per INPUT row with that row's own ``size(hs)`` but the
    full per-id ``n_novel`` joined on, so a duplicated id would yield
    rows whose novelty exceeds 1 where the r14 exploded form grouped
    grams by id first. Dedup upstream (``exact_dedup``) before scoring
    a corpus whose ids can repeat.

    Plan (r15 rework): one per-gram min-id aggregate (map-side
    combinable) over the exploded hashed-gram stream, then — instead
    of joining that result BACK against the gram stream (a second
    full shingle evaluation feeding a gram-stream-sized shuffle join)
    — ``n_novel`` is read straight off the bounded first-occurrence
    table (``groupBy(min_owner).count()``: a doc owns exactly the
    grams whose global min id is it) and ``n_grams`` is
    ``size(hs)`` carried on the pre-explode frame. The gram stream is
    hashed 64-bit ids, never strings, and the oracle's string-gram
    grouping matches up to xxhash64 collisions (~|grams|^2 x 2^-64,
    immaterial — same argument as the Jaccard family).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    base = corpus.filter(F.col(id_col).isNotNull())
    # (id, n_grams, hs) materialized ONCE: both the gram stream and the
    # per-doc sizes read it, where the r14 plan ran the tokenize+hash
    # pipeline once per consumer
    hsh = checkpoint_frame(_hashed_shingles(base, n, id_col, text_col))
    grams = hsh.select(F.col(id_col), F.explode("hs").alias("g"))
    first = grams.groupBy("g").agg(F.min(id_col).alias("__first_id"))
    novel = first.groupBy(F.col("__first_id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    # explicit NULL branch: with ANSI off, size(NULL) is -1 (legacy
    # sizeOfNull), not NULL — a NULL-text doc must report 0 grams as
    # the exploded form did
    sizes = hsh.select(
        F.col(id_col),
        F.when(F.col("hs").isNull(), F.lit(0))
        .otherwise(F.size("hs"))
        .cast("bigint")
        .alias("n_grams"),
    )
    # n_novel must coalesce BEFORE the ratio: the first-occurrence
    # table has no row for a doc that owns zero grams, and the old
    # exploded form scored such docs 0/n_grams, never NULL
    n_novel = F.coalesce("n_novel", F.lit(0)).cast("bigint")
    return (
        sizes.join(novel, id_col, "left")
        .select(
            F.col(id_col),
            "n_grams",
            n_novel.alias("n_novel"),
            F.when(
                F.col("n_grams") > 0,
                F.round(n_novel / F.col("n_grams"), 6),
            ).alias("novelty"),
        )
    )


def source_overlap_matrix(
    docs: DataFrame,
    pairs: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Cross-source duplication matrix (r11): aggregate a near-dup pair
    stream by the UNORDERED source pair of its endpoints —
    ``(source_a, source_b, n_pairs, n_docs_a, n_docs_b)``
    with source_a <= source_b. The curation readout that tells you
    WHICH crawls/dumps duplicate each other (a high diagonal = a
    self-duplicating source; a heavy off-diagonal = two mirrors of the
    same site feeding the corpus twice), so cap-per-source and mixture
    weights can act on provenance instead of guesswork.

    Scale shape: the pair stream is near-dup-rate sized and the
    id->source projection is two skinny columns, so both endpoint
    joins shuffle only ids+source strings (AQE broadcasts the pair
    side when it is tiny); the final aggregate is bounded by the
    source-pair taxonomy, not the corpus. Distinct endpoint counts use
    the per-side doc sets, never re-scanning the corpus.
    """
    lookup = docs.select(
        F.col(id_col).alias("__id"), F.col(source_col).alias("__src")
    )
    joined = (
        pairs.select(F.col(src).alias("__a"), F.col(dst).alias("__b"))
        .join(lookup.withColumnsRenamed({"__id": "__a", "__src": "__sa"}), "__a")
        .join(lookup.withColumnsRenamed({"__id": "__b", "__src": "__sb"}), "__b")
        .select(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
            # endpoint ids bucketed to the unordered pair's sides: the
            # lexicographically-lesser source's endpoint is side a
            F.when(F.col("__sa") <= F.col("__sb"), F.col("__a"))
            .otherwise(F.col("__b"))
            .alias("__doc_a"),
            F.when(F.col("__sa") <= F.col("__sb"), F.col("__b"))
            .otherwise(F.col("__a"))
            .alias("__doc_b"),
        )
    )
    return joined.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.countDistinct("__doc_a").cast("long").alias("n_docs_a"),
        F.countDistinct("__doc_b").cast("long").alias("n_docs_b"),
    )
