"""Corpus curation: the end-to-end document-selection pipeline a
training-data build runs before tokenization — exact dedup, near-dup
removal, quality floor — composed from this engine's dedup and text
operators into one deterministic, oracle-checkable DataFrame program.

Stage order (the cheap filter runs LAST deliberately: dedup decisions
must be made on the full corpus so a kept-then-filtered doc can never
resurrect a dropped near-duplicate):

1. **Exact dedup** — whitespace-normalized portable fingerprint; the
   minimum doc_id per fingerprint survives (deterministic, replayable).
2. **Near-dup removal** — MinHash-LSH candidate generation with exact
   Jaccard verification (``dedup.minhash_lsh_pairs``). Verified pairs
   are exact; candidate GENERATION can miss a pair with probability
   (1 - j^4)^16 at the default 16 bands x 4 rows — ~2e-4 for a pair
   sitting exactly at j=0.8, ~4e-8 at j>=0.9 (raise num_hashes/bands
   together where the boundary band matters). For every surviving
   pair (id_a < id_b) the LATER id drops. Non-transitive by spec: if
   A~B and B~C but A!~C, only B and C drop when paired with a kept
   earlier doc — the policy is "drop any doc near-identical to an
   earlier kept-or-dropped doc", which is one anti-join, not a
   connected-components job.
3. **Quality floor** — whitespace token count within
   [min_tokens, max_tokens] (the length screens of C4/RefinedWeb-style
   cleaning; the richer `quality_metrics` thresholds compose the same
   way).

Scale notes: stage 1 is one shuffle on the 8-byte fingerprint; stage 2
is the banded-LSH shuffle (never all-pairs); stage 3 is map-only. The
pair->drop-set anti join deduplicates drop ids first so the join side
stays small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from real_estate_bigdata_spark.functions.text import token_count
from real_estate_bigdata_spark.operators.dedup import minhash_lsh_pairs
from real_estate_bigdata_spark.operators.text_analysis import portable_fingerprint
from real_estate_bigdata_spark.util import checkpoint_frame

__all__ = ["curate_corpus"]


def curate_corpus(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    min_tokens: int = 5,
    max_tokens: int = 1_000_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Returns the curated corpus: (doc_id, source, n_tokens), one row
    per kept document, deterministic for a given input."""
    text = F.col(text_col)
    # NULL-text docs can never drop another doc (no shingles) and always
    # fail the token floor (token_count(NULL) = NULL), so dropping them
    # up front is behavior-identical — and avoids funneling every
    # NULL-text doc of a crawled corpus into ONE window partition (the
    # NULL fingerprint group), a classic straggler.
    docs = docs.filter(text.isNotNull())
    normalized = F.concat_ws(" ", F.split(F.trim(text), r"\s+"))
    with_fp = docs.select(
        F.col(id_col),
        F.col("source"),
        text.alias(text_col),
        portable_fingerprint(normalized).alias("__fp"),
    )
    # stage 1: min-id survivor per fingerprint
    w = Window.partitionBy("__fp").orderBy(F.col(id_col))
    # Checkpoint: the exact-dedup result feeds every branch of the
    # LSH pipeline (signatures, set sizes, posting explode) AND the
    # final anti-join — 4+ traversals that would each re-run the
    # scan + fingerprint window. Materialized once (MEMORY_AND_DISK
    # semantics), lineage truncated; at cluster scale this is the
    # standard stage boundary a 100 TB curation run would persist
    # to the lake anyway.
    exact_kept = checkpoint_frame(
        with_fp.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__fp"),
        eager=False,
    )
    # stage 2: LSH near-dup pairs among exact survivors; later id drops
    pairs = minhash_lsh_pairs(
        exact_kept, n=n, threshold=threshold, id_col=id_col, text_col=text_col
    )
    # no broadcast hint: the drop set scales with corpus duplication
    # (easily 10%+ of a crawled corpus) — let AQE pick the strategy
    drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    neardup_kept = exact_kept.join(drops, id_col, "left_anti")
    # stage 3: token-count floor/ceiling (map-only)
    return (
        neardup_kept.select(
            id_col, "source", token_count(F.col(text_col)).alias("n_tokens")
        )
        .filter(
            (F.col("n_tokens") >= min_tokens) & (F.col("n_tokens") <= max_tokens)
        )
    )
