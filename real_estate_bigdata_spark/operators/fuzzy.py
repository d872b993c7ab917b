"""Edit-distance fuzzy matching — k-deletion-neighborhood blocking
(FastSS; Bocek et al. 2007, "Fast Similarity Search in Large
Dictionaries") with exact JVM-side Levenshtein verification (NEW r14;
north-star ABSENT category: the reference joins listings only on exact
normalized keys — `mapreduce/mapper.py`-class equality — but a
crawled-corpus pipeline needs typo-tolerant entity resolution: the same
address/name/title crawled twice with one character off).

Why deletion neighborhoods and not segment blocking (PassJoin, Li et
al. PVLDB 2011): segment keys degenerate to ALL-PAIRS on shared-prefix
data — with ``max_distance=1`` every ``Customer#0000...``-style name
has the identical first-half segment, so the biggest block IS the
table. A k-deletion variant, by contrast, differs per row except where
strings genuinely collide: the block for a variant key contains only
strings within k insertions of that exact key, so block size is bounded
by the data's true near-duplicate density, not by its format.

Completeness (the FastSS lemma): ``ed(s, t) <= k`` implies an edit
script of at most k operations; deleting from ``s`` the characters the
script substitutes-or-deletes and from ``t`` the characters it
substitutes-or-inserts leaves the SAME string, with at most k deletions
on each side. So every true pair shares at least one common member of
their <=k-deletion neighborhoods, and the candidate join has no false
negatives; false positives are removed by one exact
``F.levenshtein(...) <= k`` filter (whole-stage codegen, no Python).

Scale shape: variant generation is MAP-ONLY chained ``explode`` over
position sequences (sum_{j<=k} C(len, j) variants per row — 19 for an
18-char string at k=1), run ONCE into an eager localCheckpoint (r15 —
the self-join otherwise plans the pipeline once per side); the only
exchanges are the variant-hash equi-join (``xxhash64(variant)``, a
bigint key instead of the raw string) and one pair-dedup aggregate.
Nothing is quadratic in the
corpus — candidate volume is sum of squared BLOCK sizes, bounded by
near-duplicate density. Variant count grows O(len^k), which is why this
is a SHORT-STRING operator (names, titles, addresses, domains):
``max_len`` guards the contract inside the expression itself
(``F.raise_error`` at execution, the dedup.py:467 signature-guard
pattern), not in driver-side code a lazy plan would skip.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from real_estate_bigdata_spark.util import checkpoint_frame, ensure_min_parallelism

__all__ = [
    "edit_distance_pairs",
    "edit_distance_join",
]

#: variant blow-up is C(len, k); these caps keep it <= ~600 per row
_MAX_LEN_BOUND = {1: 64, 2: 36}


def _validate(max_distance: int, max_len: int | None) -> int:
    if max_distance not in (1, 2):
        raise ValueError(
            f"max_distance must be 1 or 2, got {max_distance} — larger k"
            " explodes the C(len, k) deletion neighborhood; use the"
            " MinHash/SimHash family for loose similarity"
        )
    bound = _MAX_LEN_BOUND[max_distance]
    if max_len is None:
        max_len = bound
    if not 1 <= max_len <= bound:
        raise ValueError(
            f"max_len must be in [1, {bound}] at max_distance="
            f"{max_distance}, got {max_len}"
        )
    return max_len


def _guarded_length(s: Column, max_len: int, col: str) -> Column:
    """Length of ``s``, raising AT EXECUTION on overlong strings — part
    of the expression itself so column pruning can never drop it."""
    return F.when(F.length(s) <= max_len, F.length(s)).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"edit-distance blocking over {col!r} found a string of"
                    " length "
                ),
                F.length(s).cast("string"),
                F.lit(
                    f" > max_len={max_len} — the C(len, k) deletion"
                    " neighborhood is a short-string contract (names,"
                    " titles, addresses); pre-truncate or use the"
                    " MinHash/SimHash family for long text"
                ),
            )
        )
    )


def _delete_one(s: Column, pos: Column) -> Column:
    """Delete the 0-based ``pos`` character; ``pos == -1`` is the
    no-deletion sentinel."""
    return F.when(pos == -1, s).otherwise(
        F.concat(s.substr(F.lit(1), pos), s.substr(pos + 2, F.length(s)))
    )


def _variants(
    df: DataFrame, id_col: str, col: str, k: int, max_len: int
) -> DataFrame:
    """``(id, s, variant)`` — every string produced by deleting 0..k
    characters (positions strictly ascending, ``-1`` sentinels trailing,
    so each deletion SET is enumerated exactly once). Map-only: chained
    explodes over position sequences, then right-to-left single-char
    deletes (later positions first, so earlier offsets stay valid)."""
    value = F.col(col)
    # the explode below fans out at the SCAN's partition count — a
    # single-file input would pin variant generation AND the join build
    # to one core (measured 15k-row customer at sf0.1: the whole pair
    # query ran one task); no-op on an already-parallel 100 TB scan
    out = ensure_min_parallelism(df.where(value.isNotNull())).select(
        F.col(id_col).alias("__fid"),
        value.alias("__fs"),
        _guarded_length(value, max_len, col).alias("__fl"),
    )
    pos_cols: list[str] = []
    for j in range(k):
        prev = F.col(pos_cols[-1]) if pos_cols else None
        p = f"__fp{j}"
        out = out.select(
            "*", F.explode(F.sequence(F.lit(-1), F.col("__fl") - 1)).alias(p)
        )
        if prev is None:
            keep = F.lit(True)
        else:
            # ascending positions; once a sentinel appears, all later
            # slots are sentinels — each deletion set counted once
            keep = F.when(prev == -1, F.col(p) == -1).otherwise(
                (F.col(p) == -1) | (F.col(p) > prev)
            )
        out = out.where(keep)
        pos_cols.append(p)
    v = F.col("__fs")
    for p in reversed(pos_cols):
        v = _delete_one(v, F.col(p))
    # deletion positions ride along (one int per deletion slot) — the
    # k=1 join prune needs them; callers that don't can drop them
    return out.select("__fid", "__fs", v.alias("__fv"), *pos_cols)


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    col: str,
    max_distance: int = 1,
    max_len: int | None = None,
) -> DataFrame:
    """All unordered pairs of rows whose ``col`` strings are within
    Levenshtein distance ``max_distance`` — EXACT semantics (complete
    and precise; blocking only prunes, verification decides). Returns
    ``(id_a, id_b, dist)`` with ``id_a < id_b``.

    NULL strings never pair (no distance); equal strings pair at
    ``dist = 0`` (feed the pair stream to
    ``clustering.connected_components`` for fuzzy dedup groups, the
    MinHash-pair idiom)."""
    k = max_distance
    max_len = _validate(k, max_len)
    # r15: variants are generated ONCE into an eager localCheckpoint —
    # the self-join otherwise plans the whole scan+explode pipeline
    # once per side — and the join key is the variant's xxhash64, not
    # the raw string (a bigint compare and ~60% fewer candidate-side
    # bytes). Hash collisions can only ADD candidate pairs, every
    # candidate passes the exact levenshtein verify below, and every
    # true pair shares a REAL common variant (the FastSS lemma) hence
    # also its hash — so the verified output is bit-identical. (The
    # join-free posting-list form was measured ~40% SLOWER at sf0.1 —
    # interpreted HOF pair expansion — and rejected; see
    # OPTIMIZATION_r15.md.)
    pos_cols = ["__fp0"] if k == 1 else []
    vars_df = checkpoint_frame(
        _variants(df, id_col, col, k, max_len).select(
            "__fid", "__fs", F.xxhash64("__fv").alias("__fh"), *pos_cols
        )
    )
    a, b = vars_df.alias("a"), vars_df.alias("b")
    cond = (F.col("a.__fh") == F.col("b.__fh")) & (
        F.col("a.__fid") < F.col("b.__fid")
    )
    if k == 1:
        # r16 position prune (FastSS §4.2's candidate refinement,
        # specialized to k=1): a (1-del, 1-del) collision at DIFFERENT
        # positions can never verify — lev(a,b) <= 1 with equal lengths
        # forces a single substitution, whose common variant deletes
        # the SAME position from both sides; a length-1 difference pair
        # is always found via its (0-del, 1-del) collision. So pruning
        # (pa != pb, both real) candidates loses no true pair, and the
        # exact verify below still decides precision. Measured 956k ->
        # ~60k candidates on the sf0.1 customer names (sequential-id
        # strings collide heavily at differing positions).
        cond = cond & (
            (F.col("a.__fp0") == -1)
            | (F.col("b.__fp0") == -1)
            | (F.col("a.__fp0") == F.col("b.__fp0"))
        )
    cand = (
        a.join(b, cond)
        .groupBy(
            F.col("a.__fid").alias("id_a"),
            F.col("b.__fid").alias("id_b"),
            F.col("a.__fs").alias("__sa"),
            F.col("b.__fs").alias("__sb"),
        )
        .agg(F.lit(1).alias("__one"))
    )
    return (
        cand.withColumn("dist", _lev_within(k))
        .where((F.col("dist") >= 0) & (F.col("dist") <= k))
        .select("id_a", "id_b", F.col("dist").cast("int").alias("dist"))
    )


def _lev_within(k: int):
    """Banded ``levenshtein(__sa, __sb, threshold=k)`` — the DP runs an
    O(len·k) diagonal band instead of the full O(len²) table and
    returns -1 past ``k`` (r16, guide §1.2 per-task work; measured
    ~18% off the verify stage at sf0.1). For kept pairs (dist in
    [0, k]) the value is the exact distance, so verified output is
    bit-identical; the extra ``dist >= 0`` conjunct excludes the -1
    over-threshold marker the unbounded form never produced."""
    return F.levenshtein("__sa", "__sb", k)


def edit_distance_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_col: str,
    right_col: str,
    max_distance: int = 1,
    max_len: int | None = None,
) -> DataFrame:
    """Typo-tolerant equi-join: every (left, right) row pair whose
    strings are within Levenshtein distance ``max_distance`` — the
    lookup-table form (match crawled names against a canonical
    dictionary). Returns ``(left_id, right_id, dist)``.

    Same blocking/verification as :func:`edit_distance_pairs`; the two
    frames generate variants independently, so a SMALL right side stays
    small (its variant frame broadcasts under AQE when it fits)."""
    k = max_distance
    max_len = _validate(k, max_len)
    if left_id == right_id:
        raise ValueError(
            f"left_id and right_id are both {left_id!r} — alias one, the"
            " output carries both"
        )
    lv = _variants(left, left_id, left_col, k, max_len)
    rv = _variants(right, right_id, right_col, k, max_len)
    cond = F.col("a.__fv") == F.col("b.__fv")
    if k == 1:
        # same k=1 position prune as edit_distance_pairs (see there for
        # the completeness argument — it does not involve id order)
        cond = cond & (
            (F.col("a.__fp0") == -1)
            | (F.col("b.__fp0") == -1)
            | (F.col("a.__fp0") == F.col("b.__fp0"))
        )
    cand = (
        lv.alias("a")
        .join(rv.alias("b"), cond)
        .groupBy(
            F.col("a.__fid").alias(left_id),
            F.col("b.__fid").alias(right_id),
            F.col("a.__fs").alias("__sa"),
            F.col("b.__fs").alias("__sb"),
        )
        .agg(F.lit(1).alias("__one"))
    )
    return (
        cand.withColumn("dist", _lev_within(k))
        .where((F.col("dist") >= 0) & (F.col("dist") <= k))
        .select(left_id, right_id, F.col("dist").cast("int").alias("dist"))
    )
