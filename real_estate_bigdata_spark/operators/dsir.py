"""DSIR — Data Selection with Importance Resampling (Xie et al.,
NeurIPS 2023, "Data Selection for Language Models via Importance
Resampling") at corpus scale.

The published method every serious pretraining pipeline now reaches
for when it must pick "target-like" documents (e.g. Wikipedia+books-
like) out of a huge raw crawl WITHOUT running a model over the crawl:

1. featurize every document as a bag of HASHED n-grams (word unigrams
   + bigrams into ``n_buckets`` buckets — collisions are part of the
   method's regularization);
2. fit two smoothed multinomials over buckets: p (target corpus) and
   q (raw corpus);
3. per raw document, the log importance weight
   ``log w(x) = sum_{gram occurrences} ln(p[bucket] / q[bucket])``;
4. resample via the Gumbel-top-k trick: take the k largest
   ``log w(x) + Gumbel_x`` — an exact sample-without-replacement from
   the importance distribution.

Scale shape — why this fits Spark so well:

* Both fits are ONE map-side-combined aggregate each over the exploded
  gram stream, producing bucket tables bounded by ``n_buckets`` rows
  (vocabulary-independent by construction — that is the point of
  feature hashing). They broadcast.
* Per-document weights are then a map-side broadcast join + one groupBy
  on the doc id: a single shuffle of doc-count rows. No iteration, no
  Python, whole-stage codegen throughout.
* Selection is a TakeOrdered top-k over (logweight + Gumbel) — the
  Gumbel noise derives from the engine's deterministic md5 bucket of
  the doc id (``sampling.bucket_of``), so the "random" resample is
  reproducible run-to-run and engine-to-engine, and the whole pipeline
  is DuckDB-oracle-verifiable bit-for-bit.

Hashing is :func:`functions.text.portable_hash64` (md5-prefix 60-bit),
the engine's cross-engine-portable hash, modulo ``n_buckets`` — ~4x
slower than xxhash64 but oracle-checkable; at 100 TB the gram hashing
is a fraction of the tokenize+explode cost that any featurization pays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_estate_bigdata_spark.functions.text import portable_hash64, tokenize
from real_estate_bigdata_spark.util import checkpoint_frame, ensure_min_parallelism

__all__ = ["dsir_logweights", "dsir_select"]

#: default hashed-feature dimensionality (the DSIR paper uses 10^4)
DSIR_BUCKETS = 10_000


def _gram_buckets(docs: DataFrame, id_col: str, text_col: str, n_buckets: int):
    """(id, bucket) — one row per unigram/bigram OCCURRENCE (duplicates
    kept: the multinomial counts occurrences, not distinct grams).
    NULL-text docs contribute nothing; empty docs likewise."""
    toks = tokenize(F.col(text_col))
    n = F.size(toks)
    bigrams = F.when(
        n < 2, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        )
    )
    grams = F.concat(toks, bigrams)
    return (
        ensure_min_parallelism(docs)
        .filter(F.col(text_col).isNotNull() & F.col(id_col).isNotNull())
        .select(F.col(id_col), F.explode(grams).alias("__gram"))
        .select(
            id_col,
            F.pmod(portable_hash64(F.col("__gram")), F.lit(n_buckets)).alias(
                "__bucket"
            ),
        )
    )


def dsir_logweights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
    smoothing: float = 1.0,
    target_within_raw: bool = False,
) -> DataFrame:
    """Per-document DSIR log importance weights of ``raw`` against
    ``target``: (``id_col``, ``dsir_logweight`` round-6, higher =
    more target-like). The raw corpus itself is the q distribution
    (the paper's setting: q is fit on the pool being selected from).

    Laplace smoothing ``smoothing`` over all ``n_buckets`` buckets on
    both fits keeps every log-ratio finite; a bucket never seen in the
    target still scores (as strongly negative), never -inf. Documents
    with NULL text carry NULL weight (the engine-wide NULL-document
    contract); tokenless documents sum zero grams and weigh exactly
    0.0 — log-neutral, as the method defines. Rows with NULL ``id_col``
    are EXCLUDED from the output entirely (r8 review: a weight keyed by
    NULL is unattributable, the per-doc join cannot carry it, and the
    deterministic Gumbel key downstream would diverge from the oracle's
    NULL hash — same exclusion contract as NULL/ragged vectors in the
    ANN builds).

    Both bucket tables are <= ``n_buckets`` rows and BROADCAST; the
    only doc-sized shuffle is the per-id weight sum.

    ``target_within_raw=True`` (r15) declares that ``target`` is a
    row-subset of ``raw`` (same ids, same text — the common "exemplar
    slice of the pool" setting): the target fit is then derived from
    the already-materialized raw featurization by a broadcast semi-join
    on the target ids, instead of re-running tokenize+hash over the
    target rows — identical counts by construction, one less corpus
    featurization pass. The caller asserts the subset property;
    duplicate target ids would double-count in the direct fit and are
    equally a contract violation here."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if smoothing <= 0:
        raise ValueError(
            f"smoothing must be > 0 (zero-count buckets must stay "
            f"finite), got {smoothing}"
        )
    s = float(smoothing)
    # ONE featurization of the raw corpus: (id, bucket, occurrences),
    # eagerly checkpointed because BOTH the q fit and the per-doc
    # weights consume it — without materializing, each consumer would
    # re-run the corpus-sized tokenize+explode+md5 pass (measured 2x
    # at sf0.1; at 100 TB the doc x distinct-bucket frame this pins is
    # far smaller than the gram stream it replaces)
    occ = checkpoint_frame(
        _gram_buckets(raw, id_col, text_col, n_buckets)
        .groupBy(id_col, "__bucket")
        .agg(F.count("*").cast("double").alias("__cnt"))
    )
    raw_cnt = occ.groupBy("__bucket").agg(
        F.sum("__cnt").alias("__q_cnt")
    )
    if target_within_raw:
        tgt_ids = target.select(F.col(id_col)).filter(
            F.col(id_col).isNotNull()
        )
        tgt_cnt = (
            occ.join(F.broadcast(tgt_ids), id_col, "left_semi")
            .groupBy("__bucket")
            .agg(F.sum("__cnt").alias("__p_cnt"))
        )
    else:
        tgt_cnt = (
            _gram_buckets(target, id_col, text_col, n_buckets)
            .groupBy("__bucket")
            .agg(F.count("*").cast("double").alias("__p_cnt"))
        )
    # totals ride as literals-by-aggregation: two scalar frames crossed
    # in — one job each at most n_buckets rows upstream
    raw_tot = raw_cnt.agg(F.sum("__q_cnt").alias("__q_tot"))
    tgt_tot = tgt_cnt.agg(
        F.coalesce(F.sum("__p_cnt"), F.lit(0.0)).alias("__p_tot")
    )
    # every bucket a raw doc can hit is in raw_cnt by construction, so
    # the ratio table is raw buckets left-joined with target counts
    ratio = (
        raw_cnt.join(tgt_cnt, "__bucket", "left")
        .crossJoin(raw_tot)
        .crossJoin(tgt_tot)
        .select(
            "__bucket",
            (
                F.log(
                    (F.coalesce(F.col("__p_cnt"), F.lit(0.0)) + F.lit(s))
                    / (F.col("__p_tot") + F.lit(s * n_buckets))
                )
                - F.log(
                    (F.col("__q_cnt") + F.lit(s))
                    / (F.col("__q_tot") + F.lit(s * n_buckets))
                )
            ).alias("__log_ratio"),
        )
    )
    per_doc = (
        occ.join(F.broadcast(ratio), "__bucket")
        .groupBy(id_col)
        .agg(
            F.round(F.sum(F.col("__log_ratio") * F.col("__cnt")), 6).alias(
                "dsir_logweight"
            )
        )
    )
    shell = raw.select(F.col(id_col), F.col(text_col).alias("__t")).filter(
        F.col(id_col).isNotNull()
    )
    return shell.join(per_doc, id_col, "left").select(
        id_col,
        F.when(F.col("__t").isNull(), F.lit(None).cast("double"))
        .otherwise(F.coalesce("dsir_logweight", F.lit(0.0)))
        .alias("dsir_logweight"),
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
    smoothing: float = 1.0,
    salt: str = "",
    target_within_raw: bool = False,
) -> DataFrame:
    """Gumbel-top-k DSIR selection: the ``k`` raw documents with the
    largest ``dsir_logweight + Gumbel`` — an exact without-replacement
    sample from the importance distribution (the resampling half of the
    method; selecting by raw weight alone over-concentrates on the
    single most target-like mode, which is precisely what DSIR's
    resampling is designed to avoid).

    The Gumbel variate is DETERMINISTIC: ``-ln(-ln(u))`` with
    ``u = (md5_bucket(id, salt) + 0.5) / 10000`` — the engine's
    portable seeded-uniform construction (``sampling.bucket_of``), so
    the selection replays identically across runs, partitionings, and
    engines (DuckDB-oracle-checkable); vary ``salt`` for an
    independent redraw. NULL-text and NULL-id documents are never
    selected (they carry no weight — see :func:`dsir_logweights`).

    Output: (``id_col``, dsir_logweight, gumbel_key round-6) ordered
    best-first, TakeOrdered top-k — never a global sort."""
    from real_estate_bigdata_spark.operators.sampling import (
        N_BUCKETS as _U_BUCKETS,
        bucket_of,
    )

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = dsir_logweights(
        raw, target, id_col, text_col, n_buckets, smoothing,
        target_within_raw=target_within_raw,
    ).filter(F.col("dsir_logweight").isNotNull())
    u = (bucket_of(F.col(id_col), salt) + F.lit(0.5)) / F.lit(
        float(_U_BUCKETS)
    )
    gumbel = -F.log(-F.log(u))
    return (
        w.withColumn(
            "gumbel_key",
            F.round(F.col("dsir_logweight") + gumbel, 6),
        )
        .orderBy(F.desc("gumbel_key"), F.col(id_col))
        .limit(k)
    )
