"""Distributed BPE vocabulary training + encoding.

Byte-pair encoding (Sennrich, Haddow & Birch 2016, "Neural Machine
Translation of Rare Words with Subword Units" — the public algorithm
every GPT-2-lineage tokenizer descends from) learned AT CORPUS SCALE
with Spark: the reference repo has no tokenizer surface at all
(SURVEY §2 ABSENT tail), but a training-data engine that counts tokens
(``text_analysis.token_accounting``) and packs sequences
(``sampling.pack_documents``) needs the vocabulary those counts come
from, trained on the same corpus it curates.

Execution model — the part worth getting right at 100 TB:

* The corpus collapses ONCE to the distinct-word frequency table
  (vocab-sized, not corpus-sized — one shuffle), optionally truncated
  to the ``max_vocab_words`` most frequent words (standard practice;
  the merge statistics of the long tail are noise and the truncation
  bounds every later iteration).
* Each iteration is ONE bounded aggregate over the exploded
  adjacent-symbol-pair table of that words frame (weighted by word
  count, map-side combined), a small TakeOrdered for the ranking head
  (the argmax plus the rows that decide how many merges are provably
  safe to apply at once), and a pure Column-expression rewrite of the symbol arrays (a greedy
  left-to-right non-overlapping fold via ``aggregate`` — NO Python in
  the loop body; the only driver state is the merge list itself, which
  IS the artifact).
* Expression depth grows per applied merge, so the loop truncates
  lineage with an eager localCheckpoint every ``checkpoint_every``
  merges — without it the analyzed plan goes super-linear in
  ``n_merges`` (the same lineage discipline as the connected-components
  rounds in ``clustering``).

Determinism: ties on pair count break (left, right) lexicographically,
so the merge SEQUENCE is reproducible across partitionings and engines
— pinned by an independent pure-Python Sennrich mirror in pytest.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from real_estate_bigdata_spark.functions.text import tokenize
from real_estate_bigdata_spark.util import (
    bounded_collect,
    checkpoint_frame,
    ensure_min_parallelism,
)

__all__ = [
    "train_bpe_batched",
    "bpe_merge_table",
    "bpe_encode",
    "END_OF_WORD",
]

#: end-of-word marker appended to a word's final character (the
#: original Sennrich convention) so merges distinguish "er" inside a
#: word from "er</w>" ending one
END_OF_WORD = "</w>"


def _initial_symbols(word: Column) -> Column:
    """word -> array of single-character symbols with END_OF_WORD glued
    to the final character: "low" -> ["l", "o", "w</w>"]. Character =
    one BMP code point (``split`` by the empty pattern); words carrying
    astral-plane characters (emoji, rare CJK) split at the UTF-16
    surrogate boundary — byte-level BPE over a pre-encoded byte-token
    column is the right representation for those corpora."""
    chars = F.split(word, "")
    n = F.size(chars)
    return F.transform(
        chars,
        lambda c, i: F.when(i == n - 1, F.concat(c, F.lit(END_OF_WORD))).otherwise(c),
    )


def _adjacent_pairs(sym: Column) -> Column:
    """array<string> -> array<struct<l,r>> of adjacent symbol pairs
    (empty for words of one symbol)."""
    return F.when(F.size(sym) < 2, F.array().cast("array<struct<l:string,r:string>>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(sym) - 1),
            lambda i: F.struct(
                F.element_at(sym, i).alias("l"),
                F.element_at(sym, i + 1).alias("r"),
            ),
        )
    )


def _apply_merge(sym: Column, left: str, right: str) -> Column:
    """Greedy left-to-right NON-OVERLAPPING merge of every adjacent
    (left, right) into left+right — one ``aggregate`` fold, pure JVM.
    "aaa" under (a,a) -> ["aa","a"], matching the reference
    implementation's scan order."""
    a, b = F.lit(left), F.lit(right)
    acc0 = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("p"),
    )

    def step(acc, s):
        return (
            F.when(
                acc["p"].isNull(),
                F.struct(acc["out"].alias("out"), s.alias("p")),
            )
            .when(
                (acc["p"] == a) & (s == b),
                F.struct(
                    F.concat(acc["out"], F.array(F.concat(a, b))).alias("out"),
                    F.lit(None).cast("string").alias("p"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(acc["p"])).alias("out"),
                    s.alias("p"),
                )
            )
        )

    def finish(acc):
        return F.when(acc["p"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["p"]))
        )

    return F.aggregate(sym, acc0, step, finish)


def _word_table(
    docs: DataFrame,
    text_col: str,
    max_vocab_words: int | None,
) -> DataFrame:
    """(word, cnt, symbols): the corpus collapsed to distinct-word
    frequencies — the ONLY corpus-sized pass in BPE training."""
    words = (
        ensure_min_parallelism(docs)
        .select(F.explode(tokenize(F.col(text_col))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if max_vocab_words is not None:
        # TakeOrdered — never a global sort; lexicographic tie-break
        # keeps the truncation content-deterministic
        words = words.orderBy(F.desc("cnt"), "word").limit(max_vocab_words)
    return words.withColumn("symbols", _initial_symbols(F.col("word")))


def _disjoint_prefix_batch(
    rows, min_pair_count: int, fetch_limit: int
) -> list[tuple[str, str]]:
    """The maximal batch of ranked pair rows provably safe to apply in
    ONE iteration while staying bit-identical to the sequential
    trainer. ``rows`` are (l, r, n) in the sequential argmax order
    (count desc, then (l, r) asc), fetched with ``limit(fetch_limit)``
    — one PAST the intended batch size, so the boundary count below
    the batch is always known.

    Selection rule and why it is exact:

    * Only a PREFIX of the ranking is eligible, stopped at the first
      pair sharing a symbol with an already-selected pair. Merging
      (a, b) preserves the count of every pair disjoint from {a, b}
      one-for-one (fusing adjacent a·b slots cannot create or destroy
      an x·y adjacency with x, y ∉ {a, b}), so each selected pair
      still has exactly its tabulated count when the sequential
      trainer reaches it, and the in-batch ranking order IS the
      sequential order.
    * A SELF-pair (l == r) also stops the batch: merging (a, a) can
      create (aa, aa) out of runs of four — a new pair fed by the
      merged pair ITSELF, so its count is bounded by n/2 of the
      selected row rather than by the boundary, and nothing ranked
      after the self-pair is provably next. (As the ranking head it
      is still applied — alone — like any argmax.)
    * Old pairs sharing a symbol with an applied merge only DECREASE
      (their adjacencies are consumed, never produced), and every NEW
      pair (x, a⊕b) / (a⊕b, y) is fed instance-for-instance by an old
      conflicting pair ((x, a) / (b, y)) — which, being a non-selected
      row of a descending ranking (or absent entirely when the
      ranking was exhausted conflict-free), counts <= the boundary.
    * Selected pairs are finally truncated to counts STRICTLY above
      the boundary (the first non-selected row's count; the fetch
      boundary row when the prefix ran to the limit; ``0`` only when
      the whole ranking was fetched and selected, where no new pair
      can exist at all): at count equality the sequential trainer
      could tie-break lexicographically in favor of a newly created
      pair, so equal-count prefixes are not provably safe.

    At every sequential step k inside the batch, then: selected pairs
    k..B still hold their exact tabulated counts, all of which exceed
    the boundary, while every other candidate (decreased conflictors,
    created pairs, unfetched tail) counts <= the boundary — so the
    sequential argmax is forced through the batch in order, B driver
    round-trips for the price of one."""
    selected: list[tuple[str, str, int]] = []
    used: set[str] = set()
    boundary: int | None = None  # None = ranking exhausted conflict-free
    for row in rows:
        left, right, n = row["l"], row["r"], row["n"]
        if (
            n < min_pair_count
            or left == right
            or left in used
            or right in used
        ):
            boundary = n
            break
        selected.append((left, right, n))
        used.add(left)
        used.add(right)
    if boundary is None and len(rows) == fetch_limit:
        # prefix ran to the fetch limit: the first unfetched row counts
        # <= the last fetched one, so that row becomes the boundary
        left, right, boundary = selected.pop()
    out = [
        (left, right)
        for left, right, n in selected
        if boundary is None or n > boundary
    ]
    # guarantee progress: the argmax alone is always sequential-safe
    # (the sequential trainer applies it unconditionally)
    if not out and rows and rows[0]["n"] >= min_pair_count:
        out = [(rows[0]["l"], rows[0]["r"])]
    return out


def _train_bpe_local(
    word_counts: list[tuple[str, int]],
    n_merges: int,
    min_pair_count: int,
) -> list[tuple[str, str]]:
    """Exact Sennrich merge loop over a COLLECTED (word, cnt) table —
    the bounded fast path of :func:`train_bpe_batched` (the
    dawid_skene/bradley_terry precedent: once the corpus has collapsed
    to a small vocab table, per-merge Spark aggregates are pure driver
    round-trip overhead).

    Bit-identical to the distributed loop by construction: same
    end-of-word convention, same (count desc, left, right) tie-break,
    same greedy left-to-right non-overlapping merge scan, same
    ``min_pair_count`` stop. Callers guarantee every word is BMP-only
    (checked at the probe) so Python's per-code-point split and string
    order coincide exactly with the JVM's per-UTF-16-unit behavior —
    astral-plane vocabularies take the distributed path.

    Incremental bookkeeping: a pair -> containing-words index limits
    each merge to the words it touches, and the argmax is a
    lazy-deletion heap (every count CHANGE pushes a fresh entry;
    stale heads are popped against the live counter) — never a full
    rescan per merge.
    """
    import heapq
    from collections import Counter, defaultdict

    syms: list[list[str]] = []
    cnts: list[int] = []
    for w, c in word_counts:
        s = list(w)
        s[-1] = s[-1] + END_OF_WORD
        syms.append(s)
        cnts.append(c)
    pc: Counter = Counter()
    occ: defaultdict = defaultdict(set)
    for k, s in enumerate(syms):
        c = cnts[k]
        for i in range(len(s) - 1):
            p = (s[i], s[i + 1])
            pc[p] += c
            occ[p].add(k)
    heap = [(-n, l, r) for (l, r), n in pc.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges and heap:
        negn, a, b = heapq.heappop(heap)
        if pc.get((a, b)) != -negn:
            continue  # stale entry — the count changed since the push
        if -negn < min_pair_count:
            break
        merges.append((a, b))
        ab = a + b
        for k in sorted(occ[(a, b)]):
            s, c = syms[k], cnts[k]
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                pc[p] -= c
                if pc[p] == 0:
                    del pc[p]
                else:
                    heapq.heappush(heap, (-pc[p], p[0], p[1]))
                occ[p].discard(k)
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[k] = out
            for i in range(len(out) - 1):
                p = (out[i], out[i + 1])
                pc[p] += c
                heapq.heappush(heap, (-pc[p], p[0], p[1]))
                occ[p].add(k)
    return merges


def train_bpe_batched(
    docs: DataFrame,
    n_merges: int = 100,
    text_col: str = "text",
    min_pair_count: int = 2,
    max_vocab_words: int | None = 1_000_000,
    checkpoint_every: int = 8,
    batch_size: int = 16,
    stats: dict | None = None,
    small_vocab_threshold: int = 65_536,
) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` BPE merges from the corpus; returns the
    ordered merge list (the tokenizer artifact — inherently driver-
    sized: one (left, right) pair per merge). Stops early when no
    adjacent pair reaches ``min_pair_count`` (merging singletons only
    memorizes the corpus). Whitespace pre-tokenization via the shared
    ``tokenize`` (the engine's one tokenization definition).

    Distributed loop: each iteration explodes adjacent pairs of the
    (vocab-sized) words frame weighted by word count -> one
    map-side-combined aggregate -> TakeOrdered of the top
    ``batch_size + 1`` pairs (count desc, then (l, r) asc — the
    deterministic tie-break the pytest mirror pins) -> Column-fold
    rewrite of the symbol arrays for every applied merge.
    ``checkpoint_every`` merges bound the expression/lineage depth.

    The one-merge-per-iteration (sequential) trainer's cost at
    production vocab sizes is the iteration count: one aggregate + one
    collect per merge, ~32k round-trips for a GPT-2-sized vocabulary.
    Merges on pairwise-disjoint symbol sets commute with each other's
    counts, so each iteration applies the longest provably-safe prefix
    of the fetched ranking (:func:`_disjoint_prefix_batch`:
    pairwise-disjoint, no self-pairs, counts strictly above the first
    non-selected row) — BIT-IDENTICAL output to the sequential trainer
    (pytest-pinned against the pure-Python Sennrich mirror) with
    strictly fewer driver round-trips. Worst case (fully entangled
    ranking) the prefix is the argmax alone and the loop degrades to
    the sequential trainer.

    Honest sizing: the reduction is corpus-structural. Natural-language
    ranking heads entangle on shared letters (e·r / o·r / a·r chain on
    r), so the EXACT batch measures ~1.1-1.3× fewer round-trips on the
    test corpora — the win grows on flatter multi-script distributions
    and in the late-merge regime where winners are long rare symbols.
    Trainers that batch harder (applying entangled winners from stale
    counts) give up the deterministic merge sequence this engine pins
    against its reference mirror; this one never does.

    ``batch_size=1`` IS the sequential trainer (one extra fetched row,
    same argmax); with ``small_vocab_threshold=0`` it runs on every
    vocabulary size. A caller-provided ``stats`` dict receives
    ``round_trips`` (aggregate+collect iterations) and ``merges`` — the
    scale battery records both so the batching ratio is a measured
    number, not a claim.

    r16 fast path: after the (one, corpus-sized) collapse to the word
    table, a vocab within ``small_vocab_threshold`` rows is collected
    with ONE bounded LIMIT-k+1 probe and trained entirely on the driver
    (:func:`_train_bpe_local` — bit-identical, pinned against both the
    distributed loop and the pytest mirror). Every further Spark
    iteration on a small vocab was pure round-trip overhead: merge
    statistics depend only on the word table, which is vocab-sized by
    construction. Words containing non-BMP characters force the
    distributed path (Python code-point split/order could diverge from
    the JVM's UTF-16 behavior there); ``small_vocab_threshold=0``
    forces it too (the dawid_skene test idiom). ``stats`` records
    ``path`` ("local" or "distributed"); the local path's
    ``round_trips`` is 1 (the probe collect)."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    if min_pair_count < 1:
        raise ValueError(f"min_pair_count must be >= 1, got {min_pair_count}")
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    words = checkpoint_frame(_word_table(docs, text_col, max_vocab_words))
    if small_vocab_threshold > 0:
        head = bounded_collect(words.select("word", "cnt"), small_vocab_threshold)
        if head is not None and all(
            (not r["word"]) or max(r["word"]) <= "\uffff" for r in head
        ):
            merges = _train_bpe_local(
                [(r["word"], r["cnt"]) for r in head],
                n_merges,
                min_pair_count,
            )
            if stats is not None:
                stats["round_trips"] = 1
                stats["merges"] = len(merges)
                stats["path"] = "local"
            return merges
    merges: list[tuple[str, str]] = []
    since_checkpoint = 0
    round_trips = 0
    while len(merges) < n_merges:
        rows = (
            words.select(
                "cnt", F.explode(_adjacent_pairs(F.col("symbols"))).alias("pr")
            )
            .groupBy("pr.l", "pr.r")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), "l", "r")
            .limit(batch_size + 1)
            .collect()
        )
        round_trips += 1
        if not rows or rows[0]["n"] < min_pair_count:
            break
        batch = _disjoint_prefix_batch(rows, min_pair_count, batch_size + 1)[
            : n_merges - len(merges)
        ]
        for left, right in batch:
            merges.append((left, right))
            words = words.withColumn(
                "symbols", _apply_merge(F.col("symbols"), left, right)
            )
            since_checkpoint += 1
            if since_checkpoint >= checkpoint_every:
                words = checkpoint_frame(words)
                since_checkpoint = 0
    if stats is not None:
        stats["round_trips"] = round_trips
        stats["merges"] = len(merges)
        stats["path"] = "distributed"
    return merges


def bpe_merge_table(spark, merges: list[tuple[str, str]]) -> DataFrame:
    """The merge list as a DataFrame (rank, left, right) — the
    persistable/joinable form of the artifact. Arrow-backed
    (util.local_frame): the pickled-RDD path paid a Python worker per
    task on every scan of the tiny table."""
    from real_estate_bigdata_spark.util import local_frame

    return local_frame(
        spark,
        [(i, l, r) for i, (l, r) in enumerate(merges)],
        "rank int, left string, right string",
    )


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_every: int = 8,
) -> DataFrame:
    """Tokenize documents with a trained merge list: (``id_col``,
    bpe_tokens array<string>, n_bpe_tokens). NULL text -> NULL tokens
    and count (the engine-wide NULL-document contract); empty/blank
    text -> empty array.

    Merges apply in rank order to the DISTINCT words of the input (the
    vocab-sized frame — each merge is a map-only Column fold, lineage
    checkpointed every ``checkpoint_every``), then the word ->
    segmentation mapping joins back to the exploded documents and
    per-doc token streams reassemble in word order. Applying merges on
    distinct words instead of raw tokens is what makes encoding
    corpus-scale: the fold work is O(|vocab| * n_merges), not
    O(|corpus tokens| * n_merges).
    """
    base = docs.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("__toks")
    )
    words = (
        ensure_min_parallelism(base)
        .select(F.explode("__toks").alias("word"))
        .filter(F.length("word") > 0)
        .distinct()
        .withColumn("symbols", _initial_symbols(F.col("word")))
    )
    for i, (left, right) in enumerate(merges):
        words = words.withColumn(
            "symbols", _apply_merge(F.col("symbols"), left, right)
        )
        if (i + 1) % checkpoint_every == 0:
            words = checkpoint_frame(words)
    exploded = base.select(
        F.col(id_col), F.posexplode("__toks").alias("__pos", "word")
    ).filter(F.length("word") > 0)
    seg = exploded.join(words, "word").select(
        id_col, "__pos", "symbols"
    )
    per_doc = seg.groupBy(id_col).agg(
        F.flatten(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__pos", "symbols"))
                ),
                lambda s: s["symbols"],
            )
        ).alias("bpe_tokens")
    )
    # left join restores docs that produced no words (NULL/blank text)
    shell = docs.select(F.col(id_col), F.col(text_col).alias("__t"))
    # legacy size(NULL) = -1, so coalesce the array BEFORE sizing it
    filled = F.coalesce("bpe_tokens", F.array().cast("array<string>"))
    return (
        shell.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.when(F.col("__t").isNull(), F.lit(None).cast("array<string>"))
            .otherwise(filled)
            .alias("bpe_tokens"),
            F.when(F.col("__t").isNull(), F.lit(None).cast("bigint"))
            .otherwise(F.size(filled).cast("bigint"))
            .alias("n_bpe_tokens"),
        )
    )
