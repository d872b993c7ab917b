"""Distributed BPE training/encoding vs an independent pure-Python
Sennrich mirror: the merge SEQUENCE (with the deterministic count-desc,
pair-asc tie-break) must match exactly, and encoding must reproduce the
mirror's final word segmentations.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from real_estate_bigdata_spark.operators import bpe
from real_estate_bigdata_spark.schema import load_table


def _py_bpe(texts, n_merges, min_pair_count=2, max_vocab_words=None):
    """Reference Sennrich BPE: same whitespace pre-tokenization, same
    end-of-word convention, same greedy left-to-right merge scan, same
    tie-break."""
    wc = Counter(
        w for t in texts if t is not None for w in t.split() if w
    )
    if max_vocab_words is not None:
        kept = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))
        wc = Counter(dict(kept[:max_vocab_words]))
    vocab = {w: list(w[:-1]) + [w[-1] + bpe.END_OF_WORD] for w in wc}
    merges = []
    for _ in range(n_merges):
        pc = Counter()
        for w, c in wc.items():
            s = vocab[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += c
        if not pc:
            break
        (a, b), n = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if n < min_pair_count:
            break
        merges.append((a, b))
        for w, s in vocab.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


def _train_sequential(docs, **kw):
    """The one-merge-per-iteration distributed loop: batching off and
    the driver-local fast path off."""
    return bpe.train_bpe_batched(
        docs, batch_size=1, small_vocab_threshold=0, **kw
    )


CORPUS = [
    "low low low low low",
    "lower lower newer newer newer newer newer newer",
    "newest newest newest widest widest",
    None,
    "",
]


def test_merge_sequence_matches_reference_mirror(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )
    got = _train_sequential(df, n_merges=15)
    want, _ = _py_bpe(CORPUS, 15)
    assert got == want
    assert len(got) > 3  # the corpus genuinely supports merges


def test_merge_sequence_matches_on_real_testdata(spark):
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    texts = [r.text for r in docs.select("text").collect()]
    got = _train_sequential(docs, n_merges=30)
    want, _ = _py_bpe(texts, 30)
    assert got == want


def test_encode_reproduces_mirror_segmentations(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )
    merges = _train_sequential(df, n_merges=10)
    _, vocab = _py_bpe(CORPUS, 10)
    out = {r.doc_id: r for r in bpe.bpe_encode(df, merges).collect()}
    for i, t in enumerate(CORPUS):
        if t is None:
            assert out[i].bpe_tokens is None and out[i].n_bpe_tokens is None
        elif not t.strip():
            assert out[i].bpe_tokens == [] and out[i].n_bpe_tokens == 0
        else:
            want = [s for w in t.split() for s in vocab[w]]
            assert out[i].bpe_tokens == want, (i, out[i].bpe_tokens, want)
            assert out[i].n_bpe_tokens == len(want)


def test_overlapping_pair_merges_left_to_right(spark):
    # the final char carries </w>, so "aaaa" = [a, a, a, a</w>] and the
    # greedy non-overlapping (a,a) merge gives [aa, a, a</w>]; "aaa"
    # gives [aa, a</w>] — the mirror's scan order, pinned by hand here
    df = spark.createDataFrame(
        [(1, "aaaa aaaa aaa")], "doc_id long, text string"
    )
    merges = _train_sequential(df, n_merges=1, min_pair_count=1)
    assert merges == [("a", "a")]
    out = bpe.bpe_encode(df, merges).collect()[0]
    assert out.bpe_tokens == [
        "aa", "a", "a</w>", "aa", "a", "a</w>", "aa", "a</w>",
    ]


def test_early_stop_and_validation(spark):
    df = spark.createDataFrame(
        [(1, "x y z")], "doc_id long, text string"  # all pairs singleton
    )
    assert _train_sequential(df, n_merges=5, min_pair_count=2) == []
    with pytest.raises(ValueError):
        _train_sequential(df, n_merges=0)
    with pytest.raises(ValueError):
        _train_sequential(df, n_merges=1, min_pair_count=0)


def test_max_vocab_words_truncation_matches_mirror(spark):
    texts = ["aa aa aa bb bb cc", "dd dd dd dd ee"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = _train_sequential(df, n_merges=5, min_pair_count=1, max_vocab_words=3)
    want, _ = _py_bpe(texts, 5, min_pair_count=1, max_vocab_words=3)
    assert got == want


def test_merges_deterministic_under_repartition(spark):
    """The merge sequence must be a pure function of corpus CONTENT:
    the pair aggregate is exact and the argmax tie-break total, so no
    partitioning/row-order change may flip a merge."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )
    a = _train_sequential(df, n_merges=12)
    b = _train_sequential(df.repartition(13), n_merges=12)
    c = _train_sequential(df.coalesce(1), n_merges=12)
    assert a == b == c


class TestBatchedTrainer:
    """train_bpe_batched must be BIT-IDENTICAL to the sequential
    Sennrich mirror at every batch size — the batching is a round-trip
    optimization, never a semantics change."""

    def test_equals_sequential_on_corpus(self, spark):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
        )
        seq, _ = _py_bpe(CORPUS, 15)
        for bs in (1, 2, 4, 16):
            for th in (0, 65_536):  # distributed loop AND r16 local fast path
                got = bpe.train_bpe_batched(
                    df, n_merges=15, batch_size=bs, small_vocab_threshold=th
                )
                assert got == seq, (bs, th)

    def test_small_vocab_threshold_boundary(self, spark):
        """At ``small_vocab_threshold`` equal to the distinct-word count
        the vocab is trained on the driver; one below, it takes the
        distributed loop. Both give the mirror's merges."""
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
        )
        w = len({word for t in CORPUS if t for word in t.split()})
        want, _ = _py_bpe(CORPUS, 15)
        for th, path in ((w, "local"), (w - 1, "distributed")):
            stats = {}
            got = bpe.train_bpe_batched(
                df, n_merges=15, small_vocab_threshold=th, stats=stats
            )
            assert got == want, th
            assert stats["path"] == path, th

    def test_equals_mirror_on_real_testdata(self, spark):
        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        texts = [r.text for r in docs.select("text").collect()]
        want, _ = _py_bpe(texts, 30)
        for th, path in ((0, "distributed"), (65_536, "local")):
            stats = {}
            got = bpe.train_bpe_batched(
                docs, n_merges=30, batch_size=8,
                small_vocab_threshold=th, stats=stats,
            )
            assert got == want, th
            assert stats["path"] == path

    def test_entangled_rankings_fall_back_to_argmax(self, spark):
        """Single-letter runs entangle every top pair through shared
        symbols and self-pairs — the batch degrades to the argmax alone
        and the result still matches the mirror exactly."""
        texts = ["aaaa aaaa aaa ab ab ba", "abab abab baba"]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        want, _ = _py_bpe(texts, 12, min_pair_count=1)
        for th in (0, 65_536):
            got = bpe.train_bpe_batched(
                df, n_merges=12, min_pair_count=1, batch_size=8,
                small_vocab_threshold=th,
            )
            assert got == want, th

    def test_self_pair_feeds_itself(self, spark):
        """Regression pin for the self-pair batch-breaker: merging
        (a, a) creates (aa, aa) with count n/2 — which can outrank a
        disjoint pair that was tabulated ABOVE min but below n/2. A
        naive disjoint-prefix batch would apply the stale (c, d)
        second; sequential (and the mirror) picks (aa, aa) first."""
        texts = [" ".join(["aaaaaaaa"] * 40 + ["cd"] * 30)]
        df = spark.createDataFrame(
            [(0, texts[0])], "doc_id long, text string"
        )
        want, _ = _py_bpe(texts, 4, min_pair_count=1)
        for th in (0, 65_536):
            got = bpe.train_bpe_batched(
                df, n_merges=4, min_pair_count=1, batch_size=8,
                small_vocab_threshold=th,
            )
            assert got == want, th
        assert ("aa", "aa") in want  # scenario genuinely exercises it

    def test_boundary_tie_is_not_batched(self, spark):
        """Two disjoint pairs tied with a CONFLICTING pair's count: the
        tied selected pair must be truncated (sequential could prefer a
        newly created pair at equal count), yet the result still equals
        the mirror step for step."""
        # (a,b): 6, (c,d): 4, (b,x): 4 -> batch = [(a,b)] only
        texts = [" ".join(["ab"] * 6 + ["cd"] * 4 + ["bx"] * 4)]
        df = spark.createDataFrame(
            [(0, texts[0])], "doc_id long, text string"
        )
        want, _ = _py_bpe(texts, 6, min_pair_count=1)
        for th in (0, 65_536):
            got = bpe.train_bpe_batched(
                df, n_merges=6, min_pair_count=1, batch_size=8,
                small_vocab_threshold=th,
            )
            assert got == want, th

    def test_validation(self, spark):
        df = spark.createDataFrame([(1, "x y")], "doc_id long, text string")
        with pytest.raises(ValueError):
            bpe.train_bpe_batched(df, n_merges=1, batch_size=0)
        with pytest.raises(ValueError):
            bpe.train_bpe_batched(df, n_merges=0)
        assert bpe.train_bpe_batched(df, n_merges=3, min_pair_count=2) == []

    def test_batches_actually_batch(self, spark, monkeypatch):
        """The optimization claim itself: on a merge-friendly corpus the
        batched trainer takes strictly fewer aggregate round-trips than
        merges produced."""
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
        )
        calls = {"n": 0}
        orig = bpe._disjoint_prefix_batch

        def counting(rows, mpc, fl):
            calls["n"] += 1
            return orig(rows, mpc, fl)

        monkeypatch.setattr(bpe, "_disjoint_prefix_batch", counting)
        merges = bpe.train_bpe_batched(
            df, n_merges=15, batch_size=16, small_vocab_threshold=0
        )
        assert len(merges) >= 10
        # Strictly fewer round-trips than merges. The reduction is
        # corpus-structural: natural-language ranking heads entangle
        # on shared letters (e·r / o·r / a·r...), so the provably-exact
        # disjoint prefix is often short — measured ~1.1-1.3x on these
        # corpora, larger on flatter multi-script distributions. The
        # hard guarantee under test is EXACTNESS at any batching.
        assert calls["n"] < len(merges)


class TestDisjointPrefixProperty:
    """Hypothesis stress of the batch-safety proof, pure Python (no
    Spark): on random tiny-alphabet word tables — maximally entangled,
    tie-heavy — every merge the batch selects must equal the
    sequential argmax at its own step."""

    @staticmethod
    def _pair_counts(vocab, wc):
        pc = Counter()
        for w, c in wc.items():
            s = vocab[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += c
        return pc

    @staticmethod
    def _apply(vocab, a, b):
        for w, s in vocab.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            vocab[w] = out

    def test_every_batched_merge_is_the_sequential_argmax(self):
        import itertools

        from hypothesis import given, settings
        from hypothesis import strategies as st

        word = st.text(alphabet="ab", min_size=1, max_size=6)
        table = st.dictionaries(word, st.integers(1, 5), min_size=1, max_size=8)

        @settings(max_examples=300, deadline=None)
        @given(table, st.integers(1, 6))
        def run(wc, batch_size):
            vocab = {
                w: list(w[:-1]) + [w[-1] + bpe.END_OF_WORD] for w in wc
            }
            for _ in range(4):  # several batch rounds per example
                pc = self._pair_counts(vocab, wc)
                if not pc:
                    break
                ranked = sorted(
                    pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
                )
                rows = [
                    {"l": a, "r": b, "n": n}
                    for (a, b), n in ranked[: batch_size + 1]
                ]
                batch = bpe._disjoint_prefix_batch(
                    rows, min_pair_count=1, fetch_limit=batch_size + 1
                )
                assert batch, "argmax fallback must guarantee progress"
                for left, right in batch:
                    cur = self._pair_counts(vocab, wc)
                    (ea, eb), _ = min(
                        cur.items(),
                        key=lambda kv: (-kv[1], kv[0][0], kv[0][1]),
                    )
                    assert (left, right) == (ea, eb), (
                        left, right, ea, eb, dict(wc),
                    )
                    self._apply(vocab, left, right)

        run()
