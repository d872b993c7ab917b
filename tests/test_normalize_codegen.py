"""Generated-code guard and parity tests for the normalize projection.

``normalize_listings`` is one fused whole-stage-codegen projection, so its
per-row work is one generated Java method. HotSpot refuses to JIT-compile
a method over 8,000 bytes of bytecode; above that, every listing row runs
in the bytecode interpreter. These tests pin the speed-layer projection
under that limit, and pin the cheaper expressions that keep it there
(``F.replace`` for literal patterns, a grammar guard in front of the int
cast) to the regex and bare-cast forms they replaced. As in
``test_normalize_properties.py``, each Hypothesis batch is one Spark job.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from real_estate_bigdata_spark.functions import normalize as N
from real_estate_bigdata_spark.plans import (
    HOTSPOT_HUGE_METHOD_BYTES,
    max_method_bytes,
    plan_stats,
)
from real_estate_bigdata_spark.schema import RAW_LISTING_SCHEMA
from real_estate_bigdata_spark.sources.kafka import decode_kafka_records
from real_estate_bigdata_spark.streaming import speed_layer as sl
from tests.test_streaming_lake import _mk

_BATCH = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@pytest.fixture(scope="module")
def speed_layer_projection(spark, tmp_path_factory):
    """decode -> normalize over a batch read of Kafka envelopes: the
    projection ``run_speed_layer`` runs for each micro-batch."""
    rows = [_mk({"quan_huyen": f"Quận {i}"}) for i in range(3)]
    raw = spark.createDataFrame(
        [tuple(r[f.name] for f in RAW_LISTING_SCHEMA.fields) for r in rows],
        RAW_LISTING_SCHEMA,
    )
    path = str(tmp_path_factory.mktemp("codegen") / "envelopes")
    sl.write_kafka_envelopes(raw, path)
    envelopes = spark.read.schema(sl.ENVELOPE_SCHEMA).parquet(path)
    return N.normalize_listings(decode_kafka_records(envelopes).drop("kafka_ts"))


def test_speed_layer_projection_fits_hotspot_jit_limit(speed_layer_projection):
    # 8,000 bytes is HotSpot's DontCompileHugeMethods limit, not a Spark
    # setting (Spark's spark.sql.codegen.hugeMethodLimit is 65535 and
    # keeps the stage fused either way). Over it, the method runs
    # interpreted for every row.
    assert HOTSPOT_HUGE_METHOD_BYTES == 8000
    size = max_method_bytes(speed_layer_projection)
    assert 0 < size < HOTSPOT_HUGE_METHOD_BYTES, size


def test_max_method_bytes_sees_an_oversized_projection(spark):
    # 90 CASE columns: under spark.sql.codegen.maxFields (100), so the
    # stage stays code-generated, and its one method is ~13 kB
    id_ = F.col("id")
    wide = spark.range(4).select(
        *[
            F.when(id_ > i, id_ * i).when(id_ < i, id_ - i).otherwise(id_ + i).alias(f"c{i}")
            for i in range(90)
        ]
    )
    assert max_method_bytes(wide) > HOTSPOT_HUGE_METHOD_BYTES


def test_codegen_spans_counts_starred_stages(speed_layer_projection):
    # *(1) ColumnarToRow over the scan; *(2) the normalize Project
    # (from_json sits between them, outside codegen). No exchange, so
    # AQE does not wrap this plan and the markers are in executedPlan.
    assert plan_stats(speed_layer_projection).codegen_spans == 2


# -- F.replace == regexp_replace for every literal the module rewrote ------

#: (module helper, literal, the regexp_replace it replaced)
_LITERAL_REWRITES = [
    (N._comma_to_dot, ",", lambda c: F.regexp_replace(c, ",", ".")),
    *[
        (lambda c, lit=lit: N._remove(c, lit), lit,
         lambda c, lit=lit: F.regexp_replace(c, lit, ""))
        for lit in ("Kích thước: ", "m", " lầu", " phòng ngủ")
    ],
]

_pieces = st.sampled_from(
    [lit for _, lit, _ in _LITERAL_REWRITES]
    + ["Kích", "thước", ": ", " l", "lầ", "ầu", "phòng", " ngủ", "mm", ",,",
       "ố", "Đường ", " ", "m2", "x"]
    + ["\u1ea7", "a\u0302\u0300"]  # "ầ" precomposed and decomposed
)
_texts = st.one_of(
    st.none(),
    st.lists(st.one_of(_pieces, st.text(max_size=4)), max_size=10).map("".join),
)


@_BATCH
@given(st.lists(_texts, min_size=1, max_size=20))
def test_literal_replace_matches_regexp_replace(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    cols = []
    for i, (new, _, old) in enumerate(_LITERAL_REWRITES):
        cols += [new(F.col("s")).alias(f"new{i}"), old(F.col("s")).alias(f"old{i}")]
    out = df.select("s", *cols).collect()
    for r in out:
        for i, (_, lit, _) in enumerate(_LITERAL_REWRITES):
            assert r[f"new{i}"] == r[f"old{i}"], (r.s, lit)
            # and the reference's str.replace
            want = None if r.s is None else r.s.replace(lit, "." if lit == "," else "")
            assert r[f"new{i}"] == want, (r.s, lit)


# -- the int guard == bare try_cast("int") ---------------------------------

_EDGES = ["\t", "\n", "\r", "\x00", "\x1f", "\x7f", "\xa0"]
_INT_TABLE = (
    [e + "5" for e in _EDGES]
    + ["5" + e for e in _EDGES]
    + ["+5", "-0", "007"]
    + [str(v) for b in (2**31, -(2**31)) for v in (b - 1, b, b + 1)]
    + ["5.", "5.0", ".5", "1e3", "0x10", "--5", "+-5", "", " ", "+", "-", "٣"]
    + [None, "+\x00", "-\x005", "5 ", "5\x85", " 5 ", "\x7f"]
)


def _guard_vs_cast(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    return df.select(
        "s",
        N._try_cast_int(F.col("s")).alias("guarded"),
        F.col("s").try_cast("int").alias("bare"),
    ).collect()


def test_int_guard_matches_try_cast_table(spark):
    out = _guard_vs_cast(spark, _INT_TABLE)
    assert len(out) == len(_INT_TABLE)
    for r in out:
        assert r.guarded == r.bare, repr(r.s)
    got = {r.s: r.guarded for r in out}
    # the cast trims DEL (an ISO control byte) but not NBSP
    assert got["5\x7f"] == 5 and got["\xa05"] is None
    assert got[str(2**31 - 1)] == 2**31 - 1 and got[str(2**31)] is None
    assert got["5."] is None and got["-0"] == 0


@_BATCH
@given(st.lists(st.text(alphabet="0123456789+-.e x\t\n\r\x00\x1f\x7f\xa0٣", max_size=12),
                min_size=1, max_size=30))
def test_int_guard_matches_try_cast_fuzz(spark, values):
    for r in _guard_vs_cast(spark, values):
        assert r.guarded == r.bare, repr(r.s)
