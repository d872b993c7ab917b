"""The benchmark's own tests: input generation, the percentile rule, the
declared metric names, the listing normalization mirror, state hygiene,
and a tiny end-to-end smoke run of both declared workloads.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import inspect
import json
import os
import shutil
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import checks, datagen, run, workloads  # noqa: E402
from perfbench.trace import percentile  # noqa: E402

DECLARED = json.loads((ROOT / "BENCHMARK.json").read_text())


# -- generators -------------------------------------------------------------


def test_tables_deterministic_per_seed():
    a, b = datagen.make_tables(0.001, 7), datagen.make_tables(0.001, 7)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    c = datagen.make_tables(0.001, 8)
    assert all(not a[t].equals(c[t]) for t in datagen.TABLES)


def test_listings_deterministic_per_seed():
    assert datagen.listing_records(500, 1) == datagen.listing_records(500, 1)
    assert datagen.listing_records(500, 1) != datagen.listing_records(500, 2)
    assert datagen.listing_records(500, 1, 1) != datagen.listing_records(500, 1, 2)
    assert datagen.malformed_values(50, 1) == datagen.malformed_values(50, 1)


def test_listings_shape():
    recs = datagen.listing_records(5000, 4)
    assert all(len(r) == 16 for r in recs)
    districts = {checks.normalize_record(r)[2] for r in recs} - {None, ""}
    assert 25 <= len(districts) <= 30
    for i in range(16):
        # every string field carries Vietnamese diacritics somewhere
        assert any(r[i] and any(ord(ch) > 127 for ch in r[i]) for r in recs), i


def test_query_order_per_seed():
    names = workloads.CURATION
    assert workloads.pass_order(names, 1, 0) == workloads.pass_order(names, 1, 0)
    assert workloads.pass_order(names, 1, 0) != workloads.pass_order(names, 2, 0)
    assert sorted(workloads.pass_order(names, 1, 3)) == sorted(names)


# -- percentile rule --------------------------------------------------------


def test_p90_needs_ten_samples_beyond():
    assert percentile(range(99), 0.9) is None
    assert percentile(range(100), 0.9) == 89
    assert percentile(range(10), 0.5) is None
    assert percentile(range(20), 0.5) == 9
    assert percentile([], 0.5) is None


# -- declared metrics -------------------------------------------------------


def test_declared_metric_names_and_units():
    e2e = {m["name"]: m["unit"] for m in DECLARED["end_to_end"]}
    assert e2e == run.UNITS
    layers = [m["name"] for m in DECLARED["per_layer"]]
    assert layers == list(workloads.LAYER_METRICS)
    assert all(m["unit"] == run._layer_unit(m["name"]) for m in DECLARED["per_layer"])
    declared_workloads = {w["name"] for w in DECLARED["workloads"]}
    assert declared_workloads == set(workloads.WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in DECLARED["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


# -- normalization mirror (FIXTURES.md section 5) ---------------------------


def _raw(**fields) -> tuple:
    from real_estate_bigdata_spark.schema import RAW_LISTING_SCHEMA

    rec = dict.fromkeys((f.name for f in RAW_LISTING_SCHEMA.fields), None)
    rec.update(fields)
    return tuple(rec.values())


def _norm(**fields) -> dict:
    return dict(zip(checks.LAKE_COLUMNS, checks.normalize_record(_raw(**fields))))


def test_mirror_fixture_vectors():
    assert _norm(raw_price="giá 1,5 tỷ")["price_ty"] == 1.5
    assert _norm(raw_price="giá 1,5 tỷ")["price_status"] == "listed"
    assert _norm(raw_price="800 triệu")["price_ty"] == 0.8
    assert _norm(raw_price="Thỏa thuận")["price_status"] == "negotiable"
    assert _norm(raw_price="")["price_status"] == "unknown"
    assert _norm(raw_area="45,5 m2")["area"] == 45.5
    n = _norm(raw_kich_thuoc="Kích thước: 4,5x20m")
    assert (n["chieu_ngang"], n["chieu_dai"]) == (4.5, 20.0)
    n = _norm(raw_kich_thuoc="---")
    assert (n["chieu_ngang"], n["chieu_dai"]) == (None, None)
    n = _norm(so_tang="3 lầu", so_phong_ngu="4 phòng ngủ", duong_truoc_nha="5m")
    assert (n["so_tang"], n["so_phong_ngu"], n["duong_truoc_nha"]) == (3, 4, 5.0)
    assert _norm(quan_huyen=" Quận Gò Vấp ")["quan_huyen"] == "Gò Vấp"
    assert _norm(duong_pho="Đường Láng")["duong_pho"] == "Láng"
    assert _norm(cho_de_xe="Có")["cho_de_xe"] is True
    # a malformed envelope decodes to an all-null record
    assert _norm()["price_status"] == "unknown" and checks.normalize_record(None) == \
        checks.normalize_record(_raw())
    records = [None, _raw(quan_huyen="  "), _raw(quan_huyen="Huyện Gia Lâm")]
    assert checks.district_counts(records) == {"Gia Lâm": 1}


# -- rows-only checks -------------------------------------------------------


def _topk_rows(k=checks.TOPK_K):
    import pandas as pd

    return pd.DataFrame(
        [(q, 100 + 10 * q + r, 1.0 - r / 100, r) for q in range(checks.TOPK_QUERIES)
         for r in range(1, k + 1)],
        columns=["query_id", "neighbor_id", "cosine", "rn"])


class _Frame:
    """Stands in for a DataFrame: the checks read only its schema."""

    def __init__(self, name):
        from pyspark.sql import types as T

        kinds = {"int": T.IntegerType(), "bigint": T.LongType(),
                 "double": T.DoubleType(), "string": T.StringType()}
        self.schema = T.StructType(
            [T.StructField(c, kinds[t]) for c, t in checks.ROWS_ONLY[name]])


def test_rows_only_checks_pin_the_shape():
    import pandas as pd

    topk, bpe = _Frame("q_embed_ivfpq_topk"), _Frame("q_bpe_merges")
    assert checks.check_rows_only("q_embed_ivfpq_topk", topk, _topk_rows()) is None
    # three neighbours per query instead of ten
    assert "rows" in checks.check_rows_only("q_embed_ivfpq_topk", topk, _topk_rows(3))
    # right count, but one query's ranks are wrong
    bad = _topk_rows()
    bad.loc[0, "rn"] = 2
    assert "rn" in checks.check_rows_only("q_embed_ivfpq_topk", topk, bad)
    merges = pd.DataFrame({"rank": range(checks.BPE_MERGES), "left": "a", "right": "b"})
    assert checks.check_rows_only("q_bpe_merges", bpe, merges) is None
    assert "ranks" in checks.check_rows_only("q_bpe_merges", bpe, merges.iloc[:-1])
    assert "schema" in checks.check_rows_only("q_bpe_merges", topk, merges)


# -- state hygiene ----------------------------------------------------------


def test_chosen_queries_use_no_shared_cache():
    import __spark_entry__ as entry

    queries = entry.queries()
    for name in workloads.CURATION:
        src = inspect.getsource(queries[name])
        assert "spark_graft_" not in src and "/tmp" not in src, name


def _tmp_spark_entries() -> set[str]:
    return {p for p in os.listdir("/tmp")
            if p.startswith(("spark_graft_", "spark-", "blockmgr-"))}


def _checkout_files() -> set[str]:
    skip = {"out", "__pycache__", ".pytest_cache", ".git", ".hypothesis"}
    out = set()
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = [d for d in dirnames if d not in skip]
        out.update(os.path.join(dirpath, f) for f in filenames)
    return out


@pytest.fixture(scope="module")
def smoke():
    """A tiny configuration of both declared workloads, traced, in one
    JVM; yields their outcomes and what each left behind."""
    run_dir = run.OUT / f"test-{os.getpid()}"
    saved = {k: os.environ.get(k) for k in ("PYTHONPATH", "TMPDIR", "SPARK_LOCAL_DIRS")}
    tmp_before, files_before = _tmp_spark_entries(), _checkout_files()
    run.prepare(run_dir)
    session = workloads.Session(str(run_dir))
    small = dict(seed=5, trace=True, run_dir=str(run_dir), setups=1)
    try:
        outcomes = {
            "curation": workloads.WORKLOADS["curation"](
                workloads.Config(seconds=0, sf=0.001, **small),
                session),
            "listing_lambda": workloads.WORKLOADS["listing_lambda"](
                workloads.Config(seconds=1, backfill_rows=2000,
                                 backfill_files=2, live_rows_per_file=50,
                                 warm_cycles=0, cycles=1,
                                 warm_live_files=1, **small),
                session),
        }
    finally:
        session.close()
        shutil.rmtree(run_dir, ignore_errors=True)
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
    yield outcomes, _tmp_spark_entries() - tmp_before, _checkout_files() - files_before


@pytest.mark.parametrize("workload", ["curation", "listing_lambda"])
def test_smoke_run_is_correct(smoke, workload):
    out = smoke[0][workload]
    assert out.problems == []
    assert out.failed == 0 and out.attempted > 0
    assert set(out.metrics) == {m["name"] for m in DECLARED["end_to_end"]}
    assert all(v > 0 for v in out.metrics.values())
    assert list(out.layers) == list(workloads.LAYER_METRICS)
    assert out.layers["exec.jobs"] > 0 and out.layers["output.rows"] > 0


def test_smoke_lambda_records_stream_layers(smoke):
    layers = smoke[0]["listing_lambda"].record["lambda_layers"]
    assert layers["stream.batches"] > 0 and layers["lake.files"] > 0
    assert layers["view.action_s"] > 0


def test_smoke_run_stays_inside_its_root(smoke):
    _, new_tmp, new_files = smoke
    assert new_tmp == set()
    assert new_files == set()
