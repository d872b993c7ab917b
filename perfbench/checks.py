"""Result checks, made outside the timed regions.

- Registry queries are compared with their ``oracle_sql()`` DuckDB twin
  over the same generated parquet files, with the canonicalization of
  ``tests/test_queries.py``: sorted rows, floats at 6 decimals.
- Queries without an oracle get a schema check and a check of the row
  count and keys their arguments fix.
- The speed layer's lake is compared with :func:`normalize_record`, a
  pure-Python mirror of ``functions.normalize.normalize_listings``
  applied to the generated records. ``post_date`` and ``ingest_date``
  derive from ``current_date`` and are left out.
"""

from __future__ import annotations

import datetime
import math
import re
from collections import Counter

#: output schema pins for the registry queries that have no oracle
ROWS_ONLY = {
    "q_bpe_merges": [("rank", "int"), ("left", "string"), ("right", "string")],
    "q_embed_ivfpq_topk": [("query_id", "bigint"), ("neighbor_id", "bigint"),
                           ("cosine", "double"), ("rn", "int")],
}
#: q_bpe_merges learns n_merges=12 merges, ranked from 0
BPE_MERGES = 12
#: q_embed_ivfpq_topk searches for vec_id < 5 with k=10
TOPK_QUERIES, TOPK_K = 5, 10


def _canon_cell(v):
    import numpy as np
    import pandas as pd

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return ("none",)
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, float, np.integer, np.floating)):
        return ("n", round(float(v), 6))
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date, np.datetime64)):
        return ("t", pd.Timestamp(v).isoformat())
    return ("s", str(v))


def canon_rows(pdf) -> list[tuple]:
    import pandas as pd

    cols = sorted(pdf.columns)
    pdf = pdf[cols].astype(object).where(pd.notnull(pdf[cols]), None)
    return sorted(tuple(_canon_cell(v) for v in row) for row in pdf.itertuples(index=False))


def compare_to_oracle(spark_pdf, oracle_pdf) -> str | None:
    """None when equal, else a one-line reason."""
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
    if len(spark_pdf) != len(oracle_pdf):
        return f"rows {len(spark_pdf)} != {len(oracle_pdf)}"
    bad = sum(a != b for a, b in zip(canon_rows(spark_pdf), canon_rows(oracle_pdf)))
    return f"{bad} rows differ" if bad else None


def check_rows_only(name: str, df, pdf) -> str | None:
    """None when ``pdf`` (the rows of ``df``) has the pinned schema and
    the exact shape the query's arguments fix, else a one-line reason."""
    want = ROWS_ONLY[name]
    got = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    if got != want:
        return f"schema {got} != {want}"
    if name == "q_bpe_merges":
        if sorted(pdf["rank"]) != list(range(BPE_MERGES)):
            return f"ranks {sorted(pdf['rank'])} != 0..{BPE_MERGES - 1}"
        return None
    if len(pdf) != TOPK_QUERIES * TOPK_K:
        return f"rows {len(pdf)} != {TOPK_QUERIES * TOPK_K}"
    for qid, group in pdf.sort_values(["query_id", "rn"]).groupby("query_id"):
        if list(group["rn"]) != list(range(1, TOPK_K + 1)):
            return f"query {qid}: rn {list(group['rn'])} != 1..{TOPK_K}"
        if group["neighbor_id"].nunique() != TOPK_K:
            return f"query {qid}: repeated neighbours"
        if not group["cosine"].is_monotonic_decreasing:
            return f"query {qid}: cosine does not fall with rn"
    if sorted(pdf["query_id"].unique()) != list(range(TOPK_QUERIES)):
        return f"query ids {sorted(pdf['query_id'].unique())} != 0..{TOPK_QUERIES - 1}"
    return None


def oracle_connection(tables_dir: str, table_names):
    """A DuckDB connection with each generated table as a view."""
    import duckdb

    con = duckdb.connect()
    for name in table_names:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/{name}.parquet')")
    return con


# --------------------------------------------------------------------------
# Listing normalization mirror
# --------------------------------------------------------------------------

#: lake columns compared with the mirror, in mirror tuple order
LAKE_COLUMNS = (
    "duong_pho", "phuong_xa", "quan_huyen", "thanh_pho", "loai_bds", "area",
    "chieu_ngang", "chieu_dai", "duong_truoc_nha", "so_tang", "so_phong_ngu",
    "cho_de_xe", "price_ty", "price_status", "source",
)

_TY = re.compile(r"([\d.,]+)\s*tỷ", re.ASCII)
_TRIEU = re.compile(r"([\d.,]+)\s*triệu", re.ASCII)
_AREA = re.compile(r"([\d.,]+)\s*m", re.ASCII)
_INT = re.compile(r"[+-]?\d+", re.ASCII)


def _trim(s):
    return None if s is None else s.strip(" ")


def _sub(s, pattern):
    return None if s is None else re.sub(pattern, "", s)


def _to_double(s):
    if s is None:
        return None
    try:
        return float(s.replace(",", ".").strip(" "))
    except ValueError:
        return None


def _to_int(s):
    s = _trim(s)
    return int(s) if s is not None and _INT.fullmatch(s) else None


def _extract(pattern, s):
    if s is None:
        return None
    m = pattern.search(s)
    return m.group(1) if m else ""


def _price(raw):
    """(price_ty, price_status) as functions.normalize.parse_price and
    price_status compute them."""
    low = None if raw is None else _trim(raw).lower()
    if low is None:
        return None, "unknown"
    if "thỏa thuận" in low:
        return None, "negotiable"
    ty, trieu = _extract(_TY, low), _extract(_TRIEU, low)
    if ty:
        v = _to_double(ty)
        return v, "listed" if v is not None else (
            "listed" if trieu and _to_double(trieu) is not None else "unknown")
    if trieu:
        v = _to_double(trieu)
        return (None, "unknown") if v is None else (v / 1000, "listed")
    return None, "unknown"


def _dims(raw):
    if raw is None:
        return None, None
    cleaned = _trim(raw).replace("Kích thước: ", "").replace("m", "")
    parts = cleaned.split("x")
    if cleaned == "---" or len(parts) < 2:
        return None, None
    return _to_double(_trim(parts[0])), _to_double(_trim(parts[1]))


def normalize_record(rec) -> tuple:
    """One raw record (``RAW_LISTING_SCHEMA`` order, or None for an
    envelope that does not decode) -> its lake row in LAKE_COLUMNS order."""
    (_, street, ward, district, city, kind, raw_price, raw_area, raw_dims,
     road, floors, rooms, parking, source, _, _) = rec or (None,) * 16
    area = _extract(_AREA, _trim(raw_area))
    width, depth = _dims(raw_dims)
    price, status = _price(raw_price)
    return (
        _sub(street, "Đường |Phố "),
        _sub(ward, "Phường |Xã "),
        _trim(_sub(district, "Quận |Huyện ")),
        city,
        kind,
        _to_double(area) if area else None,
        width,
        depth,
        _to_double(_trim(_sub(road, "m"))),
        _to_int(_sub(floors, " lầu")),
        _to_int(_sub(rooms, " phòng ngủ")),
        _trim(parking) == "Có",
        price,
        status,
        source,
    )


def _canon_lake_row(row) -> tuple:
    return tuple(round(v, 6) if isinstance(v, float) else v for v in row)


def lake_mismatch(lake_rows, records) -> str | None:
    """Compare lake rows (tuples in LAKE_COLUMNS order) with the mirror of
    ``records`` as multisets."""
    got = Counter(_canon_lake_row(r) for r in lake_rows)
    want = Counter(_canon_lake_row(normalize_record(r)) for r in records)
    if got == want:
        return None
    missing, extra = want - got, got - want
    return (f"{sum(missing.values())} rows missing, {sum(extra.values())} extra; "
            f"e.g. missing {next(iter(missing), None)} extra {next(iter(extra), None)}")


def district_counts(records) -> dict[str, int]:
    """The mirror of ``count_by_key(lake, 'quan_huyen')``."""
    out: Counter = Counter()
    for r in records:
        d = normalize_record(r)[2]
        if d:
            out[d] += 1
    return dict(out)
