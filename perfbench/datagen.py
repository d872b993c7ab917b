"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from ``--seed``:

- :func:`write_tables` writes the analytical tables the curation queries
  read (``documents``, ``embeddings``), with the schemas and value shapes
  the registry queries expect, as one parquet file each.
- :func:`listing_records` makes raw crawler records (``RAW_LISTING_SCHEMA``
  field order) for the speed layer: Vietnamese diacritics in every string
  field, about 30 districts with Zipf-like skew, and the edge-case value
  shapes of FIXTURES.md section 5.
- :func:`malformed_values` makes the envelope values that are not JSON
  records.

Same seed, same bytes; nothing here touches Spark.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("documents", "embeddings")

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _documents(rng, n: int) -> pa.Table:
    """Random texts over a 30-word vocabulary; about 5% are copies of an
    earlier document with ``dup`` appended, so the near-duplicate
    operators find real pairs."""
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": [_LANGS[j] for j in rng.choice(len(_LANGS), n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim).cast(
        pa.list_(pa.float32())
    )
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb,
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def _sizes(sf: float) -> dict[str, int]:
    """Row counts at scale factor ``sf``, with floors that keep tiny
    scale factors meaningful."""
    return {
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


_MAKERS = {"documents": _documents, "embeddings": _embeddings}


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The analytical tables at scale factor ``sf``, each from its own
    random stream."""
    n = _sizes(sf)
    return {
        name: _MAKERS[name](np.random.default_rng([seed, k]), n[name])
        for k, name in enumerate(TABLES)
    }


def write_tables(out_dir: str, sf: float, seed: int) -> str:
    """Write :func:`make_tables` as ``<out_dir>/<table>.parquet``; returns
    ``out_dir`` (the ``sf`` argument the registry queries take)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# --------------------------------------------------------------------------
# Raw listings for the speed layer
# --------------------------------------------------------------------------

#: (prefixed raw district, city); Zipf weights follow list order
_DISTRICTS = [
    ("Quận Cầu Giấy", "Hà Nội"), ("Quận Đống Đa", "Hà Nội"),
    ("Quận 1", "Hồ Chí Minh"), ("Quận Thanh Xuân", "Hà Nội"),
    ("Quận Bình Thạnh", "Hồ Chí Minh"), ("Huyện Thanh Trì", "Hà Nội"),
    ("Quận Hoàng Mai", "Hà Nội"), ("Quận Gò Vấp", "Hồ Chí Minh"),
    ("Quận Hải Châu", "Đà Nẵng"), ("Quận Hà Đông", "Hà Nội"),
    ("Quận Tân Bình", "Hồ Chí Minh"), ("Quận Ba Đình", "Hà Nội"),
    ("Quận Sơn Trà", "Đà Nẵng"), ("Huyện Gia Lâm", "Hà Nội"),
    ("Quận Phú Nhuận", "Hồ Chí Minh"), ("Quận Long Biên", "Hà Nội"),
    ("Huyện Bình Chánh", "Hồ Chí Minh"), ("Quận Hoàn Kiếm", "Hà Nội"),
    ("Quận Thủ Đức", "Hồ Chí Minh"), ("Huyện Đông Anh", "Hà Nội"),
    ("Quận Ngũ Hành Sơn", "Đà Nẵng"), ("Quận Tây Hồ", "Hà Nội"),
    ("Huyện Hóc Môn", "Hồ Chí Minh"), ("Quận Liên Chiểu", "Đà Nẵng"),
    ("Quận Bắc Từ Liêm", "Hà Nội"), ("Huyện Nhà Bè", "Hồ Chí Minh"),
    ("Quận Cẩm Lệ", "Đà Nẵng"), ("Huyện Sóc Sơn", "Hà Nội"),
    ("Quận Bình Tân", "Hồ Chí Minh"), ("Huyện Hòa Vang", "Đà Nẵng"),
]
_ZIPF = [1.0 / (k + 1) ** 1.1 for k in range(len(_DISTRICTS))]
_STREETS = ["Đường Láng", "Phố Huế", "Nguyễn Trãi", "Đường Lê Lợi", "Trần Phú",
            "Phố Hàng Bạc", "Đường Võ Văn Kiệt", "Lý Thường Kiệt"]
_WARDS = ["Phường Láng Thượng", "Xã Tân Triều", "Thanh Xuân Trung", "Bến Nghé",
          "Phường 5", "Phường Dịch Vọng", "Xã Phước Kiển", "Phường Hòa Cường"]
_KINDS = ["Nhà đất", "Căn hộ chung cư", "Đất nền", "Nhà mặt phố", "Biệt thự"]
_SOURCES = ["alonhadat", "batdongsan", "nhàtốt", "muabán"]
#: FIXTURES.md section 5 shapes, plus generated well-formed values
_DATES = ["hôm nay", "Hôm Qua ", "24/04/2025", "n/a", "", "ngày mai"]
_PRICES = ["giá 1,5 tỷ", "800 triệu", "Thỏa thuận", "", "call me", "12.3 tỷ",
           "Giá: 950 triệu", "thỏa thuận với chủ", "3,25 Tỷ"]
_AREAS = ["45,5 m2", "100 m", "abc", "", "khoảng 60 m²", "72m2"]
_DIMS = ["Kích thước: 4,5x20m", "---", "Kích thước: 5 x 18,5m", "", "4x15m",
         "Kích thước: rộng"]
_ROADS = ["5m", None, "12m", "3,5m", "hẻm"]
_FLOORS = ["3 lầu", "1 lầu", "10 lầu", None, "nhiều lầu"]
_ROOMS = ["4 phòng ngủ", "2 phòng ngủ", None, "phòng ngủ"]
_TITLES = [None, None, "Bán nhà chính chủ", "Cần bán gấp căn hộ"]


def listing_records(n: int, seed: int, stream: int = 0) -> list[tuple]:
    """``n`` raw listing records in ``RAW_LISTING_SCHEMA`` field order.
    ``stream`` separates independent record sets from one seed."""
    r = random.Random(f"{seed}:{stream}")
    out = []
    for i in range(n):
        district, city = r.choices(_DISTRICTS, _ZIPF)[0]
        roll = r.random()
        if roll < 0.02:
            district = None
        elif roll < 0.04:
            district = "  "
        elif roll < 0.08:
            district = f" {district} "
        day = r.choice(_DATES) if r.random() < 0.5 else (
            f"{r.randint(1, 28):02d}/{r.randint(1, 12):02d}/{r.randint(2019, 2025)}"
        )
        price = r.choice(_PRICES) if r.random() < 0.5 else (
            f"{r.randint(1, 40)},{r.randint(0, 9)} tỷ"
        )
        title = r.choice(_TITLES)
        out.append((
            day,
            r.choice(_STREETS),
            r.choice(_WARDS),
            district,
            city,
            r.choice(_KINDS),
            price,
            r.choice(_AREAS),
            r.choice(_DIMS),
            r.choice(_ROADS),
            r.choice(_FLOORS),
            r.choice(_ROOMS),
            r.choice(["Có", None]),
            r.choice(_SOURCES),
            f"https://alonhadat.com.vn/nhà-{seed}-{stream}-{i}" if r.random() < 0.3 else None,
            f"{title} số {i}" if title else None,
        ))
    return out


def malformed_values(n: int, seed: int) -> list[bytes]:
    """Envelope values that do not decode to a record: truncated JSON,
    plain text and empty payloads."""
    r = random.Random(f"{seed}:malformed")
    shapes = [
        lambda i: '{"raw_post_date": "hôm nay", "quan_huyen": "Quận'.encode(),
        lambda i: f"không phải json {i}".encode(),
        lambda i: b"",
        lambda i: f'{{"quan_huyen": "Quận 1", "so_tang": "{i} lầu"'.encode(),
    ]
    return [r.choice(shapes)(i) for i in range(n)]
