"""Listing normalization — the reference's scalar parse cluster as Spark
Column expressions (SURVEY.md §2.8, F1–F14).

Every function here is a pure ``Column -> Column`` transform: no UDFs, no
Python in the hot path. Catalyst folds these into whole-stage codegen, so
the entire normalization layer is a single projection over the raw scan —
the shape that survives a 100 TB input.

That projection compiles to ONE generated Java method per row, and HotSpot
never JIT-compiles a method over 8,000 bytes of bytecode (its
``DontCompileHugeMethods`` flag, on by default). Spark's own
``spark.sql.codegen.hugeMethodLimit`` is 65535, so Spark keeps such a
method fused, and over 8,000 bytes every listing row runs in the bytecode
interpreter. Two rules keep the method under the limit and cheap per row:

- a plain literal pattern uses ``F.replace`` (byte-wise on UTF-8, the
  reference's ``str.replace``), never ``regexp_replace``, which converts
  each value to a Java ``String`` and back and runs the regex engine;
  only the prefix alternations in :func:`strip_admin_prefix` stay regexes;
- :func:`strip_suffix_to_int` guards ``try_cast(... as int)`` with the
  grammar the cast accepts, so non-numeric values skip the exception the
  cast builds and formats for each of them.

``tests/test_normalize_codegen.py`` pins the speed-layer projection's
largest method under 8,000 bytes (``plans.max_method_bytes``) and the
rewritten expressions' parity with the regex and bare-cast forms.

Reference semantics being reproduced (file:line cites into
``/root/reference/``):

- F1 date resolve     crawler/alonhadat.py:18-29
- F2/F3 address split + prefix strip   crawler/alonhadat.py:108-123
- F4 price normalize  crawler/alonhadat.py:125-137
- F5 area extract     crawler/alonhadat.py:139-144
- F6 dimension parse  crawler/alonhadat.py:146-157
- F7 suffix strip     crawler/alonhadat.py:158-171
- F8 existence flag   crawler/alonhadat.py:172-176
- trim-superset filter semantics       mapper.py:21-24 vs count_by_district.py:27
  (the two reference batch impls disagree; we standardize on trim — SURVEY §7.4)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "parse_post_date",
    "strip_admin_prefix",
    "split_address",
    "parse_price",
    "price_status",
    "parse_area",
    "parse_dimensions",
    "strip_suffix_to_double",
    "strip_suffix_to_int",
    "parse_parking_flag",
    "valid_district",
    "normalize_listings",
]

_DECIMAL_RE = r"([\d.,]+)"

#: exactly the strings ``try_cast(... as int)`` parses (UTF8String.toInt
#: with decimals disallowed, overflow aside): bytes it trims (whitespace or
#: ISO control: 0x00-0x20, 0x7f), an optional sign, ASCII digits, trimmed
#: bytes. ``\z``, not ``$``, which would also match before a final "\u2028".
_INT_RE = r"^[\x00-\x20\x7f]*[+-]?[0-9]+[\x00-\x20\x7f]*\z"


def _remove(col: Column, literal: str) -> Column:
    """Remove every occurrence of ``literal`` (the reference's
    ``str.replace(literal, "")``)."""
    return F.replace(col, F.lit(literal))


def _comma_to_dot(col: Column) -> Column:
    # Vietnamese decimal comma: "1,5" -> "1.5" (alonhadat.py:134,143,150-151)
    return F.replace(col, F.lit(","), F.lit("."))


def _try_cast_int(col: Column) -> Column:
    """``col.try_cast("int")`` without the per-value exception: values
    outside :data:`_INT_RE` are NULL before the cast sees them; the cast
    stays inside the guard so an overflow is still NULL."""
    return F.when(col.rlike(_INT_RE), col.try_cast("int"))


def parse_post_date(raw: Column) -> Column:
    """F1 — relative-date resolution (alonhadat.py:18-29).

    lower+trim; "hôm nay" -> today, "hôm qua" -> yesterday, else
    dd/MM/yyyy; anything unparseable falls back to today (the reference's
    bare ``except`` at :28-29).
    """
    low = F.lower(F.trim(raw))
    return (
        F.when(low.contains("hôm nay"), F.current_date())
        .when(low.contains("hôm qua"), F.date_sub(F.current_date(), 1))
        .otherwise(F.coalesce(F.try_to_date(low, "d/M/yyyy"), F.current_date()))
    )


def strip_admin_prefix(col: Column, prefixes: tuple[str, ...]) -> Column:
    """F3 — administrative-prefix stripping (alonhadat.py:112-123).

    The reference does ``str.replace(prefix, "")`` which removes ALL
    occurrences anywhere in the string — reproduced with an unanchored
    ``regexp_replace`` for bit-parity (SURVEY §2.8 F3 note). This stays
    one regex: two sequential literal replaces are not equivalent, since
    removing one prefix can form the other ("PhĐường ố " -> "Phố ").
    """
    pattern = "|".join(prefixes)
    return F.regexp_replace(col, pattern, "")


def split_address(diachi: Column) -> tuple[Column, Column, Column, Column]:
    """F2+F3 — 4-part positional address split with prefix strip
    (alonhadat.py:108-123) -> (street, ward, district, city)."""
    parts = F.split(F.trim(diachi), ", ")
    street = strip_admin_prefix(parts.getItem(0), ("Đường ", "Phố "))
    ward = strip_admin_prefix(parts.getItem(1), ("Phường ", "Xã "))
    district = strip_admin_prefix(parts.getItem(2), ("Quận ", "Huyện "))
    city = parts.getItem(3)
    return street, ward, district, city


def parse_price(raw: Column) -> Column:
    """F4 — price in billions VND (tỷ) or NULL (alonhadat.py:125-137).

    "1,5 tỷ" -> 1.5; "800 triệu" -> 0.8; "thỏa thuận"/unmatched -> NULL
    (status carried separately by :func:`price_status`).
    """
    low = F.lower(F.trim(raw))
    ty = F.regexp_extract(low, _DECIMAL_RE + r"\s*tỷ", 1)
    trieu = F.regexp_extract(low, _DECIMAL_RE + r"\s*triệu", 1)
    return (
        F.when(low.contains("thỏa thuận"), F.lit(None).cast("double"))
        .when(ty != "", _comma_to_dot(ty).try_cast("double"))
        .when(trieu != "", _comma_to_dot(trieu).try_cast("double") / 1000)
    )


def price_status(raw: Column) -> Column:
    """F4 companion — the string leg of the reference's price union type:
    'negotiable' ("Thỏa thuận", :128-129), 'listed' (numeric match),
    'unknown' ("Không rõ" default, :125)."""
    low = F.lower(F.trim(raw))
    ty = F.regexp_extract(low, _DECIMAL_RE + r"\s*tỷ", 1)
    trieu = F.regexp_extract(low, _DECIMAL_RE + r"\s*triệu", 1)
    return (
        F.when(low.contains("thỏa thuận"), F.lit("negotiable"))
        .when(
            (ty != "") & _comma_to_dot(ty).try_cast("double").isNotNull(),
            F.lit("listed"),
        )
        .when(
            (trieu != "") & _comma_to_dot(trieu).try_cast("double").isNotNull(),
            F.lit("listed"),
        )
        .otherwise(F.lit("unknown"))
    )


def parse_area(raw: Column) -> Column:
    """F5 — area m² extraction (alonhadat.py:139-144): first decimal run
    before an 'm', comma->dot, double; no match -> NULL."""
    extracted = F.regexp_extract(F.trim(raw), _DECIMAL_RE + r"\s*m", 1)
    return F.when(extracted != "", _comma_to_dot(extracted).try_cast("double"))


def parse_dimensions(raw: Column) -> tuple[Column, Column]:
    """F6 — "Kích thước: 4,5x20m" -> (4.5, 20.0) (alonhadat.py:146-157).

    The reference strips the label, removes ALL 'm' characters, splits on
    'x', comma->dot; "---" (and any 1-part string) -> (NULL, NULL).
    """
    cleaned = _remove(_remove(F.trim(raw), "Kích thước: "), "m")
    parts = F.split(cleaned, "x")
    ok = (cleaned != "---") & (F.size(parts) >= 2)
    width = F.when(ok, _comma_to_dot(F.trim(parts.getItem(0))).try_cast("double"))
    depth = F.when(ok, _comma_to_dot(F.trim(parts.getItem(1))).try_cast("double"))
    return width, depth


def strip_suffix_to_double(raw: Column, suffix: str) -> Column:
    """F7 — strip a unit suffix, cast double (road width 'm',
    alonhadat.py:158-161). Replace-all like the reference's str.replace."""
    return _comma_to_dot(F.trim(_remove(raw, suffix))).try_cast("double")


def strip_suffix_to_int(raw: Column, suffix: str) -> Column:
    """F7 — strip a unit suffix, cast int (floors ' lầu' :163-166,
    bedrooms ' phòng ngủ' :168-171)."""
    return _try_cast_int(F.trim(_remove(raw, suffix)))


def parse_parking_flag(raw: Column) -> Column:
    """F8 — element-presence flag (alonhadat.py:172-176): the crawler
    emits "Có" or None; normalize to BOOLEAN (true / NULL-as-false)."""
    return F.when(F.trim(raw) == "Có", F.lit(True)).otherwise(F.lit(False))


def valid_district(district: Column) -> Column:
    """P2/P3 unified filter predicate — non-null, non-empty after trim.

    The reference's two batch impls disagree (count_by_district.py:27
    doesn't trim; mapper.py:21-24 does) — we standardize on the trim
    superset (SURVEY §7.4)."""
    return district.isNotNull() & (F.trim(district) != "")


def normalize_listings(raw: DataFrame) -> DataFrame:
    """Full raw -> normalized listing projection (SURVEY §1.2 target
    schema). One narrow projection, no shuffle: at any scale this is a
    map-only stage fused into the scan by whole-stage codegen.

    Input columns follow RAW_LISTING_SCHEMA (already address-split, as the
    lake stores what the crawler emitted per-field).
    """
    width, depth = parse_dimensions(F.col("raw_kich_thuoc"))
    return raw.select(
        parse_post_date(F.col("raw_post_date")).alias("post_date"),
        strip_admin_prefix(F.col("duong_pho"), ("Đường ", "Phố ")).alias("duong_pho"),
        strip_admin_prefix(F.col("phuong_xa"), ("Phường ", "Xã ")).alias("phuong_xa"),
        F.trim(
            strip_admin_prefix(F.col("quan_huyen"), ("Quận ", "Huyện "))
        ).alias("quan_huyen"),
        F.col("thanh_pho"),
        F.col("loai_bds"),
        parse_area(F.col("raw_area")).alias("area"),
        width.alias("chieu_ngang"),
        depth.alias("chieu_dai"),
        strip_suffix_to_double(F.col("duong_truoc_nha"), "m").alias("duong_truoc_nha"),
        strip_suffix_to_int(F.col("so_tang"), " lầu").alias("so_tang"),
        strip_suffix_to_int(F.col("so_phong_ngu"), " phòng ngủ").alias("so_phong_ngu"),
        parse_parking_flag(F.col("cho_de_xe")).alias("cho_de_xe"),
        parse_price(F.col("raw_price")).alias("price_ty"),
        price_status(F.col("raw_price")).alias("price_status"),
        F.col("source"),
        F.current_date().alias("ingest_date"),
    )
