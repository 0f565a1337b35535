"""Public scalar/array function surface (SURVEY.md §2.8 X1-X16).

Everything that CAN be a native Column expression is one (codegen); the
Python-semantics-exact functions (D1 case-preference dedupe, dateutil
parsing, ISO-639 mapping) are Arrow-batched pandas UDFs — the reference's
behaviors are not expressible bit-exactly in Catalyst.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .geo import (  # noqa: F401 (re-export: X9, X10)
    envelope_wkt,
    parse_envelope,
    point_wkt,
    validated_envelope_wkt,
)
from .normalize.base import date_parser, dedupe_list_of_values
from .normalize.vocab import convert_lang_code


def remove_whitespace_col(c: Column) -> Column:
    """X1: collapse whitespace runs, NULL if empty (record.py:520-526).

    Native expression — regexp_replace + trim + nullif is behaviorally
    identical to ``" ".join(s.split())`` for this use."""
    return F.nullif(F.regexp_replace(F.trim(c), r"\s+", " "), F.lit(""))


# NOTE: DataType objects (not DDL strings) so these module-level UDFs don't
# require an active SparkContext at import time.
@F.pandas_udf(T.ArrayType(T.StringType()))
def dedupe_array_udf(arrs: pd.Series) -> pd.Series:
    """D1: order-preserving case-preference dedupe (utils.py:24-72).

    TitleCase > UPPERCASE > lowercase on a lower/strip key; [[..]] unwrap.
    Kept in Python for byte parity (str.istitle/isupper subtleties)."""
    return pd.Series(
        [None if a is None else dedupe_list_of_values(list(a)) for a in arrs]
    )


@F.pandas_udf(T.StringType())
def date_parse_ymd_udf(dates: pd.Series) -> pd.Series:
    """X3: dateutil parse with epoch default -> '%Y-%m-%d', NULL on failure
    (utils.py:13-21 + per-format error skipping)."""
    out = []
    for d in dates:
        if d is None:
            out.append(None)
            continue
        try:
            out.append(date_parser(str(d)).strftime("%Y-%m-%d"))
        except Exception:
            out.append(None)
    return pd.Series(out)


@F.pandas_udf(T.StringType())
def lang_code_udf(codes: pd.Series) -> pd.Series:
    """X5: 2/3-letter -> ISO 639-2 3-letter, NULL if unknown (utils.py:75-83)."""
    return pd.Series(
        [None if c is None else convert_lang_code(str(c)) for c in codes]
    )


def short_md5_id(name: Column, path: Column, n: int = 12) -> Column:
    """X13: '<name>:<md5(path)[:12]>' (ogm.py:404-414). Native expression."""
    return F.concat(name, F.lit(":"), F.substring(F.md5(path), 1, n))


def remove_prefix(c: Column, prefix: str) -> Column:
    """X7: str.removeprefix as an anchored regexp."""
    import re as _re

    return F.regexp_replace(c, "^" + _re.escape(prefix), "")


def remove_suffix(c: Column, suffix: str) -> Column:
    """X7: str.removesuffix as an anchored regexp."""
    import re as _re

    return F.regexp_replace(c, _re.escape(suffix) + "$", "")


def latest_per_key(df: DataFrame, keys: list[str], order: list[Column]) -> DataFrame:
    """A4 last-event-wins (mit.py:186-197): the first row per ``keys``
    under ``order`` — rank 1 of a row_number() window, no helper columns.
    The order columns compare at full precision, so sub-second events and
    far-future timestamps rank correctly."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# pure-python XXH64 (driver-side twin of Spark's xxhash64)
# ---------------------------------------------------------------------------
_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    """Canonical XXH64 of ``data`` (unsigned 64-bit result) — the
    standard Cyan4973 layout, which is exactly what Spark's ``xxhash64``
    applies to a string column's UTF-8 bytes (pinned against Spark in
    test_functions). Pure python: used driver-side to precompute join
    keys that must agree bit-for-bit with JVM-computed ones."""
    seed &= _M64
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XXP1 + _XXP2) & _M64
        v2 = (seed + _XXP2) & _M64
        v3 = seed
        v4 = (seed - _XXP1) & _M64
        while i + 32 <= n:
            for off, v in ((0, 1), (8, 2), (16, 3), (24, 4)):
                lane = int.from_bytes(data[i + off : i + off + 8], "little")
                acc = (v1, v2, v3, v4)[v - 1]
                acc = (acc + lane * _XXP2) & _M64
                acc = (_rotl(acc, 31) * _XXP1) & _M64
                if v == 1:
                    v1 = acc
                elif v == 2:
                    v2 = acc
                elif v == 3:
                    v3 = acc
                else:
                    v4 = acc
            i += 32
        h = (
            _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        ) & _M64
        for v in (v1, v2, v3, v4):
            v = (_rotl((v * _XXP2) & _M64, 31) * _XXP1) & _M64
            h = (((h ^ v) * _XXP1) + _XXP4) & _M64
    else:
        h = (seed + _XXP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = int.from_bytes(data[i : i + 8], "little")
        k = (_rotl((k * _XXP2) & _M64, 31) * _XXP1) & _M64
        h = ((_rotl(h ^ k, 27) * _XXP1) + _XXP4) & _M64
        i += 8
    if i + 4 <= n:
        k = int.from_bytes(data[i : i + 4], "little")
        h = ((_rotl(h ^ ((k * _XXP1) & _M64), 23) * _XXP2) + _XXP3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _XXP5) & _M64), 11) * _XXP1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XXP2) & _M64
    h ^= h >> 29
    h = (h * _XXP3) & _M64
    h ^= h >> 32
    return h


def spark_xxhash64_strings(*vals: str, seed: int = 42) -> int:
    """Driver-side twin of ``F.xxhash64(col1, col2, ...)`` over string
    columns: Spark chains the columns, each column's UTF-8 bytes hashed
    with the running value as seed (initial seed 42), and returns the
    result as a SIGNED 64-bit long."""
    h = seed
    for v in vals:
        h = xxh64(v.encode("utf-8"), h)
    return h - (1 << 64) if h >= (1 << 63) else h
