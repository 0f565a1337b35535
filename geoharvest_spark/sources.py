"""Source-side operators: scans, pruning filters, incremental semantics.

The reference's per-source fetch machinery (S1-S9, SURVEY.md §2.1) collapses
onto columns of the pages table; what remains are the *semantics*:

- S1/S2  full scan + listing filters -> partition-prunable predicates;
- S9/F1  date/type pruning from Alma filenames -> regexp + range filters;
- F2     extension filters; F3 filename-strategy regex; F4 include/exclude;
- S4/S6  incremental = rows newer than the checkpoint boundary (half-open);
- F5     Alma 4-predicate geospatial MARC filter (batch operator);
- F10    empty-input early exit.

All pure Column expressions (partition-prunable / codegen) except the MARC
filter, which must parse XML (Arrow-batched).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ALMA_DATE_RE = r"alma-(\d{4}-\d{2}-\d{2})-"
ALMA_KIND_RE = r"alma-\d{4}-\d{2}-\d{2}-(daily|full)-"


def modified_date_filter(
    df: DataFrame,
    from_ts: str | None = None,
    until_ts: str | None = None,
    ts_col: str = "warc_ts",
) -> DataFrame:
    """F1: keep rows with from <= ts < until (either bound optional) —
    half-open, matching mit.py:272-284. Partition-prunable."""
    if from_ts is not None:
        df = df.where(F.col(ts_col) >= F.lit(from_ts))
    if until_ts is not None:
        df = df.where(F.col(ts_col) < F.lit(until_ts))
    return df


def extension_filter(df: DataFrame, ext: str, url_col: str = "url") -> DataFrame:
    """F2: case-insensitive endswith (mit.py:286-292, alma.py:177-188)."""
    return df.where(F.lower(F.col(url_col)).endswith(ext.lower()))


def filename_strategy_filter(
    df: DataFrame,
    filename_regex: str | None = None,
    file_directory: str | None = None,
    url_col: str = "url",
) -> DataFrame:
    """F3: regex XOR directory strategy (ogm.py:369-402). Both set or
    neither set is a config error at plan time — same contract."""
    if (filename_regex is None) == (file_directory is None):
        raise ValueError(
            "exactly one of filename_regex / file_directory must be set"
        )
    pattern = filename_regex or f".+?/{file_directory}/.+?\\.json"
    return df.where(F.col(url_col).rlike(pattern))


def alma_file_date(url: Column) -> Column:
    """S9: date embedded in the Alma export filename (alma.py:28-31)."""
    d = F.regexp_extract(url, ALMA_DATE_RE, 1)
    return F.when(d != "", F.to_date(d))


def alma_file_kind(url: Column) -> Column:
    return F.nullif(F.regexp_extract(url, ALMA_KIND_RE, 1), F.lit(""))


def latest_full_run_date(df: DataFrame, url_col: str = "url"):
    """A5/W2: max date among 'full' files (alma.py:98-113). Returns a
    1-row DataFrame (no driver collect in the operator itself)."""
    return (
        df.where(alma_file_kind(F.col(url_col)) == "full")
        .agg(F.max(alma_file_date(F.col(url_col))).alias("latest_full_date"))
    )


def alma_daily_since_full(df: DataFrame, url_col: str = "url") -> DataFrame:
    """S9 composition: keep the latest full export + dailies after it
    (alma.py:40-73 semantics) — one tiny agg + a prunable filter."""
    latest = latest_full_run_date(df, url_col)
    d = alma_file_date(F.col(url_col))
    kind = alma_file_kind(F.col(url_col))
    joined = df.crossJoin(F.broadcast(latest))
    return joined.where(
        ((kind == "full") & (d == F.col("latest_full_date")))
        | ((kind == "daily") & (d > F.col("latest_full_date")))
    ).drop("latest_full_date")


def incremental_since(
    df: DataFrame, checkpoint_ts: str, ts_col: str = "warc_ts"
) -> DataFrame:
    """S4/S6: incremental scan = rows after the checkpoint boundary.

    On Iceberg this is an incremental snapshot read between snapshot ids;
    on a date-partitioned table it is this prunable predicate — identical
    dataflow either way."""
    return df.where(F.col(ts_col) > F.lit(checkpoint_ts))


def is_empty(df: DataFrame) -> bool:
    """F10: empty-input early exit (harvest/__init__.py:55-61)."""
    return df.isEmpty()


def alma_geospatial_filter(df: DataFrame, metadata_col: str = "metadata") -> DataFrame:
    """F5: the 4-predicate geospatial MARC filter (alma.py:194-231) as a
    batch operator over raw MARC XML payloads."""
    from .normalize.marc import MarcRecord, is_geospatial_marc

    fields = [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
    schema = ", ".join(fields)

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep = []
            for blob in pdf[metadata_col]:
                try:
                    keep.append(is_geospatial_marc(MarcRecord(blob)))
                except Exception:
                    keep.append(False)
            yield pdf.loc[keep]

    return df.mapInPandas(_map, schema)
