"""Sinks: combined JSONL, per-record filenames, event pooling, stats (K1-K4, A2-A3).

Reference semantics preserved:
- K1 combined JSONL (harvest/__init__.py:137-167): one JSON object per
  normalized record, serialized from to_dict() which EXCLUDES None values
  and empty lists (record.py:121-123), keys in MITAardvark field order.
  Byte-stable: the JSON string is built in the Arrow batch (to_json with
  ignoreNullFields can't drop empty lists or pin key order).
- K2 per-record filenames (record.py:172-197): `<id>.source.<fmt>.<ext>` /
  `<id>.normalized.aardvark.json` as derived columns.
- K3 event pooling (mit.py:158-242): last event per identifier, payload
  with the bool-as-JSON-string quirk ('restricted': 'false') preserved.
- A2/A3 run stats: processed/success/failure counts + failure rollup by
  "<stage>: <exception>" (harvest/__init__.py:72-87).
"""

from __future__ import annotations

import json
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions import latest_per_key
from .schema import AARDVARK_FIELDS

_EXT = {"fgdc": "xml", "iso19139": "xml", "marc": "xml",
        "gbl1": "json", "aardvark": "json"}


def _jsonl_line(rec: dict | None) -> str | None:
    """The to_dict()-equivalent JSON line of one aardvark record: keys in
    AARDVARK_FIELDS order, None values and empty lists dropped."""
    if rec is None:
        return None
    return json.dumps(
        {k: rec[k] for k in AARDVARK_FIELDS if rec.get(k) is not None and rec[k] != []}
    )


def _jsonl_array(recs: pa.Array) -> pa.Array:
    return pa.array([_jsonl_line(r) for r in recs.to_pylist()], pa.string())


def aardvark_jsonl_col(df: DataFrame, aardvark_col: str = "aardvark") -> DataFrame:
    """Add `jsonl`: the to_dict()-equivalent JSON line per record."""

    def _map(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [*batch.columns, _jsonl_array(batch.column(aardvark_col))],
                names=[*batch.schema.names, "jsonl"],
            )

    schema = T.StructType([*df.schema.fields, T.StructField("jsonl", T.StringType())])
    return df.mapInArrow(_map, schema)


def write_combined_jsonl(normalized_ok: DataFrame, out_path: str) -> None:
    """K1: the combined JSONL file (TIMDEX input format).

    Only the aardvark struct crosses into Python, and only the lines
    come back. Distributed text write; for the literal single-file
    contract coalesce(1) — at 100 TB the consumer reads the directory,
    not one file."""

    def _map(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield pa.RecordBatch.from_arrays([_jsonl_array(batch.column(0))], ["jsonl"])

    (
        normalized_ok.select("aardvark")
        .mapInArrow(_map, "jsonl string")
        .where(F.col("jsonl").isNotNull())
        .write.mode("overwrite")
        .text(out_path)
    )


def with_output_filenames(df: DataFrame) -> DataFrame:
    """K2: filename-convention columns (record.py:172-197)."""
    ext = F.coalesce(
        *[
            F.when(F.col("metadata_format") == k, F.lit(v))
            for k, v in _EXT.items()
        ]
    )
    return df.withColumn(
        "source_metadata_filename",
        F.concat_ws(
            ".", F.col("identifier"), F.lit("source"),
            F.col("metadata_format"), ext,
        ),
    ).withColumn(
        "normalized_metadata_filename",
        F.concat(F.col("identifier"), F.lit(".normalized.aardvark.json")),
    )


def pooled_events(
    normalized: DataFrame,
    bucket: str = "cdn-origin-example",
    path: str = "cdn/geo/public",
    seq_col: str = "url",
) -> DataFrame:
    """K3: last-event-per-identifier pooling + payload derivation.

    Window dedupe (A4) replaces the reference's dict-overwrite pooling; the
    payload mirrors mit.py:231-242 including 'restricted'/'deleted' as JSON
    STRINGS ('true'/'false'), which downstream consumers expect.
    """
    df = with_output_filenames(normalized)
    last = latest_per_key(df, ["identifier"], [F.col(seq_col).desc()])
    restricted = F.when(
        F.col("aardvark.dct_accessRights_s") == "Public", F.lit("false")
    ).otherwise(F.lit("true"))
    deleted = F.when(F.col("event") == "deleted", F.lit("true")).otherwise(
        F.lit("false")
    )
    return last.select(
        F.lit(bucket).alias("bucket"),
        F.col("identifier"),
        restricted.alias("restricted"),
        deleted.alias("deleted"),
        F.array(
            F.concat(F.lit(path + "/"), F.col("source_metadata_filename")),
            F.concat(F.lit(path + "/"), F.col("normalized_metadata_filename")),
            F.concat(F.lit(path + "/"), F.col("identifier"), F.lit(".zip")),
        ).alias("objects"),
    )


def run_stats(normalized: DataFrame) -> dict[str, int]:
    """A3: processed / successful / failed counts in ONE pass (observe-style
    single aggregation, not three count() jobs)."""
    row = normalized.agg(
        F.count(F.lit(1)).alias("processed"),
        F.count(F.when(F.col("error").isNull(), 1)).alias("successful"),
        F.count(F.when(F.col("error").isNotNull(), 1)).alias("failed"),
    ).first()
    return {k: int(row[k]) for k in ("processed", "successful", "failed")}


def failure_rollup(failed: DataFrame) -> DataFrame:
    """A2: counts keyed '<stage>: <exception>' (harvest/__init__.py:82-87)."""
    return (
        failed.groupBy(
            F.concat_ws(": ", F.col("error.stage"), F.col("error.exception")).alias(
                "failure"
            )
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "failure")
    )
