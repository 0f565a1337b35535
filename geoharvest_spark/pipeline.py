"""End-to-end harvest pipeline: pages -> extract -> normalize -> index -> tiles.

The reference's generator chain (harvester/harvest/__init__.py:40-69):
    get_source_records -> filter_failed -> normalize -> filter_failed ->
    write_combined -> filter_failed -> harvester_specific -> filter_failed
becomes a DataFrame lineage where "filter_failed" is a split on the error
column (errors are data, never task failures).
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import extract as ex
from . import index as ix
from .geo import geometry_centroid, parse_envelope, validated_envelope_wkt

# quick per-format envelope sniffers used by the flagship slice; the full
# per-field normalizers live in geoharvest_spark.normalize
_ENV_RE = re.compile(rb"ENVELOPE\((-?[\d.]+),\s*(-?[\d.]+),\s*(-?[\d.]+),\s*(-?[\d.]+)\)")
_FGDC_RE = re.compile(
    rb"<westbc>(-?[\d.]+)</westbc><eastbc>(-?[\d.]+)</eastbc>"
    rb"<northbc>(-?[\d.]+)</northbc><southbc>(-?[\d.]+)</southbc>"
)
_ISO_RE = re.compile(
    rb"<gmd:westBoundLongitude><gco:Decimal>(-?[\d.]+)</gco:Decimal></gmd:westBoundLongitude>"
    rb"<gmd:eastBoundLongitude><gco:Decimal>(-?[\d.]+)</gco:Decimal></gmd:eastBoundLongitude>"
    rb"<gmd:southBoundLatitude><gco:Decimal>(-?[\d.]+)</gco:Decimal></gmd:southBoundLatitude>"
    rb"<gmd:northBoundLatitude><gco:Decimal>(-?[\d.]+)</gco:Decimal></gmd:northBoundLatitude>"
)
_MARC034_RE = re.compile(
    rb'<subfield code="d">([NSEW+-]?[\d.]+)</subfield>'
    rb'<subfield code="e">([NSEW+-]?[\d.]+)</subfield>'
    rb'<subfield code="f">([NSEW+-]?[\d.]+)</subfield>'
    rb'<subfield code="g">([NSEW+-]?[\d.]+)</subfield>'
)


def _marc_to_deg(tok: bytes) -> float:
    t = tok.decode()
    sign = -1.0 if t[0] in "WS-" else 1.0
    body = t[1:] if t[0] in "NSEW+-" else t
    d = float(body[0:3])
    m = float(body[3:5]) if len(body) >= 5 else 0.0
    s = float(body[5:7]) if len(body) >= 7 else 0.0
    return sign * (d + m / 60.0 + s / 3600.0)


def _sniff_bbox(fmt: str | None, payload: bytes | None) -> str | None:
    """Fast bbox sniff per format -> ENVELOPE WKT (flagship slice only)."""
    if not payload:
        return None
    if fmt in ("gbl1", "aardvark"):
        m = _ENV_RE.search(payload)
        if m:
            return (
                f"ENVELOPE({m.group(1).decode()}, {m.group(2).decode()}, "
                f"{m.group(3).decode()}, {m.group(4).decode()})"
            )
        return None
    if fmt == "fgdc":
        boxes = _FGDC_RE.findall(payload)
        if not boxes:
            return None
        ws = [b[0].decode() for b in boxes]
        es = [b[1].decode() for b in boxes]
        ns = [b[2].decode() for b in boxes]
        ss = [b[3].decode() for b in boxes]
        # reference compares STRINGS here (fgdc.py:115-122) — preserved
        return f"ENVELOPE({min(ws)}, {max(es)}, {max(ns)}, {min(ss)})"
    if fmt == "iso19139":
        m = _ISO_RE.search(payload)
        if m:
            return (
                f"ENVELOPE({m.group(1).decode()}, {m.group(2).decode()}, "
                f"{m.group(4).decode()}, {m.group(3).decode()})"
            )
        return None
    if fmt == "marc":
        boxes = _MARC034_RE.findall(payload)
        if not boxes:
            return None
        w = min(_marc_to_deg(b[0]) for b in boxes)
        e = max(_marc_to_deg(b[1]) for b in boxes)
        n = max(_marc_to_deg(b[2]) for b in boxes)
        s = min(_marc_to_deg(b[3]) for b in boxes)
        return f"ENVELOPE({w}, {e}, {n}, {s})"
    return None


def with_bbox_sniff(df: DataFrame) -> DataFrame:
    """Add dcat_bbox (ENVELOPE WKT) sniffed from the metadata payload."""
    cols = [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
    schema = ", ".join(cols + ["dcat_bbox string"])

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["dcat_bbox"] = [
                _sniff_bbox(f, p) for f, p in zip(pdf["metadata_format"], pdf["metadata"])
            ]
            yield pdf

    return df.mapInPandas(_map, schema)


def harvest_pages(pages: DataFrame, md_modified: str | None = None) -> DataFrame:
    """Full-parity harvest: pages -> metadata -> identifiers -> normalize.

    Returns NORMALIZED_SCHEMA rows (aardvark struct + error side-channel).
    The reference's whole generator chain (source -> filter_failed ->
    normalize -> filter_failed, harvest/__init__.py:53-67) is this lineage;
    split with normalize.split_failed.
    """
    from .normalize import DEFAULT_MD_MODIFIED, normalize_pages

    df = ex.with_metadata(pages.select("url", "html"))
    df = df.select(
        "url",
        ex.identifier_from_url(F.col("url")).alias("identifier"),
        ex.origin_from_url(F.col("url")).alias("origin"),
        "metadata_format",
        "event",
        "metadata",
    )
    return normalize_pages(df, md_modified or DEFAULT_MD_MODIFIED)


def _fused_ident(url: str, origin: str) -> str:
    import hashlib as _hashlib

    if origin == "mit":
        m = re.search(r"([^/]+)\.zip", url)
        return m.group(1) if m else url
    if origin == "ogm":
        m = re.search(r"github\.[^/]+/[^/]+/([^/]+)/(.+)$", url)
        if m:
            h = _hashlib.md5(m.group(2).encode()).hexdigest()[:12]
            return f"{m.group(1)}:{h}"
        return url
    if origin == "alma":
        m = re.search(r"#rec(\d+)$", url)
        return "990" + m.group(1) if m else url
    return _hashlib.md5(url.encode()).hexdigest()[:16]


def _fused_origin(url: str) -> str:
    if "//cdn.mit." in url:
        return "mit"
    if "//github." in url:
        return "ogm"
    if "//alma." in url:
        return "alma"
    return "web"


def harvest_rows_list(
    urls, htmls, md_modified: str | None = None
) -> list[dict]:
    """The fused harvest kernel over plain Python sequences -> row dicts.

    Shared by the Spark operator (harvest_pages_fused, once per Arrow
    batch of its mapInArrow) and the driver-side oracle staging path
    (harvest_rows_pdf) — so the DuckDB correctness gate compares
    distributed execution against a single-process run of the SAME
    kernel, catching partitioning/serialization divergence.
    """
    from .normalize import DEFAULT_MD_MODIFIED, normalize_record
    from .normalize.base import AARDVARK_FIELDS

    md_mod = md_modified or DEFAULT_MD_MODIFIED
    rows = []
    for url, html in zip(urls, htmls):
        fmt, event, payload = ex.extract_metadata_bytes(html)
        origin = _fused_origin(url)
        ident = _fused_ident(url, origin)
        if fmt is None:
            aard, err = None, {
                "stage": "extract",
                "exception": "no metadata payload found",
            }
        else:
            aard, err = normalize_record(
                fmt, payload, ident, origin, event, md_mod
            )
        if aard is not None:
            aard = {k: aard.get(k) for k in AARDVARK_FIELDS}
        rows.append(
            {
                "url": url,
                "identifier": ident,
                "origin": origin,
                "metadata_format": fmt,
                "event": event,
                "aardvark": aard,
                "error": err,
            }
        )
    return rows


def harvest_rows_pdf(
    urls, htmls, md_modified: str | None = None
) -> pd.DataFrame:
    """harvest_rows_list wrapped into the NORMALIZED_SCHEMA column order."""
    from .schema import NORMALIZED_SCHEMA

    ordered = [f.name for f in NORMALIZED_SCHEMA.fields]
    return pd.DataFrame(
        harvest_rows_list(urls, htmls, md_modified), columns=ordered
    )


def harvest_pages_fused(
    pages: DataFrame, md_modified: str | None = None
) -> DataFrame:
    """Fused harvest: ONE Arrow crossing does extraction + identifier
    derivation + normalization.

    Chaining separate Python stages costs a JVM<->Python round trip per
    stage (3 crossings = 3 worker pools per task slot, which
    oversubscribes CPUs at high parallelism). The fused operator keeps
    the html bytes inside a single Python pass — the per-blob parse-once
    rule (SURVEY.md §4) applied to the whole chain. Semantics identical
    to harvest_pages (tests assert equality).

    Runs via mapInArrow: rows go straight from the kernel's dicts into a
    pyarrow RecordBatch, skipping the pandas object-column
    materialization on BOTH sides of the crossing (input html blobs
    never become a pandas object array; output structs never become
    per-row Python dicts inside a pandas column that Arrow then
    re-walks). Measured 1.07-1.19x over the mapInPandas twin on the
    bench corpus (alternating min-of-5, 32 cores)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from .schema import NORMALIZED_SCHEMA

    arrow_schema = to_arrow_schema(NORMALIZED_SCHEMA)

    def _map(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = harvest_rows_list(
                batch.column(0).to_pylist(),
                batch.column(1).to_pylist(),
                md_modified,
            )
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return pages.select("url", "html").mapInArrow(_map, NORMALIZED_SCHEMA)


def pages_to_cells(
    pages: DataFrame, res: int = 7, s2_level: int = 12
) -> DataFrame:
    """Flagship slice: pages -> metadata -> bbox -> centroid -> cell indexes.

    Narrow end to end (no shuffle until the caller aggregates): one
    mapInPandas pass for extraction, then pure Column expressions.
    """
    df = ex.with_metadata(pages.select("url", "warc_ts", "html", "lang"))
    df = with_bbox_sniff(df.drop("html"))
    # ValidateGeoshapeWKT semantics (validators.py:26-106): invalid -> NULL
    df = df.withColumn("dcat_bbox", validated_envelope_wkt(F.col("dcat_bbox")))
    df = df.withColumn("bbox", parse_envelope(F.col("dcat_bbox")))
    df = df.where(F.col("bbox").isNotNull())
    df = df.withColumn("centroid", geometry_centroid(F.col("bbox")))
    df = df.withColumn(
        "cell", ix.ghcell(F.col("centroid.lon"), F.col("centroid.lat"), res)
    )
    df = df.withColumn(
        "s2_cell", ix.s2_cell_udf(F.col("centroid.lon"), F.col("centroid.lat"), s2_level)
    )
    return df


def cell_counts(pages: DataFrame, res: int = 7) -> DataFrame:
    """Flagship aggregate: records per ghcell at `res` (hash agg, map-side
    partial combine — one shuffle)."""
    return (
        pages_to_cells(pages, res)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_records"))
        .orderBy(F.col("n_records").desc(), F.col("cell"))
    )
