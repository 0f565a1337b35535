"""geoharvest_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the query/data-processing capabilities of the reference
(MITLibraries/geo-harvester, surveyed in the repository's SURVEY.md) as
idiomatic Spark DataFrame/SQL dataflow over a Common-Crawl-style web-pages table
(url, warc_ts, html, text, lang), extended with H3-style/S2 cell indexing,
point-in-polygon joins, kNN, and raster<->vector tiling.

NOT a port: the reference is a single-process record-at-a-time Python ETL
(`harvester/harvest/__init__.py:40-69` generator chain); here every stage is
a DataFrame transformation so Catalyst/Tungsten own physical execution.

Modules
-------
session     SparkSession factory tuned for local[N] + Arrow
schema      canonical StructTypes (pages, Aardvark, errors, spatial)
geo         WKT/ENVELOPE parsing, envelopes, haversine, vectorized PIP
index       S2 cell ids (pure numpy) + hierarchical grid cells + k-ring + salting
extract     html -> text / metadata-blob extraction (Arrow UDFs)
synth       deterministic synthetic web_pages / polygons / query-points tables
normalize   per-metadata-format Aardvark normalizers (FGDC/ISO/GBL1/Aardvark/MARC)
joins       point-in-polygon join, kNN join (cell prefilter + exact refine)
tiles       tile pyramid materialization (res 5..9)
textops     dedup (exact/minhash/simhash/jaccard), lang-id, quality, tokens
simsearch   embedding cosine top-k (brute force + LSH-bucketed)
streaming   incremental semantics: dedupe, last-event-wins, watermarking
checkpoint  per-partition lineage + metrics, idempotent resume
"""

__version__ = "0.1.0"
