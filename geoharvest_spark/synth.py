"""Deterministic synthetic fixture tables (no external data).

Generates the FIXTURES.md tables at any scale from a fixed seed:

- ``web_pages`` (T1): url/warc_ts/html/text/lang — html embeds exactly one
  metadata payload per row in one of the 5 reference formats
  (fgdc, iso19139, gbl1, aardvark, marc), plus edge-case rows mirroring the
  reference's test fixtures (/root/reference/tests/fixtures/): missing
  title, suppressed, deleted event, invalid bbox, multi-bbox union,
  point-degenerate MARC 034, double-encoded JSON, empty strings.
- ``polygons`` (T4): pseudo-random polygons + a few continent-scale ones to
  force hot-cell skew.
- ``query_points`` (T5): kNN probes.

The golden ``text`` column IS the output of extract.extract_text_bytes on
the generated html, making the byte-identical invariant testable end to end.
Everything derives from row index + seed; re-running at any scale yields a
prefix-stable table (row i is identical regardless of n).
"""

from __future__ import annotations

import datetime as dt
import json

import numpy as np
import pandas as pd

from .extract import extract_text_bytes

SEED = 42
FORMATS = ["fgdc", "iso19139", "gbl1", "aardvark", "marc"]

_WORDS = (
    "boston cambridge census tract parcel road rail hydrography elevation "
    "landuse zoning survey imagery orthophoto boundary district shoreline "
    "transit water soil geology wetland building footprint"
).split()

_SUBJECTS = [
    "Transportation", "Boundaries", "Environment", "Society", "Structure",
    "Imagery and Base Maps", "Inland Waters", "Elevation", "Location",
]
_PLACES = ["Massachusetts", "Boston", "Cambridge", "New York", "Chicago"]
_PUBLISHERS = ["MIT Libraries", "MassGIS", "US Census Bureau", "USGS"]
_CREATORS = ["Smith, Jane", "Office of Geographic Information", "Doe, John"]


def _rng_for(i: int) -> np.random.RandomState:
    return np.random.RandomState(SEED * 1_000_003 + i)


def _coords(i: int) -> tuple[float, float, float, float]:
    """Deterministic bbox: center spread worldwide, ~60% density in a few
    hot regions so res-5 cells skew (north-rule skew scenario)."""
    r = _rng_for(i)
    if i % 5 < 3:  # hot regions: US NE / Europe / East Asia
        cx, cy = [(-71.1, 42.36), (8.5, 47.4), (121.5, 31.2)][i % 3]
        cx += r.uniform(-3, 3)
        cy += r.uniform(-2, 2)
    else:
        cx, cy = r.uniform(-179, 179), r.uniform(-85, 85)
    dx, dy = r.uniform(0.01, 0.5), r.uniform(0.01, 0.5)
    w, e = round(cx - dx, 6), round(cx + dx, 6)
    s, n = round(cy - dy, 6), round(cy + dy, 6)
    return w, e, n, s


def _title(i: int) -> str:
    r = _rng_for(i + 7)
    ws = [str(_WORDS[j]) for j in r.randint(0, len(_WORDS), 3)]
    return f"{ws[0].title()} {ws[1].title()} {ws[2].title()} {1990 + i % 35}"


def _fgdc_xml(i: int, edge: str) -> bytes:
    w, e, n, s = _coords(i)
    year = 1990 + i % 35
    title = "" if edge == "missing_title" else f"<title>{_title(i)}</title>"
    wb: object = w
    if edge == "invalid_bbox":
        wb = f"W{abs(w):03.0f}"  # non-numeric -> WKT validator nulls the bbox
    bounding = (
        f"<bounding><westbc>{wb}</westbc><eastbc>{e}</eastbc>"
        f"<northbc>{n}</northbc><southbc>{s}</southbc></bounding>"
    )
    if edge == "multi_bbox":
        w2, e2, n2, s2 = _coords(i + 99)
        bounding += (
            f"<bounding><westbc>{w2}</westbc><eastbc>{e2}</eastbc>"
            f"<northbc>{n2}</northbc><southbc>{s2}</southbc></bounding>"
        )
    acc = "Unrestricted Access Online" if i % 3 else "Restricted Access Online"
    subj = _SUBJECTS[i % len(_SUBJECTS)]
    place = _PLACES[i % len(_PLACES)]
    creator = _CREATORS[i % len(_CREATORS)]
    publisher = _PUBLISHERS[i % len(_PUBLISHERS)]
    return (
        "<metadata><idinfo>"
        f"<citation><citeinfo><origin>{creator}</origin>"
        f"<pubdate>{year}0315</pubdate>{title}"
        f"<onlink>http://hdl.handle.net/1721.3/{10000 + i}</onlink>"
        "<geoform>vector digital data</geoform>"
        f"<pubinfo><publish>{publisher}</publish></pubinfo>"
        "</citeinfo></citation>"
        f"<descript><abstract>Synthetic layer {i} covering {place}.</abstract>"
        "<langdata>eng</langdata></descript>"
        "<timeperd><timeinfo><rngdates>"
        f"<begdate>{year}0101</begdate><enddate>{year + 2}1231</enddate>"
        "</rngdates>"
        f"<mdattim><sngdate><caldate>{year}0601</caldate></sngdate>"
        f"<sngdate><caldate>{year + 1}0601</caldate></sngdate></mdattim>"
        "</timeinfo></timeperd>"
        f"<keywords><theme><themekey>{subj}</themekey>"
        f"<themekey>transportation</themekey></theme>"
        f"<place><placekey>{place}</placekey></place>"
        f"<temporal><tempkey>{year}</tempkey></temporal></keywords>"
        f"<spdom>{bounding}</spdom>"
        f"<accconst>{acc}</accconst>"
        "<useconst>Use of this item is subject to license.</useconst>"
        "</idinfo>"
        f'<spdoinfo><ptvctinf><sdtsterm Name="layer_{i}">'
        "<sdtstype>G-polygon</sdtstype></sdtsterm></ptvctinf></spdoinfo>"
        "<distinfo><stdorder><digform><digtinfo><formname>Shapefile</formname>"
        "</digtinfo></digform></stdorder></distinfo>"
        "</metadata>"
    ).encode()


def _iso19139_xml(i: int, edge: str) -> bytes:
    w, e, n, s = _coords(i)
    year = 1990 + i % 35
    title = "" if edge == "missing_title" else (
        "<gmd:title><gco:CharacterString>"
        f"{_title(i)}</gco:CharacterString></gmd:title>"
    )
    restricted = i % 3 == 0
    restriction = (
        '<gmd:resourceConstraints><gmd:MD_LegalConstraints>'
        '<gmd:accessConstraints>'
        f'<gmd:MD_RestrictionCode codeListValue="{"restricted" if restricted else "license"}">'
        f'{"restricted" if restricted else "license"}</gmd:MD_RestrictionCode>'
        '</gmd:accessConstraints></gmd:MD_LegalConstraints></gmd:resourceConstraints>'
        if restricted
        else ""
    )
    subj = _SUBJECTS[i % len(_SUBJECTS)]
    place = _PLACES[i % len(_PLACES)]
    return (
        '<gmd:MD_Metadata xmlns:gmd="http://www.isotc211.org/2005/gmd" '
        'xmlns:gco="http://www.isotc211.org/2005/gco" '
        'xmlns:gml="http://www.opengis.net/gml">'
        "<gmd:identificationInfo><gmd:MD_DataIdentification>"
        f"<gmd:citation><gmd:CI_Citation>{title}"
        "<gmd:alternateTitle><gco:CharacterString>"
        f"alt-{i}</gco:CharacterString></gmd:alternateTitle>"
        "<gmd:date><gmd:CI_Date>"
        f"<gmd:date><gco:Date>{year}-03-15</gco:Date></gmd:date>"
        '<gmd:dateType><gmd:CI_DateTypeCode codeListValue="publication">'
        "publication</gmd:CI_DateTypeCode></gmd:dateType>"
        "</gmd:CI_Date></gmd:date>"
        "<gmd:citedResponsibleParty><gmd:CI_ResponsibleParty>"
        "<gmd:organisationName><gco:CharacterString>"
        f"{_CREATORS[i % len(_CREATORS)]}</gco:CharacterString></gmd:organisationName>"
        '<gmd:role><gmd:CI_RoleCode codeListValue="originator">originator'
        "</gmd:CI_RoleCode></gmd:role>"
        "</gmd:CI_ResponsibleParty></gmd:citedResponsibleParty>"
        "<gmd:citedResponsibleParty><gmd:CI_ResponsibleParty>"
        "<gmd:organisationName><gco:CharacterString>"
        f"{_PUBLISHERS[i % len(_PUBLISHERS)]}</gco:CharacterString>"
        "</gmd:organisationName>"
        '<gmd:role><gmd:CI_RoleCode codeListValue="publisher">publisher'
        "</gmd:CI_RoleCode></gmd:role>"
        "</gmd:CI_ResponsibleParty></gmd:citedResponsibleParty>"
        "<gmd:identifier><gmd:MD_Identifier><gmd:code>"
        f"<gco:CharacterString>iso-{i}</gco:CharacterString>"
        "</gmd:code></gmd:MD_Identifier></gmd:identifier>"
        "</gmd:CI_Citation></gmd:citation>"
        "<gmd:abstract><gco:CharacterString>"
        f"Synthetic ISO layer {i} covering {place}."
        "</gco:CharacterString></gmd:abstract>"
        f"{restriction}"
        "<gmd:language><gmd:LanguageCode>eng</gmd:LanguageCode></gmd:language>"
        "<gmd:descriptiveKeywords><gmd:MD_Keywords>"
        f"<gmd:keyword><gco:CharacterString>{subj}</gco:CharacterString></gmd:keyword>"
        "</gmd:MD_Keywords></gmd:descriptiveKeywords>"
        "<gmd:descriptiveKeywords><gmd:MD_Keywords>"
        f"<gmd:keyword><gco:CharacterString>{place}</gco:CharacterString></gmd:keyword>"
        '<gmd:type><gmd:MD_KeywordTypeCode codeListValue="place">place'
        "</gmd:MD_KeywordTypeCode></gmd:type>"
        "</gmd:MD_Keywords></gmd:descriptiveKeywords>"
        "<gmd:topicCategory><gmd:MD_TopicCategoryCode>environment"
        "</gmd:MD_TopicCategoryCode></gmd:topicCategory>"
        "<gmd:extent><gmd:EX_Extent>"
        "<gmd:geographicElement><gmd:EX_GeographicBoundingBox>"
        f"<gmd:westBoundLongitude><gco:Decimal>{w}</gco:Decimal></gmd:westBoundLongitude>"
        f"<gmd:eastBoundLongitude><gco:Decimal>{e}</gco:Decimal></gmd:eastBoundLongitude>"
        f"<gmd:southBoundLatitude><gco:Decimal>{s}</gco:Decimal></gmd:southBoundLatitude>"
        f"<gmd:northBoundLatitude><gco:Decimal>{n}</gco:Decimal></gmd:northBoundLatitude>"
        "</gmd:EX_GeographicBoundingBox></gmd:geographicElement>"
        "<gmd:temporalElement><gmd:EX_TemporalExtent><gmd:extent>"
        f'<gml:TimePeriod><gml:beginPosition>{year}-01-01</gml:beginPosition>'
        f"<gml:endPosition>{year + 2}-12-31</gml:endPosition></gml:TimePeriod>"
        "</gmd:extent></gmd:EX_TemporalExtent></gmd:temporalElement>"
        "</gmd:EX_Extent></gmd:extent>"
        "</gmd:MD_DataIdentification></gmd:identificationInfo>"
        "<gmd:distributionInfo><gmd:MD_Distribution><gmd:distributionFormat>"
        "<gmd:MD_Format><gmd:name><gco:CharacterString>Shapefile"
        "</gco:CharacterString></gmd:name></gmd:MD_Format>"
        "</gmd:distributionFormat></gmd:MD_Distribution></gmd:distributionInfo>"
        "<gmd:hierarchyLevel>"
        '<gmd:MD_ScopeCode codeListValue="dataset">dataset</gmd:MD_ScopeCode>'
        "</gmd:hierarchyLevel>"
        "</gmd:MD_Metadata>"
    ).encode()


def _gbl1_json(i: int, edge: str) -> bytes:
    w, e, n, s = _coords(i)
    rec = {
        "dc_identifier_s": f"gbl1-{i}",
        "dc_title_s": None if edge == "missing_title" else _title(i),
        "dc_description_s": f"Synthetic GBL1 record {i}.",
        "dc_rights_s": "Public" if i % 3 else "Restricted",
        "dct_provenance_s": "MIT",
        "layer_geom_type_s": ["Polygon", "Point", "Line", "Raster"][i % 4],
        "dc_creator_sm": [_CREATORS[i % len(_CREATORS)]],
        "dc_publisher_s": _PUBLISHERS[i % len(_PUBLISHERS)],
        "dc_format_s": "Shapefile",
        "dc_language_s": "English",
        "dc_type_s": "Dataset",
        "dc_subject_sm": [_SUBJECTS[i % len(_SUBJECTS)], "Transportation"],
        "dct_spatial_sm": [_PLACES[i % len(_PLACES)]],
        "dct_issued_s": f"{1990 + i % 35}-03-15",
        "dct_temporal_sm": [str(1990 + i % 35)],
        "solr_geom": f"ENVELOPE({w}, {e}, {n}, {s})",
        "solr_year_i": 1990 + i % 35,
        "dct_references_s": json.dumps(
            {"http://schema.org/url": f"https://example.test/gbl1/{i}"}
        ),
    }
    if edge == "missing_title":
        rec.pop("dc_title_s")
    if edge == "suppressed":
        rec["suppressed_b"] = True
    payload = json.dumps(rec, sort_keys=True)
    if edge == "double_encoded":
        payload = json.dumps(payload)
    return payload.encode()


def _aardvark_json(i: int, edge: str) -> bytes:
    w, e, n, s = _coords(i)
    year = 1990 + i % 35
    rec = {
        "id": f"aardvark-{i}",
        "dct_title_s": "" if edge == "empty_strings" else _title(i),
        "dct_accessRights_s": "Public" if i % 3 else "Restricted",
        "gbl_mdVersion_s": "Aardvark",
        "gbl_mdModified_dt": "2024-01-01T00:00:00Z",
        "gbl_resourceClass_sm": [["Datasets", "Maps", "Imagery"][i % 3]],
        "dct_references_s": json.dumps(
            {"http://schema.org/url": f"https://example.test/aardvark/{i}"}
        ),
        "dcat_bbox": f"ENVELOPE({w}, {e}, {n}, {s})",
        "locn_geometry": f"ENVELOPE({w}, {e}, {n}, {s})",
        "dct_creator_sm": [_CREATORS[i % len(_CREATORS)]],
        "dct_subject_sm": [_SUBJECTS[i % len(_SUBJECTS)]],
        "dct_spatial_sm": [_PLACES[i % len(_PLACES)]],
        "dct_temporal_sm": [str(year)],
        "gbl_indexYear_im": [year],
        "gbl_dateRange_drsim": f"[{year} TO {year + 2}]",
        "dct_language_sm": ["eng"],
        "gbl_resourceType_sm": ["Polygon data"],
    }
    if edge == "missing_title":
        rec.pop("dct_title_s")
    if edge == "suppressed":
        rec["gbl_suppressed_b"] = True
    return json.dumps(rec, sort_keys=True).encode()


def _marc_coord(val: float, ew: bool) -> str:
    """decimal degrees -> MARC 034 'hdddmmss' coordinate string."""
    hemi = ("W" if val < 0 else "E") if ew else ("S" if val < 0 else "N")
    a = abs(val)
    d = int(a)
    m = int((a - d) * 60)
    s = int(round(((a - d) * 60 - m) * 60))
    if s == 60:
        s, m = 0, m + 1
    if m == 60:
        m, d = 0, d + 1
    return f"{hemi}{d:03d}{m:02d}{s:02d}"


def _marc_xml(i: int, edge: str) -> bytes:
    w, e, n, s = _coords(i)
    if edge == "point_degenerate":
        e, s = w, n
    year = 1990 + i % 35
    leader_5 = "d" if edge == "deleted" else "c"
    title = "" if edge == "missing_title" else (
        f'<datafield tag="245" ind1="1" ind2="0">'
        f'<subfield code="a">{_title(i)}</subfield>'
        f'<subfield code="f">{year}</subfield></datafield>'
    )
    coords = (
        f'<datafield tag="034" ind1="1" ind2=" ">'
        f'<subfield code="d">{_marc_coord(w, True)}</subfield>'
        f'<subfield code="e">{_marc_coord(e, True)}</subfield>'
        f'<subfield code="f">{_marc_coord(n, False)}</subfield>'
        f'<subfield code="g">{_marc_coord(s, False)}</subfield></datafield>'
    )
    if edge == "multi_bbox":
        w2, e2, n2, s2 = _coords(i + 99)
        coords += (
            f'<datafield tag="034" ind1="1" ind2=" ">'
            f'<subfield code="d">{_marc_coord(w2, True)}</subfield>'
            f'<subfield code="e">{_marc_coord(e2, True)}</subfield>'
            f'<subfield code="f">{_marc_coord(n2, False)}</subfield>'
            f'<subfield code="g">{_marc_coord(s2, False)}</subfield></datafield>'
        )
    return (
        '<record xmlns="http://www.loc.gov/MARC21/slim">'
        f"<leader>01234{leader_5}em a2200000 a 4500</leader>"
        f'<controlfield tag="001">99{100000 + i}</controlfield>'
        f'<controlfield tag="007">aj canzn</controlfield>'
        f'<controlfield tag="008">120523s{year}    mau           000 0 eng d</controlfield>'
        f"{coords}{title}"
        f'<datafield tag="336" ind1=" " ind2=" ">'
        '<subfield code="a">cartographic image</subfield></datafield>'
        f'<datafield tag="260" ind1=" " ind2=" ">'
        f'<subfield code="b">{_PUBLISHERS[i % len(_PUBLISHERS)]},</subfield></datafield>'
        f'<datafield tag="520" ind1=" " ind2=" ">'
        f'<subfield code="a">Synthetic MARC map record {i}.</subfield></datafield>'
        f'<datafield tag="650" ind1=" " ind2="0">'
        f'<subfield code="a">{_SUBJECTS[i % len(_SUBJECTS)]}</subfield>'
        f'<subfield code="z">{_PLACES[i % len(_PLACES)]}.</subfield></datafield>'
        f'<datafield tag="655" ind1=" " ind2="7">'
        '<subfield code="a">Maps.</subfield></datafield>'
        f'<datafield tag="949" ind1=" " ind2=" ">'
        '<subfield code="k">MAP</subfield></datafield>'
        f'<datafield tag="985" ind1=" " ind2=" ">'
        '<subfield code="aa">MAPRM</subfield></datafield>'
        "</record>"
    ).encode()


_PAYLOAD_BUILDERS = {
    "fgdc": _fgdc_xml,
    "iso19139": _iso19139_xml,
    "gbl1": _gbl1_json,
    "aardvark": _aardvark_json,
    "marc": _marc_xml,
}

# edge-case schedule keyed by i % 23 (0 and most residues = normal rows)
_EDGES: dict[int, str] = {
    1: "missing_title",
    2: "suppressed",
    3: "deleted",
    4: "invalid_bbox",
    5: "multi_bbox",
    6: "point_degenerate",
    7: "double_encoded",
    8: "empty_strings",
}


def edge_for(i: int, fmt: str) -> str:
    edge = _EDGES.get(i % 23, "")
    # edges only meaningful for certain formats; otherwise normal row
    valid = {
        "missing_title": {"fgdc", "iso19139", "gbl1", "aardvark", "marc"},
        "suppressed": {"gbl1", "aardvark"},
        "deleted": {"fgdc", "iso19139", "gbl1", "aardvark", "marc"},
        "invalid_bbox": {"fgdc"},
        "multi_bbox": {"fgdc", "marc"},
        "point_degenerate": {"marc"},
        "double_encoded": {"gbl1"},
        "empty_strings": {"aardvark"},
    }
    return edge if edge and fmt in valid[edge] else ""


def url_for(i: int, fmt: str) -> str:
    """FIXTURES.md T1 url convention — host prefix encodes origin."""
    if fmt in ("fgdc", "iso19139"):
        return f"https://cdn.mit.test/gis/data_{i}.zip/data_{i}/{fmt}.xml"
    if fmt in ("gbl1", "aardvark"):
        repo = ["edu.mit", "edu.stanford", "edu.nyu"][i % 3]
        return f"https://github.test/OpenGeoMetadata/{repo}/metadata/{i}/record.json"
    day = dt.date(2024, 1, 1) + dt.timedelta(days=i % 120)
    kind = "full" if i % 7 == 0 else "daily"
    return (
        f"https://alma.test/alma-{day.isoformat()}-{kind}-extracted-records-"
        f"to-index_{i % 4:02d}.xml#rec{i}"
    )


def page_row(i: int) -> dict:
    fmt = FORMATS[i % 5]
    edge = edge_for(i, fmt)
    payload = _PAYLOAD_BUILDERS[fmt](i, edge)
    event = "deleted" if edge == "deleted" else "created"
    title = _title(i)
    body_extra = " ".join(
        str(_WORDS[j]) for j in _rng_for(i + 31).randint(0, len(_WORDS), 12)
    )
    html = (
        f"<html><head><title>{title}</title>"
        '<style>body{font:serif}</style></head><body>'
        f"<h1>{title}</h1>"
        f"<p>Dataset page for record {i} ({fmt}).</p>"
        f"<p>{body_extra}</p>"
        f'<script type="application/geo-metadata" data-format="{fmt}"'
        f' data-event="{event}">{payload.decode()}</script>'
        "</body></html>"
    ).encode()
    ts = dt.datetime(2024, 1, 1) + dt.timedelta(
        days=int(i * 137) % 365, seconds=int(i * 9973) % 86400
    )
    return {
        "url": url_for(i, fmt),
        "warc_ts": ts,
        "html": html,
        "text": extract_text_bytes(html),
        "lang": ["en", "fr", "de", "es", "zh"][i % 5] if i % 11 else "en",
    }


def web_pages_pdf(n: int) -> pd.DataFrame:
    return pd.DataFrame([page_row(i) for i in range(n)])


def web_pages_df(spark, n: int, partitions: int | None = None):
    """web_pages as a Spark DataFrame.

    For large n the rows are built executor-side (distributed generation via
    mapInPandas over an index range) so the driver never materializes the
    corpus — the same pattern a 100 TB backfill would use.
    """
    from .schema import PAGES_SCHEMA

    if n <= 2_000 and partitions is None:
        return spark.createDataFrame(web_pages_pdf(n), schema=PAGES_SCHEMA)
    parts = partitions or max(32, n // 2_000)

    def _gen(batches):
        for pdf in batches:
            for lo, hi in zip(pdf["lo"], pdf["hi"]):
                yield pd.DataFrame([page_row(i) for i in range(lo, hi)])

    step = (n + parts - 1) // parts
    ranges = spark.createDataFrame(
        [(i, min(i + step, n)) for i in range(0, n, step)], "lo long, hi long"
    ).repartition(parts)
    return ranges.mapInPandas(_gen, PAGES_SCHEMA)


# ---------------------------------------------------------------------------
# T4 polygons / T5 query points
# ---------------------------------------------------------------------------
def polygons_pdf(n: int = 1000) -> pd.DataFrame:
    rows = []
    for i in range(n):
        r = np.random.RandomState(SEED * 7 + i)
        if i < max(3, n // 200):  # continent-scale polygons -> hot cells
            cx, cy = r.uniform(-120, 120), r.uniform(-50, 50)
            radius = r.uniform(20.0, 45.0)
        else:
            if i % 2:
                cx, cy = [(-71.1, 42.36), (8.5, 47.4), (121.5, 31.2)][i % 3]
                cx += r.uniform(-4, 4)
                cy += r.uniform(-3, 3)
            else:
                cx, cy = r.uniform(-170, 170), r.uniform(-80, 80)
            radius = r.uniform(0.05, 2.0)
        k = int(r.randint(5, 10))
        angles = np.sort(r.uniform(0, 2 * np.pi, k))
        radii = r.uniform(0.55, 1.0, k) * radius
        xs = np.clip(cx + radii * np.cos(angles), -180, 180)
        ys = np.clip(cy + radii * np.sin(angles), -90, 90)
        pts = list(zip(xs.round(6), ys.round(6)))
        pts.append(pts[0])
        wkt = "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in pts) + "))"
        rows.append(
            {
                "poly_id": f"poly{i:05d}",
                "wkt": wkt,
                "bbox": {
                    "w": float(xs.min()),
                    "e": float(xs.max()),
                    "n": float(ys.max()),
                    "s": float(ys.min()),
                },
            }
        )
    return pd.DataFrame(rows)


def polygons_df(spark, n: int = 1000):
    from .schema import POLYGONS_SCHEMA

    return spark.createDataFrame(polygons_pdf(n), schema=POLYGONS_SCHEMA)


def query_points_pdf(n: int = 300) -> pd.DataFrame:
    rows = []
    for i in range(n):
        r = np.random.RandomState(SEED * 13 + i)
        if i % 2:
            cx, cy = [(-71.1, 42.36), (8.5, 47.4), (121.5, 31.2)][i % 3]
            lon, lat = cx + r.uniform(-5, 5), cy + r.uniform(-4, 4)
        else:
            lon, lat = r.uniform(-179, 179), r.uniform(-85, 85)
        rows.append(
            {
                "qid": f"q{i:05d}",
                "lon": round(float(lon), 6),
                "lat": round(float(lat), 6),
                "k": [3, 10, 50][i % 3],
            }
        )
    return pd.DataFrame(rows)


def query_points_df(spark, n: int = 300):
    from .schema import QUERY_POINTS_SCHEMA

    return spark.createDataFrame(query_points_pdf(n), schema=QUERY_POINTS_SCHEMA)
