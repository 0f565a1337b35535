"""Driver-side oracle staging for non-SQL-expressible pipelines.

The DuckDB correctness gate can only run SQL, but several operators consume
synthetic inputs (web pages, media blobs) or compute values SQL cannot
(S2 Hilbert-curve ids). For those, this module materializes deterministic
parquet inputs on the DRIVER, single-process, with NO Spark involvement:

- ``normalized.parquet``: the fused harvest kernel (pipeline.harvest_rows_pdf)
  run locally over the same synthetic 300-page corpus the Spark queries use.
  The oracle SQL then re-implements the *sink* logic (pooling, rollups) in
  SQL over these rows — so the sinks are verified against an independent SQL
  implementation AND the distributed normalize pass is verified against a
  single-process run of the same kernel.
- ``pages.parquet``: just the synthetic urls; the Alma pruning oracle
  re-implements the latest-full+dailies-after logic entirely in SQL.
- ``media.parquet``: media_id/kind/feat_dim computed locally with the same
  deterministic feature stub.
- ``s2cells.parquet``: event_id -> S2 cell id at level 8, computed with the
  numpy reference implementation (index.s2_cell_np) over the sf0.01 events
  ids; the oracle SQL joins it back to the events view.

Everything here is pure Python/numpy/pyarrow — safe to call from
``oracle_sql()`` (which has no SparkSession) and independent of whether the
driver runs the Spark query or the oracle first.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

STAGE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".oracle_stage"
)


def _write(pdf: pd.DataFrame, name: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(STAGE_DIR, exist_ok=True)
    path = os.path.join(STAGE_DIR, name)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    return path


def stage_normalized(n_pages: int = 300) -> str:
    """Local single-process run of the fused harvest kernel, flattened."""
    from .pipeline import harvest_rows_pdf
    from .synth import web_pages_pdf

    pages = web_pages_pdf(n_pages)
    norm = harvest_rows_pdf(pages["url"], pages["html"])
    flat = pd.DataFrame(
        {
            "url": norm["url"],
            "identifier": norm["identifier"],
            "origin": norm["origin"],
            "metadata_format": norm["metadata_format"],
            "event": norm["event"],
            "error_stage": [
                (e or {}).get("stage") for e in norm["error"]
            ],
            "error_exception": [
                (e or {}).get("exception") for e in norm["error"]
            ],
            "access_rights": [
                (a or {}).get("dct_accessRights_s") for a in norm["aardvark"]
            ],
        }
    )
    return _write(flat, "normalized.parquet")


def stage_pages(n_pages: int = 300) -> str:
    from .synth import url_for, FORMATS

    urls = [url_for(i, FORMATS[i % 5]) for i in range(n_pages)]
    return _write(pd.DataFrame({"url": urls}), "pages.parquet")


def stage_media(n: int = 60) -> str:
    from .multimodal import FEATURE_DIM, decode_features, synth_media_pdf

    m = synth_media_pdf(n)
    feats = [
        decode_features(k, p, FEATURE_DIM)
        for k, p in zip(m["kind"], m["payload"])
    ]
    out = pd.DataFrame(
        {
            "media_id": m["media_id"],
            "kind": m["kind"],
            "feat_dim": pd.array([len(f) for f in feats], dtype="int32"),
            # first feature value: REAL decoded content (WAV RMS window /
            # PPM histogram bin), float32-exact between local and Spark
            "feat0": pd.array([f[0] for f in feats], dtype="float32"),
        }
    )
    return _write(out, "media.parquet")


def stage_s2_cells(sf_dir: str = "/root/testdata/sf0.01", level: int = 8) -> str:
    """event_id -> S2 cell via the numpy reference path (no Spark)."""
    import pyarrow.parquet as pq

    from .index import s2_cell_np

    ids = (
        pq.read_table(os.path.join(sf_dir, "events.parquet"), columns=["event_id"])
        .column("event_id")
        .to_numpy()
        .astype(np.int64)
    )
    lon = (ids * 7919 % 36000) / 100.0 - 180.0
    lat = (ids * 104729 % 18000) / 100.0 - 90.0
    cells = s2_cell_np(lon, lat, level)
    return _write(
        pd.DataFrame({"event_id": ids, "s2_cell": cells}), "s2cells.parquet"
    )


def stage_snapshots() -> str:
    from .snapshots import synth_snapshot_rows

    pdf = synth_snapshot_rows()
    pdf["snap"] = pdf["snap"].astype("int32")
    return _write(pdf, "snapshots.parquet")


def stage_stream_events() -> str:
    """The stream_last_event query's exact input: 3 deterministic
    micro-batches of synthetic events (dups + invalids), flattened. The
    oracle re-derives the final stateful-operator state with one batch
    window over these rows."""
    from .streaming import synth_event_batch

    rows = []
    for i0 in (0, 120, 240):
        rows.extend(synth_event_batch(i0, 120))
    return _write(pd.DataFrame(rows), "stream_events.parquet")


def stage_session_events() -> str:
    """The stream_sessionize_timeout query's exact data rows (flush rows
    excluded — they exist only to advance the watermark). The oracle
    re-derives the closed sessions with the batch gap-cumsum twin."""
    from .streaming import synth_session_rows

    return _write(pd.DataFrame(synth_session_rows()), "session_events.parquet")


def stage_media_payloads(n: int = 60) -> str:
    """Raw PPM payload BYTES (media_id, payload) — synth data only, NO
    decode/resize kernel import: the media_resize_pixels oracle
    re-implements PPM byte addressing and the NN-resize index rule
    entirely in SQL over these blobs."""
    from .multimodal import synth_media_pdf

    m = synth_media_pdf(n)
    ppm = m[
        m.apply(
            lambda r: r["kind"] == "image"
            and bytes(r["payload"])[:2] == b"P6",
            axis=1,
        )
    ]
    return _write(
        ppm[["media_id", "payload"]].reset_index(drop=True),
        "media_payloads.parquet",
    )


def stage_media_resize(out_h: int = 12, out_w: int = 16, n: int = 60) -> str:
    """Driver-side twin of the distributed resize: same decode -> NN
    resize -> PNG re-encode -> md5, single-process."""
    import hashlib as _hl

    from .multimodal import (
        _sniff_decode_image,
        encode_png,
        resize_image,
        synth_media_pdf,
    )

    m = synth_media_pdf(n)
    rows = []
    for mid, kind, payload in zip(m["media_id"], m["kind"], m["payload"]):
        if kind != "image":
            continue
        img = _sniff_decode_image(bytes(payload))
        enc = encode_png(resize_image(img, out_h, out_w))
        rows.append(
            {
                "media_id": mid,
                "out_w": out_w,
                "out_h": out_h,
                "resized_md5": _hl.md5(enc).hexdigest(),
            }
        )
    pdf = pd.DataFrame(rows)
    pdf["out_w"] = pdf["out_w"].astype("int32")
    pdf["out_h"] = pdf["out_h"].astype("int32")
    return _write(pdf, "media_resize.parquet")


def stage_lm(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Bigram-LM cost table (w1, w2, cost) from the SAME shared-config
    training the engine uses (lm.corpus_lm — pure pandas, no Spark);
    the oracle SQL replays the scoring join + integer aggregation."""
    from .lm import corpus_lm, model_rows

    rows = model_rows(corpus_lm(sf_dir))
    return _write(
        pd.DataFrame(rows, columns=["w1", "w2", "cost"]), "lm_bigrams.parquet"
    )


def stage_qmodel() -> str:
    """Sparse perceptron weight table (bucket, w) from the SAME
    shared-config training the engine uses (qmodel.train_quality_
    perceptron — pure Python, deterministic, no Spark); the oracle SQL
    independently replays featurization (lowercase split, unigram +
    bigram md5 buckets) and the weighted integer sum."""
    from .qmodel import train_quality_perceptron

    w = train_quality_perceptron()
    return _write(
        pd.DataFrame(list(w), columns=["bucket", "w"]).astype("int64"),
        "qmodel_weights.parquet",
    )


def stage_dhash_pixels() -> str:
    """Per-image dHash downsample luma values (media_id, r, c, px) from
    the planted-duplicate synth corpus. Only decode + integer luma + the
    NN downsample are trusted from the kernel (each separately verified:
    media_resize_pixels proves the NN index rule in closed-form SQL);
    the 64-bit hash packing, the 4x16 chunk banding, the bucket join and
    the Hamming filter are all REBUILT in the oracle SQL from these raw
    pixels."""
    from .imagehash import dhash_pixels, synth_dhash_media_pdf
    from .multimodal import _sniff_decode_image

    rows = []
    for mid, kind, payload in zip(
        *(lambda m: (m["media_id"], m["kind"], m["payload"]))(
            synth_dhash_media_pdf()
        )
    ):
        if kind != "image":
            continue
        try:
            img = _sniff_decode_image(bytes(payload))
        except ValueError:
            continue
        if img is None:
            continue
        px = dhash_pixels(img)
        for r in range(px.shape[0]):
            for c in range(px.shape[1]):
                rows.append((mid, r, c, int(px[r, c])))
    pdf = pd.DataFrame(rows, columns=["media_id", "r", "c", "px"])
    return _write(pdf, "dhash_pixels.parquet")




def stage_zlib(sf_dir: str = "/root/testdata/sf0.01", level: int = 6) -> str:
    """doc_id -> zlib-compressed byte length of the UTF-8 text, computed
    single-process with the same stdlib call the Spark pandas_udf makes
    (textops.with_compression_ratio) — deterministic for a fixed zlib
    build and (level, strategy, wbits)."""
    import zlib

    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    ids = t.column("doc_id").to_pylist()
    texts = t.column("text").to_pylist()
    z = [
        None if s is None else len(zlib.compress(s.encode("utf-8"), level))
        for s in texts
    ]
    return _write(pd.DataFrame({"doc_id": ids, "z_bytes": z}), "zlib.parquet")


def stage_all(sf_dir: str = "/root/testdata/sf0.01") -> dict[str, str]:
    return {
        "normalized": stage_normalized(),
        "pages": stage_pages(),
        "media": stage_media(),
        "s2cells": stage_s2_cells(sf_dir),
        "snapshots": stage_snapshots(),
        "stream_events": stage_stream_events(),
        "session_events": stage_session_events(),
        "media_resize": stage_media_resize(),
        "media_payloads": stage_media_payloads(),
        "lm_bigrams": stage_lm(sf_dir),
        "qmodel_weights": stage_qmodel(),
        "dhash_pixels": stage_dhash_pixels(),
        "zlib": stage_zlib(sf_dir),
        "overlay": stage_overlay(sf_dir),
        "hulls": stage_hulls(sf_dir),
    }


# overlay synth shared by the Spark query (entry) and the stage below:
# 25 nation-derived pentagon subjects x 8 integer rectangles (CCW)
OVERLAY_PENT_OFFS = ((4501, 3), (1353, 4255), (-3599, 2603),
                     (-3601, -2601), (1355, -4251))


def overlay_subject(k: int) -> list:
    cx = (k * 137 % 340 - 170) * 512
    cy = (k * 73 % 160 - 80) * 512
    return [(cx + dx, cy + dy) for dx, dy in OVERLAY_PENT_OFFS]


def overlay_clip(r: int) -> list:
    # anchored near subject r*3's center so most pairs exercise PARTIAL
    # clips (corner cuts), not just disjoint/contained cases
    k = (r * 3) % 25
    x0 = (k * 137 % 340 - 170) * 512 - (2048 + 11 * r)
    y0 = (k * 73 % 160 - 80) * 512 - (1024 + 7 * r)
    w = (3 + r % 4) * 2048
    h = (2 + r % 3) * 2048
    return [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)]


def stage_overlay(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Independent pure-python polygon overlay: clip each pentagon by
    each rectangle via successive HALF-PLANE cuts (the rectangle as 4
    inequalities, a structurally different formulation from the
    engine's edge-walking Sutherland-Hodgman), exact Fractions end to
    end, |2*area| emitted through the same correctly-rounded
    float(Fraction)."""
    from fractions import Fraction

    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "nation.parquet"), columns=["n_nationkey"]
    )
    keys = sorted(int(k) for k in t.column("n_nationkey").to_pylist())

    def halfplane_cut(poly, a, b, c):
        # keep points with a*x + b*y <= c; exact Fraction intersections
        out = []
        n = len(poly)
        for i in range(n):
            (x1, y1), (x2, y2) = poly[i], poly[(i + 1) % n]
            f1 = a * x1 + b * y1 - c
            f2 = a * x2 + b * y2 - c
            if f1 <= 0:
                out.append((x1, y1))
            if (f1 <= 0) != (f2 <= 0):
                t_ = Fraction(f1, f1 - f2)
                out.append((x1 + t_ * (x2 - x1), y1 + t_ * (y2 - y1)))
        return out

    rows = []
    for k in keys:
        subj = [(Fraction(x), Fraction(y)) for x, y in overlay_subject(k)]
        for r in range(8):
            (x0, y0), _, (x1, y1), _ = (
                overlay_clip(r)[0], overlay_clip(r)[1],
                overlay_clip(r)[2], overlay_clip(r)[3],
            )
            poly = subj
            for a, b, c in ((-1, 0, -x0), (1, 0, x1), (0, -1, -y0), (0, 1, y1)):
                if not poly:
                    break
                poly = halfplane_cut(poly, a, b, c)
            if poly:
                s = Fraction(0)
                n = len(poly)
                for i in range(n):
                    xa, ya = poly[i]
                    xb, yb = poly[(i + 1) % n]
                    s += xa * yb - xb * ya
                a2 = abs(s)
                nv = len(poly)
            else:
                a2, nv = Fraction(0), 0
            rows.append((k, r, nv, float(a2)))
    return _write(
        pd.DataFrame(
            rows, columns=["lid", "rid", "n_vertices", "inter_area2"]
        ),
        "overlay.parquet",
    )


def stage_hulls(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Independent per-group convex hulls by GIFT WRAPPING (Jarvis
    march, strict turns — structurally different from the engine's
    monotone chain) over the same synthetic integer points."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "events.parquet"), columns=["event_id"]
    )
    ids = sorted(int(i) for i in t.column("event_id").to_pylist())
    groups: dict = {}
    for i in ids:
        g = i % 40
        groups.setdefault(g, set()).add(
            ((i * i * 7 + i) % 2001 - 1000, (i * i * 13 + 5 * i) % 1601 - 800)
        )

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    rows = []
    for g in sorted(groups):
        pts = sorted(groups[g])
        if len(pts) <= 2:
            hull = pts
        else:
            hull = []
            start = min(pts)
            p = start
            while True:
                hull.append(p)
                q = pts[0] if pts[0] != p else pts[1]
                for r in pts:
                    if r == p:
                        continue
                    c = cross(p, q, r)
                    if c < 0 or (
                        c == 0
                        and (r[0] - p[0]) ** 2 + (r[1] - p[1]) ** 2
                        > (q[0] - p[0]) ** 2 + (q[1] - p[1]) ** 2
                    ):
                        q = r
                p = q
                if p == start:
                    break
        a2 = 0
        n = len(hull)
        if n >= 3:
            for i in range(n):
                x1, y1 = hull[i]
                x2, y2 = hull[(i + 1) % n]
                a2 += x1 * y2 - x2 * y1
        rows.append((g, len(pts), n, abs(a2)))
    return _write(
        pd.DataFrame(
            rows, columns=["group_id", "n_points", "n_hull", "hull_area2"]
        ),
        "hulls.parquet",
    )
