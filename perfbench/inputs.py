"""Seeded input generators and the independent reference answers the
output checks compare against. Nothing here calls the engine's operators
under test; the references are numpy / pure-Python computations."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

CITIES = ((-71.1, 42.36), (8.5, 47.4), (121.5, 31.2))


def points_pdf(seed: int, n: int) -> pd.DataFrame:
    """3/4 of the points on the 0.01-degree lattice, 1/4 in three city
    hot spots (the skew the salt census exists for)."""
    rng = np.random.default_rng([seed, 1])
    n_hot = n // 4
    n_lat = n - n_hot
    lon = np.empty(n)
    lat = np.empty(n)
    lon[:n_lat] = np.round(rng.integers(0, 36000, n_lat) * 0.01 - 180.0, 2)
    lat[:n_lat] = np.round(rng.integers(0, 18000, n_lat) * 0.01 - 90.0, 2)
    city = rng.integers(0, len(CITIES), n_hot)
    cx = np.array([c[0] for c in CITIES])[city]
    cy = np.array([c[1] for c in CITIES])[city]
    lon[n_lat:] = np.round(cx + rng.normal(0.0, 0.25, n_hot), 6)
    lat[n_lat:] = np.round(cy + rng.normal(0.0, 0.25, n_hot), 6)
    return pd.DataFrame(
        {"point_id": np.arange(n, dtype=np.int64), "lon": lon, "lat": lat}
    )


def polygons_pdf(seed: int, n: int) -> pd.DataFrame:
    """The ``synth.polygons_pdf`` mix, seeded: n//200 continent-scale
    polygons, then small polygons, every other one clustered on a city.
    The bbox is taken from the rounded WKT vertices, so it contains the
    polygon exactly."""
    rows = []
    for i in range(n):
        r = np.random.default_rng([seed, 2, i])
        if i < max(3, n // 200):
            cx, cy = r.uniform(-120, 120), r.uniform(-50, 50)
            radius = r.uniform(20.0, 45.0)
        else:
            if i % 2:
                cx, cy = CITIES[i % 3]
                cx += r.uniform(-4, 4)
                cy += r.uniform(-3, 3)
            else:
                cx, cy = r.uniform(-170, 170), r.uniform(-80, 80)
            radius = r.uniform(0.05, 2.0)
        k = int(r.integers(5, 10))
        angles = np.sort(r.uniform(0, 2 * np.pi, k))
        radii = r.uniform(0.55, 1.0, k) * radius
        xs = np.clip(cx + radii * np.cos(angles), -180, 180).round(6)
        ys = np.clip(cy + radii * np.sin(angles), -90, 90).round(6)
        pts = list(zip(xs, ys)) + [(xs[0], ys[0])]
        wkt = "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in pts) + "))"
        rows.append({
            "poly_id": f"poly{i:05d}",
            "wkt": wkt,
            "bbox": {"w": float(xs.min()), "e": float(xs.max()),
                     "n": float(ys.max()), "s": float(ys.min())},
        })
    return pd.DataFrame(rows)


def queries_pdf(seed: int, n: int) -> pd.DataFrame:
    """kNN queries, half near the hot spots, half uniform; k in {3,10,50}."""
    rng = np.random.default_rng([seed, 3])
    rows = []
    for i in range(n):
        if i % 2:
            cx, cy = CITIES[i % 3]
            lon, lat = cx + rng.uniform(-5, 5), cy + rng.uniform(-4, 4)
        else:
            lon, lat = rng.uniform(-179, 179), rng.uniform(-85, 85)
        rows.append({"qid": i, "lon": round(float(lon), 6),
                     "lat": round(float(lat), 6), "k": (3, 10, 50)[i % 3]})
    return pd.DataFrame(rows)


def pages_pdf(seed: int, n: int) -> pd.DataFrame:
    """``synth.page_row`` rows at a seed-dependent index offset: all five
    metadata formats and their normalize-failing edge cases."""
    from geoharvest_spark.synth import page_row

    base = (seed % 1000) * 100_000
    return pd.DataFrame([page_row(base + i) for i in range(n)])


# ---------------------------------------------------------------------------
# rasters
# ---------------------------------------------------------------------------
RASTER_PX = 256
RASTER_STEP = 0.02


def raster_image(seed: int, rid: int) -> np.ndarray:
    return np.random.default_rng([seed, 4, rid]).integers(
        0, 256, (RASTER_PX, RASTER_PX)
    ).astype(np.uint8)


def raster_tiepoint(seed: int, rid: int) -> tuple[float, float]:
    """Upper-left corner: odd rasters tile a 4x4 block around a city hot
    spot (where the small polygons cluster), even ones a global grid."""
    off = seed % 7
    span = RASTER_PX * RASTER_STEP
    if rid % 2:
        cx, cy = CITIES[(rid // 2 + off) % len(CITIES)]
        k = (rid // 6 + off) % 16
        return cx + (k % 4 - 2) * span, cy + (2 - k // 4) * span
    g = rid // 2 + off
    return -175.0 + (g % 50) * 7.0, 80.0 - ((g // 50) % 4) * 40.0


# ---------------------------------------------------------------------------
# reference answers
# ---------------------------------------------------------------------------
def pip_reference(points: pd.DataFrame, polygons: pd.DataFrame) -> list[tuple]:
    """(point_id, poly_id) for every point inside every polygon, by numpy
    even-odd ray casting over each polygon's bbox-filtered points."""
    from geoharvest_spark.geo import parse_polygon_wkt, points_in_polygon

    lon = points["lon"].to_numpy()
    lat = points["lat"].to_numpy()
    ids = points["point_id"].to_numpy()
    out = []
    for pid, wkt, bb in zip(polygons["poly_id"], polygons["wkt"], polygons["bbox"]):
        m = (lon >= bb["w"]) & (lon <= bb["e"]) & (lat >= bb["s"]) & (lat <= bb["n"])
        if not m.any():
            continue
        inside = points_in_polygon(lon[m], lat[m], parse_polygon_wkt(wkt))
        out.extend((int(i), pid) for i in ids[m][inside])
    return out


def knn_reference(points: pd.DataFrame, queries: pd.DataFrame) -> list[tuple]:
    """(qid, point_id, rank) by brute-force haversine over every point,
    ties broken by point_id as the engine's window orders them."""
    from geoharvest_spark.geo import EARTH_RADIUS_M

    plon = np.radians(points["lon"].to_numpy())
    plat = np.radians(points["lat"].to_numpy())
    ids = points["point_id"].to_numpy()
    out = []
    for qid, qlon, qlat, k in zip(queries["qid"], queries["lon"],
                                  queries["lat"], queries["k"]):
        ql, qp = math.radians(qlon), math.radians(qlat)
        a = (np.sin((plat - qp) / 2) ** 2
             + math.cos(qp) * np.cos(plat) * np.sin((plon - ql) / 2) ** 2)
        d = 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))
        part = np.argpartition(d, k + 8)[: k + 8]
        order = part[np.lexsort((ids[part], d[part]))][:k]
        out.extend((int(qid), int(ids[j]), r + 1) for r, j in enumerate(order))
    return out


def raster_reference(seed: int, n: int, res: int) -> pd.DataFrame:
    """Per res-``res`` cell (cell, n_pixels, sum_val) over all rasters,
    from the generated images and their pixel-centre cells."""
    from geoharvest_spark.index import ghcell_np

    frames = []
    for rid in range(n):
        img = raster_image(seed, rid)
        lon0, lat0 = raster_tiepoint(seed, rid)
        lon = lon0 + (np.arange(RASTER_PX) + 0.5) * RASTER_STEP
        lat = lat0 - (np.arange(RASTER_PX) + 0.5) * RASTER_STEP
        cell = ghcell_np(np.tile(lon, RASTER_PX), np.repeat(lat, RASTER_PX), res)
        frames.append(pd.DataFrame({"cell": cell, "v": img.reshape(-1).astype(np.int64)}))
    allp = pd.concat(frames)
    g = allp.groupby("cell")["v"].agg(["size", "sum"]).reset_index()
    return g.rename(columns={"size": "n_pixels", "sum": "sum_val"})


def zonal_reference(cells: pd.DataFrame, polygons: pd.DataFrame, res: int) -> list[tuple]:
    """(poly_id, n_cells, n_pixels, sum_val) by the cell-centre rule."""
    from geoharvest_spark.index import GHCELL_RES_BITS, GHCELL_X_BITS, ghcell_nx, ghcell_ny

    rem = cells["cell"].to_numpy() % GHCELL_RES_BITS
    x = rem // GHCELL_X_BITS
    y = rem % GHCELL_X_BITS
    pts = pd.DataFrame({
        "point_id": cells["cell"].to_numpy(),
        "lon": (x + 0.5) * (360.0 / ghcell_nx(res)) - 180.0,
        "lat": (y + 0.5) * (180.0 / ghcell_ny(res)) - 90.0,
    })
    pairs = pd.DataFrame(pip_reference(pts, polygons), columns=["cell", "poly_id"])
    j = pairs.merge(cells, on="cell")
    g = j.groupby("poly_id").agg(
        n_cells=("cell", "size"), n_pixels=("n_pixels", "sum"), sum_val=("sum_val", "sum")
    ).reset_index()
    return [(p, int(a), int(b), int(c)) for p, a, b, c in g.itertuples(index=False)]


def chunk_dedup_reference(docs: list[tuple[int, str]], chunk_tokens: int) -> list[tuple]:
    """(doc_id, n_chunks, n_kept, dedup_md5): first occurrence of each
    chunk in (doc_id, chunk_idx) order survives."""
    seen: set[str] = set()
    out = []
    for doc_id, text in sorted(docs):
        toks = text.split()
        chunks = [" ".join(toks[i:i + chunk_tokens])
                  for i in range(0, len(toks), chunk_tokens)]
        kept = []
        for c in chunks:
            if c not in seen:
                seen.add(c)
                kept.append(c)
        md5 = hashlib.md5(" ".join(kept).encode()).hexdigest()
        out.append((doc_id, len(chunks), len(kept), md5))
    return out


def cc_edges(ids: np.ndarray) -> np.ndarray:
    """The planted chain + star pair graph over the doc ids."""
    chain = ids[ids % 10 < 3]
    star = ids[(ids % 37 != 0) & (ids % 4 == 0)]
    return np.concatenate([
        np.stack([chain, chain + 1], axis=1),
        np.stack([star, star - star % 37], axis=1),
    ])


def cc_reference(edges: np.ndarray) -> list[tuple]:
    """(id, component = min id of its component) by union-find."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges.tolist():
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(v, find(v)) for v in parent]
