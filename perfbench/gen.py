"""Seeded NumPy input generators for the two workloads.

Every coordinate lives on a 1e-7 degree integer lattice. The pages carry
them as ``geo:{lat},{lon}`` text tokens written from the integers, and the
feature parquet stores ``k / 1e7`` doubles. Both parse back to exactly the
doubles the engine sees, while the reference (``reference.py``) keeps the
integers and tests point-in-polygon with exact int64 arithmetic.

Outputs are cached under ``<cache>/<name>`` keyed by (seed, size), so
a re-run with the same seed skips generation. Only the most recent few
entries are kept.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SCALE = 10_000_000  # lattice units per degree
# the generated world: a ~3.7 km x 3.3 km bbox
LON0, LON1 = -82.84, -82.80
LAT0, LAT1 = 34.66, 34.69
ZOOM = 18
WORDS = np.array(
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu parking building road water".split()
)
PAGE_FILES = 16  # one scan task per file: enough splits for any core count here
CACHE_KEEP = 24  # ~30 MB per pip entry: ten seeds of both workloads stay cached


def _rng(seed: int, tag: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, tag))])


def tile_bounds(x: int, y: int, z: int):
    """-> (west, south, east, north) degrees of a slippy tile."""
    n = 2.0**z
    west = x / n * 360.0 - 180.0
    east = (x + 1) / n * 360.0 - 180.0
    north = np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * y / n))))
    south = np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * (y + 1) / n))))
    return west, south, east, north


def tile_xy(lon: float, lat: float, z: int):
    """-> (x, y) of the slippy tile containing a point."""
    n = 2.0**z
    x = int((lon + 180.0) / 360.0 * n)
    y = int((1.0 - np.arcsinh(np.tan(np.radians(lat))) / np.pi) / 2.0 * n)
    return x, y


def hot_tile():
    """The planted hot z18 tile: the one containing the bbox's inner point
    at 45% / 60% of its extent."""
    return tile_xy(LON0 + 0.45 * (LON1 - LON0), LAT0 + 0.60 * (LAT1 - LAT0), ZOOM)


def _units(deg) -> np.ndarray:
    return np.round(np.asarray(deg, dtype=np.float64) * SCALE).astype(np.int64)


def _fmt(units: pa.Array) -> pa.Array:
    """int64 lattice units -> '[-]D.DDDDDDD' strings, built from integers
    so the text is exact."""
    u = units.to_numpy()
    neg = pc.if_else(pa.array(u < 0), "-", "")
    a = np.abs(u)
    whole = pc.cast(pa.array(a // SCALE), pa.string())
    frac = pc.utf8_lpad(pc.cast(pa.array(a % SCALE), pa.string()), 7, "0")
    return pc.binary_join_element_wise(neg, whole, ".", frac, "")


def make_points(seed: int, n: int):
    """-> (geotagged mask, lon units, lat units) for ``n`` pages.

    80% of pages are geotagged. Of those, 10% are scattered over the world
    and the rest fall in the bbox, half of them in the planted hot z18
    tile."""
    rng = _rng(seed, "points")
    tagged = rng.random(n) < 0.8
    noise = rng.random(n) < 0.10
    lon = rng.uniform(LON0, LON1, n)
    lat = rng.uniform(LAT0, LAT1, n)
    w, s, e, nn = tile_bounds(*hot_tile(), ZOOM)
    pad_x, pad_y = (e - w) * 0.02, (nn - s) * 0.02
    in_hot = rng.random(n) < 0.5
    lon = np.where(in_hot, rng.uniform(w + pad_x, e - pad_x, n), lon)
    lat = np.where(in_hot, rng.uniform(s + pad_y, nn - pad_y, n), lat)
    lon = np.where(noise, rng.uniform(-180.0, 180.0, n), lon)
    lat = np.where(noise, rng.uniform(-80.0, 80.0, n), lat)
    return tagged, _units(lon), _units(lat)


def _star(rng, cx, cy, r_m, nv):
    """Star-shaped simple ring of ``nv`` vertices around (cx, cy) degrees,
    radius ``r_m`` metres with radial jitter, closed, in lattice units."""
    ang = np.sort(rng.uniform(0, 2 * np.pi, nv)) if nv > 8 else np.linspace(0, 2 * np.pi, nv, endpoint=False)
    rad = r_m * rng.uniform(0.7, 1.0, nv)
    dlat = rad * np.sin(ang) / 111_320.0
    dlon = rad * np.cos(ang) / (111_320.0 * np.cos(np.radians(cy)))
    ring = np.column_stack([_units(cx + dlon), _units(cy + dlat)])
    return np.vstack([ring, ring[:1]])


def _rect(x0, y0, w, h):
    r = np.array([[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h], [x0, y0]])
    return _units(r)


def _clear_corner(rng, width: float, height: float):
    """Lower-left corner (degrees) of a ``width`` x ``height`` box drawn
    uniformly in the bbox, redrawn until the box stays 0.0005 deg (~45 m)
    clear of the hot tile. Only the features planted on the hot tile touch
    it, so the hits there, and with them the work, do not vary by seed."""
    w, s, e, n = tile_bounds(*hot_tile(), ZOOM)
    pad = 0.0005
    while True:
        x0 = rng.uniform(LON0, LON1 - width)
        y0 = rng.uniform(LAT0, LAT1 - height)
        if x0 > e + pad or x0 + width < w - pad or y0 > n + pad or y0 + height < s - pad:
            return x0, y0


def dense_features(seed: int):
    """441 features for ``pip_counts_hot``: 400 dense 128-vertex star
    polygons (8 of them over the hot tile), 24 rectangles, 8 squares with
    a square hole, and 9 small 16-gons. -> list of rings lists (lattice
    units)."""
    rng = _rng(seed, "dense")
    out = []
    w, s, e, n = tile_bounds(*hot_tile(), ZOOM)
    r_deg = 1.0 / 111_320.0 / np.cos(np.radians(LAT1))  # degrees per metre, upper bound
    for k in range(400):
        if k < 8:  # planted wholly inside the hot tile
            cx = rng.uniform(w + 0.4 * (e - w), e - 0.4 * (e - w))
            cy = rng.uniform(s + 0.4 * (n - s), n - 0.4 * (n - s))
            r_m = 35.0
        else:
            r_m = rng.uniform(15, 60)
            x0, y0 = _clear_corner(rng, 2 * r_m * r_deg, 2 * r_m * r_deg)
            cx, cy = x0 + r_m * r_deg, y0 + r_m * r_deg
        out.append([_star(rng, cx, cy, r_m, 128)])
    for k in range(24):
        width, height = rng.uniform(3e-4, 2e-3), rng.uniform(3e-4, 2e-3)
        out.append([_rect(*_clear_corner(rng, width, height), width, height)])
    for k in range(8):
        x0, y0 = _clear_corner(rng, 0.003, 0.003)
        outer = _rect(x0, y0, 0.003, 0.003)
        hole = _rect(x0 + 0.001, y0 + 0.001, 0.001, 0.001)[::-1]
        out.append([outer, hole])
    for k in range(9):
        x0, y0 = _clear_corner(rng, 80 * r_deg, 80 * r_deg)
        out.append([_star(rng, x0 + 40 * r_deg, y0 + 40 * r_deg, 40, 16)])
    return out


def _pages_table(seed: int, tagged, lon_u, lat_u) -> pa.Table:
    n = tagged.shape[0]
    rng = _rng(seed, "words")
    words = pa.array(WORDS)
    picks = rng.integers(0, len(WORDS), (8, n))
    body = pc.binary_join_element_wise(*[words.take(pa.array(p)) for p in picks], " ")
    geo = pc.binary_join_element_wise(
        " geo:", _fmt(pa.array(lat_u)), ",", _fmt(pa.array(lon_u)), ""
    )
    text = pc.if_else(pa.array(tagged), pc.binary_join_element_wise(body, geo, ""), body)
    ids = pc.utf8_lpad(pc.cast(pa.array(np.arange(n)), pa.string()), 8, "0")
    url = pc.binary_join_element_wise(f"https://example.org/{seed}/p/", ids, "")
    ts = pa.array(
        (np.int64(1_704_067_200) + rng.integers(0, 31_536_000, n)) * 1_000_000,
        type=pa.timestamp("us", tz="UTC"),
    )
    return pa.table({"url": url, "warc_ts": ts, "text": text})


def _features_table(rings_list) -> pa.Table:
    fids, rings_col, bbox = [], [], []
    for fid, rings in enumerate(rings_list):
        fids.append(fid)
        rings_col.append([(r / SCALE).tolist() for r in rings])
        ext = rings[0] / SCALE
        bbox.append({"minx": float(ext[:, 0].min()), "miny": float(ext[:, 1].min()),
                     "maxx": float(ext[:, 0].max()), "maxy": float(ext[:, 1].max())})
    return pa.table({
        "feature_id": pa.array(fids, pa.int64()),
        "kind": pa.array(["Polygon"] * len(fids)),
        "geom_id": pa.array(fids, pa.int64()),
        "rings": pa.array(rings_col, pa.list_(pa.list_(pa.list_(pa.float64())))),
        "bbox": pa.array(bbox),
    })


def _cached(root: str, name: str, build):
    """Run ``build(dir)`` once per ``name`` under ``root`` and keep the
    newest entries."""
    path = os.path.join(root, name)
    if os.path.exists(os.path.join(path, "_DONE")):
        os.utime(path)
        return path, False
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    build(path)
    open(os.path.join(path, "_DONE"), "w").close()
    entries = sorted(
        (os.path.join(root, d) for d in os.listdir(root)),
        key=os.path.getmtime,
    )
    for old in entries[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return path, True


def pip_inputs(cache: str, seed: int, n_pages: int):
    """Generate (or reuse) pages + features parquet and the reference
    answer for ``pip_counts_hot``. -> (dir, generated: bool)."""
    from reference import pip_reference

    def build(path):
        rings = dense_features(seed)
        tagged, lon_u, lat_u = make_points(seed, n_pages)
        ref = pip_reference(tagged, lon_u, lat_u, rings)
        while ref["ties"]:  # move pages lying exactly on an edge one unit east
            lon_u[np.asarray(ref["ties"])] += 1
            ref = pip_reference(tagged, lon_u, lat_u, rings)
        table = _pages_table(seed, tagged, lon_u, lat_u)
        os.makedirs(os.path.join(path, "pages"))
        step = -(-n_pages // PAGE_FILES)
        for i in range(PAGE_FILES):
            pq.write_table(table.slice(i * step, step),
                           os.path.join(path, "pages", f"part-{i:03d}.parquet"))
        pq.write_table(_features_table(rings), os.path.join(path, "features.parquet"))
        with open(os.path.join(path, "reference.json"), "w") as f:
            json.dump(ref, f)

    return _cached(cache, f"pip-s{seed}-n{n_pages}", build)


# ---------------------------------------------------------------------------
# mask_to_features: clusters of rectangles with known membership
# ---------------------------------------------------------------------------

MASK_ZOOM = 17
MASK_SIZE = 256
MERGE_THRESHOLD_M = 10.0


def cluster_features(seed: int, n_clusters: int):
    """-> (rings_list, cluster, source, osm) for ``n_clusters`` clusters of
    three axis-aligned rectangles in a row, 35-45 m wide.

    The seed moves and sizes the rectangles; the structure is fixed, so
    every seed gives the same amount of work. Each cluster's middle
    rectangle straddles a z17 tile border, so the cluster covers exactly
    two tiles and feature extraction yields four rectangular pieces.
    Members sit 3-5 m apart and the split middle rectangle's halves face
    each other across the tile border, all well within the 10 m merge
    buffer, so each cluster merges into exactly one component. Clusters
    sit two tiles (~500 m) apart. The ``source`` rectangles go through the mask chain. Even
    clusters also put their rectangles in the ``osm`` set dedupe compares
    against, so their verdict is drop. Odd clusters get one osm-only
    'near miss' rectangle 40 m north instead, in the same z16 dedupe cell:
    dedupe sees a candidate that does not intersect, and keeps them."""
    rng = _rng(seed, "clusters")
    m_lat = 1.0 / 111_320.0
    m_lon = 1.0 / (111_320.0 * np.cos(np.radians((LAT0 + LAT1) / 2)))
    x0, y0 = tile_xy(LON0 + 0.003, LAT0 + 0.01, MASK_ZOOM)
    # even column: a cluster's two tiles share a z16 dedupe cell column;
    # odd row: the southern z17 row of a z16 cell, so the near miss 40 m
    # north stays in the cluster's cell
    x0, y0 = x0 // 2 * 2, y0 // 2 * 2 + 1
    rings_list, cluster, source, osm = [], [], [], []
    for c in range(n_clusters):
        west, south, east, north = tile_bounds(x0 + 2 * c, y0, MASK_ZOOM)
        border = east
        base = north - (north - south) * rng.uniform(0.3, 0.4)  # top edge of the row
        w = rng.uniform(35, 45, 3) * m_lon
        h = rng.uniform(35, 45, 3) * m_lat
        gap = rng.uniform(3, 5, 2) * m_lon
        mid0 = border - w[1] * rng.uniform(0.35, 0.65)
        lefts = [mid0 - gap[0] - w[0], mid0, mid0 + w[1] + gap[1]]
        members = [_rect(x, base - hh, ww, hh) for x, ww, hh in zip(lefts, w, h)]
        for r in members:
            rings_list.append([r])
            cluster.append(c)
            source.append(True)
            osm.append(c % 2 == 0)
        if c % 2 == 1:
            pts = np.vstack(members) / SCALE
            lo, hi = pts.min(axis=0), pts.max(axis=0)
            rings_list.append([_rect(lo[0], hi[1] + 40 * m_lat, hi[0] - lo[0], 10 * m_lat)])
            cluster.append(c)
            source.append(False)
            osm.append(True)
    return rings_list, cluster, source, osm


def _tile_range(ring_deg, z):
    """-> ((x_min, x_max), (y_min, y_max)) of the slippy tiles a ring's
    bbox spans: for an axis-aligned rectangle, exactly the tiles it
    intersects."""
    x0, y1 = tile_xy(ring_deg[:, 0].min(), ring_deg[:, 1].min(), z)
    x1, y0 = tile_xy(ring_deg[:, 0].max(), ring_deg[:, 1].max(), z)
    return (x0, x1), (y0, y1)


def mask_inputs(cache: str, seed: int, n_clusters: int):
    """Generate (or reuse) the source-polygon parquet for mask_to_features
    plus the by-construction expectations. -> (dir, generated: bool)."""
    name = f"mask-s{seed}-c{n_clusters}"

    def build(path):
        rings, cluster, source, osm = cluster_features(seed, n_clusters)
        t = _features_table(rings)
        t = t.append_column("cluster", pa.array(cluster, pa.int64()))
        t = t.append_column("source", pa.array(source)).append_column("osm", pa.array(osm))
        pq.write_table(t, os.path.join(path, "features.parquet"))
        boxes = {}
        for r, c, s in zip(rings, cluster, source):
            if not s:
                continue
            ext = r[0] / SCALE
            b = boxes.setdefault(c, [np.inf, np.inf, -np.inf, -np.inf])
            b[0], b[1] = min(b[0], ext[:, 0].min()), min(b[1], ext[:, 1].min())
            b[2], b[3] = max(b[2], ext[:, 0].max()), max(b[3], ext[:, 1].max())
        tiles = set()
        for r in (r for r, s in zip(rings, source) if s):
            (x0, x1), (y0, y1) = _tile_range(r[0] / SCALE, MASK_ZOOM)
            tiles.update((x, y) for x in range(x0, x1 + 1) for y in range(y0, y1 + 1))
        with open(os.path.join(path, "reference.json"), "w") as f:
            json.dump({
                "clusters": n_clusters,
                "tiles": len(tiles),
                "cluster_bbox": {str(c): [float(v) for v in b] for c, b in boxes.items()},
                "cluster_in_osm": {str(c): c % 2 == 0 for c in range(n_clusters)},
            }, f)

    return _cached(cache, name, build)
