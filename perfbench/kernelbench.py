"""Microbenchmarks of the NumPy kernels on fixed inputs.

The inputs come from the workload generators with seed 0, whatever the
run's ``--seed``, so every run times the same work. Each kernel reports
the median microseconds per call and an operation count for one call:
point-edge tests, grid pixels or vertices, as noted per kernel.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

import gen


def _time_us(fn, min_s: float = 0.15, min_calls: int = 3) -> float:
    samples = []
    t_end = time.perf_counter() + min_s
    while len(samples) < min_calls or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        samples.append((time.perf_counter() - t0) * 1e6)
    return statistics.median(samples)


def _inputs():
    from robosat_spark.kernels import mercator as M
    from robosat_spark.kernels import raster

    dense = gen.dense_features(0)[0][0] / gen.SCALE  # a 128-gon over the hot tile
    _, lon_u, lat_u = gen.make_points(0, 200_000)
    left, bottom, right, top = M.tile_xy_bounds(*gen.hot_tile(), gen.ZOOM)
    size = gen.MASK_SIZE

    def to_px(lon, lat):
        mx, my = M.lonlat_to_mercator(lon, lat)
        return (mx - left) * size / (right - left), (top - my) * size / (top - bottom)

    mask = raster.rasterize_rings([dense], size, size, to_px)
    mx, my = M.lonlat_to_mercator(dense[:, 0], dense[:, 1])
    return {
        "dense": dense,
        "px": lon_u / gen.SCALE,
        "py": lat_u / gen.SCALE,
        "to_px": to_px,
        "mask": mask,
        "contour": raster.find_contours(mask)[0][0].astype(np.float64),
        "shifted": dense + np.array([2e-5, 1e-5]),
        "dense_m": np.column_stack([mx, my]),
    }


def run() -> dict:
    """-> {kernel.<name>_us, kernel.<name>_ops} for the seven kernels."""
    from robosat_spark.kernels import buffer, geometry as G, raster

    k = _inputs()
    dense, px, py, contour = k["dense"], k["px"], k["py"], k["contour"]
    size, nv = gen.MASK_SIZE, len(dense) - 1
    out = {}

    def record(name, fn, ops):
        out[f"kernel.{name}_us"] = _time_us(fn)
        out[f"kernel.{name}_ops"] = float(ops)

    inb = ((px >= dense[:, 0].min()) & (px <= dense[:, 0].max())
           & (py >= dense[:, 1].min()) & (py <= dense[:, 1].max()))
    # point-edge tests left after the kernel's own bbox cull
    record("points_in_polygon", lambda: G.points_in_polygon(px, py, [dense]), int(inb.sum()) * nv)
    record("cover_rings", lambda: raster.cover_rings([dense], gen.ZOOM), nv)  # edges walked
    record("rasterize_rings", lambda: raster.rasterize_rings([dense], size, size, k["to_px"]),
           size * size)
    record("find_contours", lambda: raster.find_contours(k["mask"]), size * size)
    eps = 0.005 * G.arc_length(contour, closed=True)
    record("simplify_dp", lambda: G.simplify_dp(contour, eps, closed=True), len(contour))
    record("exact_iou", lambda: G.exact_iou([dense], [k["shifted"]]), nv * nv)
    record("buffer_ring", lambda: buffer.buffer_ring(k["dense_m"], gen.MERGE_THRESHOLD_M, resolution=256),
           nv)
    return out
