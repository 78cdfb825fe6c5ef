"""Engine defects the benchmark ran into, reproduced at their smallest.

Each test states the behaviour the engine should have. They fail on the
engine as it is when this benchmark was added; see perfbench/README.md,
"Known engine defects", for how the workloads relate to them.
"""

import numpy as np


def test_find_contours_outer_border_starting_at_an_isolated_pixel():
    """A blob whose first pixel in scan order has background on both sides
    is an outer border, not a hole. ``merge_features`` orients and filters
    by this flag, so the misflag drops the whole merged component."""
    from robosat_spark.kernels.raster import find_contours

    mask = np.zeros((6, 8), dtype=np.uint8)
    mask[1, 2] = 1
    mask[2:4, 1:6] = 1
    _, hierarchy = find_contours(mask)
    assert hierarchy == [{"parent": -1, "is_hole": False}]


def test_dedupe_keeps_a_prediction_without_candidates(spark):
    """A predicted feature with no osm feature in any of its cells is kept
    (iou 0); today the grouped refine's Python worker crashes on the null
    osm rings of the left-outer join."""
    from robosat_spark.operators.dedupe import dedupe

    def rect(x0, y0, w):
        return [[[x0, y0], [x0 + w, y0], [x0 + w, y0 + w], [x0, y0 + w], [x0, y0]]]

    schema = "feature_id LONG, rings ARRAY<ARRAY<ARRAY<DOUBLE>>>"
    pred = spark.createDataFrame(
        [(0, rect(-82.83, 34.66, 0.001)), (1, rect(-82.81, 34.68, 0.001))], schema
    )
    osm = spark.createDataFrame([(5, rect(-82.83, 34.66, 0.001))], schema)
    verdicts = {r["pred_id"]: r["keep"] for r in dedupe(spark, pred, osm).collect()}
    assert verdicts == {0: False, 1: True}
