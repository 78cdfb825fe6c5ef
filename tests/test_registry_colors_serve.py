"""Registry (§2.11), colors (G26), point lookup (P3)."""

import numpy as np
import pytest

from robosat_spark import registry
from robosat_spark.functions.colors import COLORS, class_palette, continuous_palette_for_color


def test_registry_builtins_present():
    assert "cover" in registry.names("expand")
    assert {"assign", "merge_features", "minhash_lsh_pairs"} <= set(
        registry.names("grouped")
    )
    assert {"tile_x", "simhash", "road_width_m"} <= set(registry.names("scalar"))
    assert "pages_from_events" in registry.names("source")
    assert "write_slippy_grids" in registry.names("sink")
    k = registry.get("assign")
    assert callable(k.fn) and k.kind == "grouped"
    with pytest.raises(KeyError):
        registry.get("nope")


def test_register_custom_handler_contract():
    def my_handler(df):
        return df

    registry.register("custom_featurizer", "grouped", my_handler, "test handler")
    assert registry.get("custom_featurizer").fn is my_handler


def test_palettes():
    pal = class_palette(["denim", "orange"])
    assert pal == [48, 96, 176, 255, 127, 14]
    cont = continuous_palette_for_color("denim", bins=4)
    assert len(cont) == 12
    # reference bit-parity (colors.py:70-95): ramp to FULL saturation with
    # int() truncation — last bin is full-sat denim hue, not the base color
    assert cont == [131, 148, 176, 88, 121, 176, 44, 93, 176, 0, 65, 176]
    # value channel (blue for denim's hue) constant across the ramp
    assert cont[2] == cont[5] == cont[8] == cont[11] == 176
    assert COLORS["denim"] == (48, 96, 176)


def test_lookup_tile_partition_pruned(spark, tmp_path):
    from robosat_spark.operators.serve import lookup_tile
    from robosat_spark.sources.sinks import write_slippy_grids

    size = 4
    rows = [
        (18, x, y, size, size, np.full((size, size), x * 10 + y, dtype=np.uint8).tobytes())
        for x in (1, 2) for y in (1, 2)
    ]
    masks = spark.createDataFrame(rows, "z INT, x LONG, y LONG, w INT, h INT, data BINARY")
    root = str(tmp_path / "grids")
    write_slippy_grids(masks, root)
    grids = spark.read.parquet(root)
    hit = lookup_tile(grids, 18, 2, 1)
    assert hit is not None
    assert np.frombuffer(hit["data"], dtype=np.uint8)[0] == 21
    assert lookup_tile(grids, 18, 9, 9) is None
    # the filter must prune to the single z/x partition directory
    plan = grids.filter("z = 18 and x = 2 and y = 1")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
