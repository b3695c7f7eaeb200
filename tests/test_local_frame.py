"""``session.local_frame`` schema pins: for every schema the engine builds
driver-side frames with, the Arrow-built local relation has exactly the
names, types and nullability of the row-list ``createDataFrame`` it
replaced, the same rows, and a JVM-only plan."""

from __future__ import annotations

import json

import pytest

from stac_catalog_builder_spark.session import local_frame
from stac_catalog_builder_spark.sources.config import (
    ASSET_CONFIG_SCHEMA,
    asset_config_df,
    load_collection_config,
)

# (schema, sample rows) for each converted call site
CASES = {
    "cover": (
        "cover_cell bigint, poly_idx int, is_full boolean",
        [(123456789012, 0, True), (123456789013, 1, False)],
    ),
    "metrics": (
        "part_key string, n_rows bigint, stage string",
        [("01", 25, "s"), ("a:b/c", 3, "s")],
    ),
    "lineage": ("part_key string, stage string", [("01", "s"), ("100%", "s")]),
    "asset_config": (
        ASSET_CONFIG_SCHEMA,
        [
            ("B01", "Band 1", "image/tiff", ["data"], [("b1", "uint16", 0, 1)]),
            ("meta", "Meta", "application/json", [], []),
            ("B02", "Band 2", "image/tiff", ["data", "x"], [("b2", "int8", None, 2)]),
        ],
    ),
    "paint_polygons": (
        "poly_idx int, label string, xw bigint, xe bigint, ys bigint, yn bigint",
        [(0, "E2N4", 7_200_000, 7_240_000, 3_600_000, 3_640_000)],
    ),
    "quantiles": ("q_e6 bigint", [(0,), (500_000,), (1_000_000,)]),
    "terms": ("term string", [("alpha",), ("beta",)]),
    "cosine_topk": (
        "query_id bigint, rank int, neighbor_id string, cosine double",
        [(1, 1, "n1", 0.5)],
    ),
    "partitioned_polygons": (
        "poly_id string, collection_id string, ring_x array<double>, "
        "ring_y array<double>",
        [("t", "c", [0.0, 1.0, 1.0], [0.0, 0.0, 1.0])],
    ),
}


def _jvm_schema(df):
    # the JVM plan's own schema, not the Python-side cached one
    return json.loads(df._jdf.schema().json())


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("empty", [False, True], ids=["rows", "empty"])
@pytest.mark.parametrize("name", sorted(CASES))
def test_local_frame_matches_row_list_frame(spark, name, empty):
    schema, rows = CASES[name]
    rows = [] if empty else rows
    old = spark.createDataFrame(rows, schema)
    new = local_frame(spark, rows, schema)
    assert _jvm_schema(new) == _jvm_schema(old)
    assert new.schema == old.schema
    assert sorted(map(repr, new.collect())) == sorted(map(repr, old.collect()))
    plan = _plan(new)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_asset_config_df_is_local_with_old_schema(spark):
    cfg = load_collection_config()
    df = asset_config_df(spark, cfg)
    assert _jvm_schema(df) == json.loads(ASSET_CONFIG_SCHEMA.json())
    assert "LocalTableScan" in _plan(df)
    assert df.count() == len(cfg["item_assets"])


def test_local_frame_rejects_mistyped_rows(spark):
    # no silent coercion or fallback: a value of the wrong type fails at
    # build time, as the row-list path's schema verification does
    with pytest.raises(Exception):
        local_frame(spark, [("not a number",)], "q_e6 bigint")
