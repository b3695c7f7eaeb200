"""The driver-side 25-row dimensions == their Spark derivations, bit-for-bit.

``synth.boundary_rings`` and ``synth.knn_query_points`` derive the boundary
polygons and the kNN query points in plain Python from the ``nation`` keys;
the entry module feeds them a pyarrow read, ``plans.flagship`` one Spark
collect. These tests pin both feeds — ids, every coordinate as an exact IEEE
double, row order and dtypes — against the lazy plans ``synth.boundaries``
and ``synth.knn_queries`` at every SF tier.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from conftest import SF_TIERS

import __spark_entry__ as e
from stac_catalog_builder_spark import synth
from stac_catalog_builder_spark.functions.geo import rect_ring
from stac_catalog_builder_spark.plans import flagship


@pytest.mark.parametrize("sf_dir", SF_TIERS)
def test_boundary_polygons_match_spark_derivation(spark, sf_dir):
    want = synth.boundaries(spark, sf_dir).collect()
    assert len(want) == 25
    feeds = (e._boundary_polygons(spark, sf_dir), flagship.boundary_polygons(spark, sf_dir))
    for got in feeds:
        assert [g["tile_id"] for g in got] == [r.tile_id for r in want]
        assert [g["collection_id"] for g in got] == [r.collection_id for r in want]
        for g, r in zip(got, want):
            rx, ry = rect_ring(r.bbox_w, r.bbox_s, r.bbox_e, r.bbox_n)
            # exact double equality, not approx: the PIP refine and the
            # DuckDB oracle CTE both depend on these exact bit patterns
            assert np.array_equal(g["ring_x"], rx)
            assert np.array_equal(g["ring_y"], ry)


@pytest.mark.parametrize("sf_dir", SF_TIERS)
def test_knn_query_points_match_spark_derivation(spark, sf_dir):
    got = e._knn_query_points(sf_dir)
    want = synth.knn_queries(spark, sf_dir).toPandas()
    assert list(got.columns) == ["query_id", "qlon", "qlat"]
    # exact: same values, same row order, same dtypes (float64 coords)
    pd.testing.assert_frame_equal(got, want, check_exact=True)
