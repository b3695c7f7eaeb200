"""Shared fixtures: one local SparkSession per test session.

Mirrors the reference's pytest structure (reference pyproject.toml:86-91,
tests/conftest.py) with Spark in place of mock GeoTIFF fixtures.
"""

from __future__ import annotations

import sys
from glob import glob
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from stac_catalog_builder_spark.session import get_spark  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"
# every shipped SF tier, including the one the bench measures
SF_TIERS = sorted(glob(str(Path(SF0001).parent / "sf*")))


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="scb-spark-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for sf, prefix in ((SF0001, ""),):
        for t in (
            "region nation customer supplier part orders lineitem events "
            "documents embeddings"
        ).split():
            con.execute(
                f"CREATE OR REPLACE VIEW {prefix}{t} AS "
                f"SELECT * FROM '{sf}/{t}.parquet'"
            )
    return con
