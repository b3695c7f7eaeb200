"""read_parquet's pyarrow footer-read schema == Spark's own inference,
for every shipped table at every SF tier.

``session.read_parquet`` passes the schema read driver-side from the
parquet footer (skipping Spark's 1-task inference job per read); any
divergence from what ``spark.read.parquet`` would infer (types, names,
order, timestamp NTZ-ness) would silently change scan semantics, so it is
pinned exactly here.
"""

from __future__ import annotations

from pathlib import Path

import pyarrow.parquet as pq
import pytest
from conftest import SF0001, SF_TIERS

from stac_catalog_builder_spark.session import read_parquet

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.mark.parametrize("sf_dir", SF_TIERS)
def test_read_parquet_schema_matches_inference(spark, sf_dir):
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        inferred = spark.read.parquet(path).schema
        got = read_parquet(spark, path).schema
        assert got == inferred, (t, got, inferred)


def test_read_parquet_rows_match_inference(spark):
    # not just the schema: the scan itself returns identical rows
    path = f"{SF0001}/orders.parquet"
    a = spark.read.parquet(path).collect()
    b = read_parquet(spark, path).collect()
    assert a == b


def test_read_parquet_follows_session_ntz_inference(spark):
    # with NTZ inference off, Spark reads isAdjustedToUTC=false timestamps
    # as TIMESTAMP (LTZ); the footer path must follow the session, not
    # assume the default
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        for t in TABLES:
            path = f"{SF0001}/{t}.parquet"
            inferred = spark.read.parquet(path).schema
            got = read_parquet(spark, path).schema
            assert got == inferred, (t, got, inferred)
    finally:
        spark.conf.set(key, prev)


def test_read_parquet_uri_goes_to_spark(spark, monkeypatch):
    # a scheme:// path is a Hadoop filesystem URI, which pyarrow's local
    # footer read cannot open (s3a:// raises ArrowInvalid): Spark reads it
    def no_footer_read(*args, **kwargs):
        raise AssertionError("pyarrow footer read on a URI")

    monkeypatch.setattr(pq, "read_schema", no_footer_read)
    uri = Path(SF0001, "orders.parquet").as_uri()
    want = spark.read.parquet(uri)
    got = read_parquet(spark, uri)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
