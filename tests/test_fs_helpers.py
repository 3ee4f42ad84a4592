"""Filesystem helpers of the reference's DAG and ingest (S7 path probe,
S8 mkdir -p), called directly rather than through run_pipeline."""

from __future__ import annotations

from flights_etl_pipeline_spark.sources.readers import path_exists
from flights_etl_pipeline_spark.sources.sinks import mkdirs


def test_mkdirs_creates_nested_path_and_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "lake" / "bronze" / "flights")
    assert not path_exists(spark, path)
    assert mkdirs(spark, path)
    assert path_exists(spark, path)
    assert (tmp_path / "lake" / "bronze" / "flights").is_dir()
    assert mkdirs(spark, path)  # mkdir -p: an existing directory is success
    assert path_exists(spark, path)
