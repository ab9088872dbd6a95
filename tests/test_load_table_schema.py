"""io.load_table's parquet schema cache: in a plain session (no catalog) the
first read of a path infers its schema and later reads pin it, so they
launch no Spark job — with the same schema an uncached read gives, and a
fresh inference whenever the files or an inference conf change."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_SMOKE as SF

from wikipedia_org_xmldump_importer_spark import io as tio
from wikipedia_org_xmldump_importer_spark.io import TABLES, load_table


def _jobs(spark, group: str, fn) -> int:
    """Spark jobs ``fn()`` launches, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def fresh_cache():
    saved = dict(tio._SCHEMAS)
    tio._SCHEMAS.clear()
    yield
    tio._SCHEMAS.clear()
    tio._SCHEMAS.update(saved)


def test_second_load_of_every_table_launches_no_job(spark, fresh_cache):
    def load_all():
        for name in TABLES:
            load_table(spark, SF, name)

    assert _jobs(spark, "schema-cache-first", load_all) >= len(TABLES)
    assert _jobs(spark, "schema-cache-second", load_all) == 0


@pytest.mark.parametrize("name", TABLES)
def test_cached_schema_matches_uncached_read(spark, fresh_cache, name):
    first = load_table(spark, SF, name)
    cached = load_table(spark, SF, name)
    assert cached.schema == first.schema
    if name == "events":
        dtypes = dict(cached.dtypes)
        assert (dtypes["ts"], dtypes["ts_us"]) == ("timestamp_ntz", "bigint")
    else:
        assert cached.schema == spark.read.parquet(f"{SF}/{name}.parquet").schema


def test_rewritten_file_is_reinferred(spark, fresh_cache, tmp_path):
    sf_dir = str(tmp_path)
    shutil.copy(f"{SF}/region.parquet", sf_dir)
    path = f"{sf_dir}/region.parquet"
    before = load_table(spark, sf_dir, "region")
    assert load_table(spark, sf_dir, "region").schema == before.schema

    pq.write_table(
        pa.table({"r_regionkey": pa.array([0, 1], pa.int64()),
                  "r_label": pa.array(["a", "b"])}),
        path,
    )
    after = load_table(spark, sf_dir, "region")
    assert after.columns == ["r_regionkey", "r_label"]
    assert after.schema == spark.read.parquet(path).schema
    assert sorted(r.r_label for r in after.collect()) == ["a", "b"]
    assert list(tio._SCHEMAS) == [path]  # replaced, not added


def test_inference_conf_change_reinfers(spark, fresh_cache, tmp_path):
    # a raw BINARY column reads as binary, or as string under binaryAsString
    sf_dir = str(tmp_path)
    pq.write_table(
        pa.table({"r_regionkey": pa.array([0], pa.int64()),
                  "r_name": pa.array([b"AFRICA"], pa.binary())}),
        f"{sf_dir}/region.parquet",
    )
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert dict(load_table(spark, sf_dir, "region").dtypes)["r_name"] == "binary"
        assert dict(load_table(spark, sf_dir, "region").dtypes)["r_name"] == "binary"
        spark.conf.set(key, "true")
        flipped = {}
        jobs = _jobs(spark, "schema-cache-conf",
                     lambda: flipped.update(load_table(spark, sf_dir, "region").dtypes))
        assert jobs >= 1
        assert flipped["r_name"] == "string"
    finally:
        spark.conf.set(key, old)


def test_uninspectable_path_reads_uncached(spark, fresh_cache):
    uri = f"file://{SF}"
    df = load_table(spark, uri, "nation")
    assert df.schema == spark.read.parquet(f"{SF}/nation.parquet").schema
    assert tio._SCHEMAS == {}
