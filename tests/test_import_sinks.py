"""The batch import's sink phase: tables written as concurrent Spark
jobs must keep the caller's job group, surface any sink's failure, and
leave no cached data behind once the call returns."""

from __future__ import annotations

import pytest
from conftest import FIXTURES

from wikipedia_org_xmldump_importer_spark.sources.xml_pages import import_dump_full

DUMP = str(FIXTURES / "wikilinks.xml")


def _cached_rdd_ids(spark) -> set[int]:
    return {
        info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


def _all_job_ids(spark) -> set[int]:
    """Every job id the status store knows, after the listener bus has
    delivered all pending job events."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    jobs = jsc.statusStore().jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


def test_import_releases_page_cache(spark, tmp_path):
    spark.catalog.clearCache()
    before = _cached_rdd_ids(spark)
    out = import_dump_full(spark, DUMP, str(tmp_path / "lake"))
    assert _cached_rdd_ids(spark) - before == set()
    # the returned frames read the lake, so they still answer
    assert out["page"].count() == 6


def test_concurrent_sink_jobs_keep_callers_job_group(spark, tmp_path):
    sc = spark.sparkContext
    before = _all_job_ids(spark)
    sc.setJobGroup("imp", "import_dump_full under one job group")
    try:
        import_dump_full(spark, DUMP, str(tmp_path / "lake"))
    finally:
        sc.setJobGroup(None, None)
    new = _all_job_ids(spark) - before
    assert new, "the import ran no Spark job"
    assert new <= set(sc.statusTracker().getJobIdsForGroup("imp")), (
        "jobs escaped the caller's job group"
    )


def test_failed_parquet_sink_raises(spark, tmp_path):
    not_a_dir = tmp_path / "regular_file"
    not_a_dir.write_text("occupied")
    spark.catalog.clearCache()
    before = _cached_rdd_ids(spark)
    with pytest.raises(Exception):  # noqa: B017 - any sink error must surface
        import_dump_full(spark, DUMP, str(not_a_dir))
    assert _cached_rdd_ids(spark) - before == set()


def test_failed_jdbc_sink_raises(spark, tmp_path):
    with pytest.raises(Exception):  # noqa: B017 - any sink error must surface
        import_dump_full(
            spark,
            DUMP,
            str(tmp_path / "lake"),
            jdbc_url="jdbc:no-such-driver:nowhere",
        )
    # the Parquet phase before the failed JDBC load completed
    assert (tmp_path / "lake" / "pagelinks_resolved.parquet").is_dir()
