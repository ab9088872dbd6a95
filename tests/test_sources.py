"""s3/s4 source-sink unit tests + the CLI end-to-end (SURVEY §2.1)."""

from __future__ import annotations

import os
from collections import Counter

import pandas as pd
from conftest import FIXTURES

from wikipedia_org_xmldump_importer_spark.__main__ import main as cli_main
from wikipedia_org_xmldump_importer_spark.io import sink_parquet
from wikipedia_org_xmldump_importer_spark.sources.csv_json import scan_csv, scan_jsonl

FIXTURE_XML = str(FIXTURES / "multi_revision.xml")
TABLES = {
    "page",
    "revision",
    "contributor",
    "text",
    "pagelinks",
    "redirect",
    "pagelinks_resolved",
}


def test_scan_csv_explicit_schema_and_corrupt_quarantine(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("id,name,score\n1,alpha,2.5\n2,beta,3.5\nnot-an-int,gamma,oops\n")
    schema = "id INT, name STRING, score DOUBLE, _corrupt STRING"
    df = scan_csv(spark, str(p), schema).cache()
    good = df.filter("_corrupt IS NULL")
    bad = df.filter("_corrupt IS NOT NULL")
    assert good.count() == 2
    assert bad.count() == 1  # quarantined, not a job failure
    assert {r.name for r in good.collect()} == {"alpha", "beta"}


def test_scan_jsonl_explicit_schema(spark, tmp_path):
    p = tmp_path / "in.jsonl"
    p.write_text('{"id": 1, "tags": ["a", "b"]}\n{"id": 2, "tags": []}\nBROKEN\n')
    schema = "id INT, tags ARRAY<STRING>, _corrupt STRING"
    df = scan_jsonl(spark, str(p), schema).cache()
    assert df.filter("_corrupt IS NULL").count() == 2
    assert df.filter("_corrupt IS NOT NULL").count() == 1
    assert df.filter("id = 1").collect()[0].tags == ["a", "b"]


def test_sink_parquet_partitioned(spark, tmp_path):
    df = spark.createDataFrame(
        pd.DataFrame({"k": ["x", "x", "y"], "v": [1, 2, 3]})
    )
    out = str(tmp_path / "part_out")
    sink_parquet(df, out, partition_by=["k"])
    back = spark.read.parquet(out)
    assert back.count() == 3
    # partition pruning: reading one partition value scans only that dir
    assert back.filter("k = 'y'").count() == 1
    assert (tmp_path / "part_out" / "k=x").exists()


def test_cli_import_end_to_end(spark, tmp_path):
    out = str(tmp_path / "cli_out")
    rc = cli_main(["--xml", FIXTURE_XML, "--out", out])
    assert rc == 0
    # the CLI writes exactly import_dump_full's seven tables
    assert set(os.listdir(out)) == {f"{name}.parquet" for name in TABLES}
    page = spark.read.parquet(f"{out}/page.parquet")
    rev = spark.read.parquet(f"{out}/revision.parquet")
    assert page.count() == 1
    assert rev.count() == 3
    # revision order preserved from the dump via rev_seq
    seqs = [r.rev_seq for r in rev.orderBy("rev_seq").collect()]
    assert seqs == [0, 1, 2]


def test_cli_jdbc_load(spark, tmp_path):
    """--jdbc-url loads import_dump_full's database set: wiki_page,
    wiki_redirect and wiki_pagelinks_resolved, each equal to its Parquet
    table."""
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    url = "jdbc:derby:memory:cli_jdbc_load;create=true"
    out = str(tmp_path / "cli_jdbc")
    xml = str(FIXTURES / "wikilinks.xml")
    rc = cli_main(["--xml", xml, "--out", out, "--jdbc-url", url])
    assert rc == 0
    want_counts = {"page": 6, "redirect": 4, "pagelinks_resolved": 8}
    for name, n in want_counts.items():
        back = (
            spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable", f"wiki_{name}")
            .option("driver", driver)
            .load()
        )
        lake = spark.read.parquet(f"{out}/{name}.parquet")
        assert back.count() == n, name
        assert Counter(map(tuple, back.collect())) == Counter(
            map(tuple, lake.collect())
        ), name
