"""s14 ``shard_dump`` (sources/dump_split.py): the mono-file pre-splitter
must (a) produce shards whose UNION scan is row-identical to the mono-file
scan, (b) unlock >1 scan partition (the whole point — the r10 probe measured
the XML source never splitting within a file), (c) replicate
the <siteinfo> header so every shard is independently scannable, and
(d) read .bz2 input transparently."""

from __future__ import annotations

import bz2
import os
import shutil
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(__import__("pathlib").Path(__file__).resolve().parent.parent))
from perfbench.dumpgen import generate  # noqa: E402

from wikipedia_org_xmldump_importer_spark.sources.dump_split import (  # noqa: E402
    shard_dump,
)
from wikipedia_org_xmldump_importer_spark.sources.xml_pages import (  # noqa: E402
    flatten_pages,
    scan_xml_pages,
    scan_xml_siteinfo,
)


@pytest.fixture(scope="module")
def mono_dump(tmp_path_factory):
    work = tmp_path_factory.mktemp("dumpsplit")
    gen = generate(str(work / "mono"), total_mb=8, n_files=1, seed=7)
    return str(work / "mono" / "dump_00.xml"), gen, str(work)


def _page_keys(spark, path):
    return {
        (r.page_id, r.page_title, r.page_latest, r.page_len)
        for r in flatten_pages(scan_xml_pages(spark, path)).collect()
    }


def test_shards_union_equals_mono_scan(spark, mono_dump):
    src, gen, work = mono_dump
    out = os.path.join(work, "shards")
    res = shard_dump(src, out, shard_mb=1.0)
    assert res["pages"] == gen.pages
    assert res["shards"] > 4  # 8 MB at 1 MB/shard
    # the file is Spark's minimum split grain: the mono-file scan is
    # pinned to ONE task, while shards bin-pack into >1 (toward one
    # partition per core for many/larger files)
    sharded = scan_xml_pages(spark, out)
    assert 1 < sharded.rdd.getNumPartitions() <= res["shards"]
    assert scan_xml_pages(spark, src).rdd.getNumPartitions() == 1
    # row-identical page set
    assert _page_keys(spark, out) == _page_keys(spark, src)


def test_each_shard_is_complete_document(spark, mono_dump):
    src, gen, work = mono_dump
    out = os.path.join(work, "shards_hdr")
    res = shard_dump(src, out, shard_mb=2.0)
    shard0 = os.path.join(out, "shard_00000.xml")
    last = os.path.join(out, f"shard_{res['shards'] - 1:05d}.xml")
    for path in (shard0, last):
        txt = open(path).read()
        assert txt.rstrip().endswith("</mediawiki>")
        assert "<mediawiki" in txt.splitlines()[0]
        # independently scannable, and not empty
        assert scan_xml_pages(spark, path).count() > 0
    # no shard is a header+footer-only stub
    for name in sorted(os.listdir(out)):
        n = scan_xml_pages(spark, os.path.join(out, name)).count()
        assert n > 0, f"{name} holds no pages"


def test_bz2_input_and_header_replication(spark, mono_dump):
    src, gen, work = mono_dump
    bz_path = os.path.join(work, "mono.xml.bz2")
    with open(src, "rb") as f, bz2.open(bz_path, "wb") as g:
        shutil.copyfileobj(f, g)
    out = os.path.join(work, "shards_bz2")
    res = shard_dump(bz_path, out, shard_mb=1.0)
    assert res["pages"] == gen.pages
    assert _page_keys(spark, out) == _page_keys(spark, src)
    # the generator's dump has a bare <mediawiki ...> header with no
    # <siteinfo>; assert header REPLICATION via the mediawiki root attrs
    first_line = open(os.path.join(out, "shard_00001.xml")).readline()
    assert "mediawiki.org/xml/export" in first_line


def test_siteinfo_header_survives_sharding(spark, tmp_path):
    # a dump WITH <siteinfo>: every shard must keep it scannable
    siteinfo = (
        "  <siteinfo>\n"
        "    <sitename>TestWiki</sitename>\n"
        "    <dbname>testwiki</dbname>\n"
        "    <namespaces>\n"
        '      <namespace key="0" />\n'
        '      <namespace key="1">Talk</namespace>\n'
        "    </namespaces>\n"
        "  </siteinfo>\n"
    )
    pages = "".join(
        "  <page>\n"
        f"    <title>P{i}</title>\n"
        "    <ns>0</ns>\n"
        f"    <id>{i}</id>\n"
        "    <revision>\n"
        f"      <id>{i * 10}</id>\n"
        "      <timestamp>2024-01-01T00:00:00Z</timestamp>\n"
        f'      <text xml:space="preserve">body {i} {"x" * 2000}</text>\n'
        "    </revision>\n"
        "  </page>\n"
        for i in range(40)
    )
    src = tmp_path / "site.xml"
    src.write_text(
        '<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.11/">\n'
        + siteinfo + pages + "</mediawiki>\n"
    )
    out = str(tmp_path / "shards")
    res = shard_dump(str(src), out, shard_mb=0.01)
    assert res["shards"] >= 2 and res["pages"] == 40
    for name in sorted(os.listdir(out)):
        si = scan_xml_siteinfo(spark, os.path.join(out, name))
        row = si.collect()[0]
        assert row.sitename == "TestWiki"
    total = scan_xml_pages(spark, out).count()
    assert total == 40


def test_cli_shard_mb_flag(spark, mono_dump):
    """--shard-mb pre-splits the mono-file and imports the shards; the
    parquet outputs must match the direct mono-file import."""
    from wikipedia_org_xmldump_importer_spark.__main__ import main as cli_main

    src, gen, work = mono_dump
    out = os.path.join(work, "cli_out")
    rc = cli_main(
        ["--xml", src, "--out", out, "--namespace", "-1", "--shard-mb", "1"]
    )
    assert rc == 0
    assert len(os.listdir(os.path.join(out, "_shards"))) > 4
    page = spark.read.parquet(os.path.join(out, "page.parquet"))
    assert page.count() == gen.pages


def test_no_page_raises(tmp_path):
    bad = tmp_path / "empty.xml"
    bad.write_text("<mediawiki>\n</mediawiki>\n")
    with pytest.raises(ValueError, match="no <page> element"):
        shard_dump(str(bad), str(tmp_path / "out"))


def test_rerun_clears_stale_shards(mono_dump, tmp_path):
    """r10 advice (medium): re-running into the same out_dir after the
    input shrank (or shard_mb grew) must not leave the previous run's
    higher-numbered shards behind to be co-scanned as phantom pages."""
    src, _, _ = mono_dump
    out = str(tmp_path / "shards")
    first = shard_dump(src, out, shard_mb=1.0)
    assert first["shards"] > 2
    # Re-run with a much larger shard size -> far fewer files
    second = shard_dump(src, out, shard_mb=64.0)
    assert second["shards"] < first["shards"]
    on_disk = sorted(f for f in os.listdir(out) if f.startswith("shard_"))
    assert len(on_disk) == second["shards"], (
        f"stale shards survived the re-run: {on_disk}"
    )
    assert second["pages"] == first["pages"]


def test_sizes_are_utf8_bytes(tmp_path):
    """r10 advice (low): shard-size accounting and bytes_in count UTF-8
    bytes, not characters — multibyte text must not overshoot shard_mb."""
    src = tmp_path / "mb.xml"
    # 3-byte CJK chars: 1000 chars/page body ~ 3000 bytes/page
    body = "漢" * 1000
    pages = "".join(
        f"<page>\n<title>P{i}</title>\n<id>{i}</id>\n"
        f"<revision><id>{i}</id><text>{body}</text></revision>\n</page>\n"
        for i in range(40)
    )
    src.write_text(
        f"<mediawiki>\n<siteinfo><sitename>t</sitename></siteinfo>\n{pages}"
        "</mediawiki>\n",
        encoding="utf-8",
    )
    out = str(tmp_path / "shards")
    res = shard_dump(str(src), out, shard_mb=0.01)  # 10_485 bytes
    assert res["bytes_in"] == os.path.getsize(src)
    # every shard (except possibly the last) cut just past the byte limit:
    # no shard may exceed limit + one page's bytes + header/footer slack
    limit = int(0.01 * 1024 * 1024)
    page_bytes = 3200 + len("<page></page>") + 100
    for f in os.listdir(out):
        assert os.path.getsize(os.path.join(out, f)) <= limit + page_bytes


def test_trailing_blank_lines_never_make_empty_shard(tmp_path):
    """r10 advice (low): a blank line after the LAST </page> while a cut
    is pending must not emit a page-less (header+footer only) shard."""
    src = tmp_path / "blank.xml"
    body = "x" * 2000
    pages = "".join(
        f"<page>\n<title>P{i}</title>\n<id>{i}</id>\n"
        f"<revision><id>{i}</id><text>{body}</text></revision>\n</page>\n\n"
        for i in range(5)  # blank line BETWEEN and AFTER pages
    )
    src.write_text(
        f"<mediawiki>\n<siteinfo><sitename>t</sitename></siteinfo>\n{pages}"
        "</mediawiki>\n",
        encoding="utf-8",
    )
    out = str(tmp_path / "shards")
    # limit so small every page triggers a pending cut, including the last
    res = shard_dump(str(src), out, shard_mb=0.000001)
    assert res["pages"] == 5
    assert res["shards"] == 5  # one per page; NO sixth page-less shard
    for f in os.listdir(out):
        text = open(os.path.join(out, f), encoding="utf-8").read()
        assert "<page>" in text, f"page-less shard {f}: {text[:120]!r}"
