"""s20 multistream-bz2 ingest (sources/dump_multistream.py).

The contract (r13 verdict task 2): (a) ``scan_multistream`` is row-identical
to the mono-file ``scan_xml_pages`` on the same corpus, (b) scan parallelism
== chunk count (ceil(n_streams / streams_per_task)) where the mono file is
pinned to 1, (c) the index is the split map — one line per page, offsets at
stream starts, colon-bearing titles survive, (d) the reader tolerates the
footer folded into the last page stream, (e) header-only siteinfo decode
matches s8's mono scan, (f) truncated/empty inputs fail loudly.
"""

from __future__ import annotations

import bz2
import math
import os
import sys

import pytest

sys.path.insert(0, str(__import__("pathlib").Path(__file__).resolve().parent.parent))
from perfbench.dumpgen import generate  # noqa: E402

from wikipedia_org_xmldump_importer_spark.sources.dump_multistream import (  # noqa: E402
    _decode_concatenated,
    _split_pages,
    read_multistream_index,
    scan_multistream,
    scan_multistream_siteinfo,
    write_multistream,
)
from wikipedia_org_xmldump_importer_spark.sources.xml_pages import (  # noqa: E402
    flatten_pages,
    flatten_revisions,
    scan_xml_pages,
    scan_xml_siteinfo,
)

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture(scope="module")
def ms_pair(tmp_path_factory):
    """A ~4 MB mono dump and its multistream re-packaging (25 pages/stream
    so a small corpus still yields a two-digit stream count)."""
    work = tmp_path_factory.mktemp("multistream")
    gen = generate(str(work / "mono"), total_mb=4, n_files=1, seed=7)
    mono = str(work / "mono" / "dump_00.xml")
    dump = str(work / "pages-articles-multistream.xml.bz2")
    index = str(work / "pages-articles-multistream-index.txt.bz2")
    res = write_multistream(mono, dump, index, pages_per_stream=25)
    assert res["pages"] == gen.pages
    return mono, dump, index, res


def _page_keys(df):
    return {
        (r.page_id, r.page_title, r.page_latest, r.page_len)
        for r in flatten_pages(df).collect()
    }


def test_union_equals_mono_scan(spark, ms_pair):
    mono, dump, index, res = ms_pair
    ms = scan_multistream(spark, dump, index)
    ref = scan_xml_pages(spark, mono)
    assert _page_keys(ms) == _page_keys(ref)
    # revision grain too — the nested array must survive the from_xml path
    assert flatten_revisions(ms).count() == flatten_revisions(ref).count()
    # text payload byte-identical for an arbitrary page
    pick = lambda df: {  # noqa: E731
        r.page_id: r.text
        for r in df.selectExpr(
            "id as page_id", "revision[0].text._VALUE as text"
        ).collect()
        if r.page_id % 97 == 0
    }
    assert pick(ms) == pick(ref)


def test_parallelism_equals_chunk_count(spark, ms_pair):
    mono, dump, index, res = ms_pair
    n_page_streams = res["streams"] - 2  # minus header + footer streams
    assert n_page_streams > 10
    one = scan_multistream(spark, dump, index, streams_per_task=1)
    assert one.rdd.getNumPartitions() == n_page_streams
    grouped = scan_multistream(spark, dump, index, streams_per_task=4)
    assert grouped.rdd.getNumPartitions() == math.ceil(n_page_streams / 4)
    # grouping must not change the rows
    assert grouped.count() == one.count() == res["pages"]
    # the mono file stays the degenerate single-split scan (the r10 probe)
    assert scan_xml_pages(spark, mono).rdd.getNumPartitions() == 1


def test_index_is_the_split_map(spark, ms_pair):
    mono, dump, index, res = ms_pair
    idx = read_multistream_index(spark, index)
    rows = idx.collect()
    assert len(rows) == res["pages"]
    # offsets mark real stream starts: every one decodes independently
    offsets = sorted({r.offset for r in rows})
    assert len(offsets) == res["streams"] - 2
    assert offsets[0] > 0  # header stream precedes the first page stream
    size = os.path.getsize(dump)
    assert all(0 < o < size for o in offsets)
    # per-stream page fan-in matches pages_per_stream (except the tail)
    from collections import Counter

    per_stream = Counter(r.offset for r in rows)
    counts = [per_stream[o] for o in offsets]
    assert all(c == 25 for c in counts[:-1])
    assert 1 <= counts[-1] <= 25
    # page_id/title columns agree with the scan itself
    scanned = {
        (r.id, r.title) for r in scan_multistream(spark, dump, index).collect()
    }
    assert {(r.page_id, r.title) for r in rows} == scanned


def test_colon_title_and_plain_index(spark, tmp_path):
    """Titles contain ':' (every Talk:/User: page does) — the index line
    must split at most twice. Also covers the plain-text index variant."""
    src = os.path.join(FIXTURES, "siteinfo_dump.xml")
    dump = str(tmp_path / "ms.xml.bz2")
    index = str(tmp_path / "ms-index.txt")  # plain, not .bz2
    write_multistream(src, dump, index, pages_per_stream=1)
    idx = read_multistream_index(spark, index)
    titles = {r.title for r in idx.collect()}
    ref = {r.title for r in scan_xml_pages(spark, src).select("title").collect()}
    assert titles == ref
    assert any(":" in t for t in titles)
    assert _page_keys(scan_multistream(spark, dump, index)) == _page_keys(
        scan_xml_pages(spark, src)
    )


def test_include_text_false_prunes_payload(spark, ms_pair):
    mono, dump, index, res = ms_pair
    meta = scan_multistream(spark, dump, index, include_text=False)
    text_fields = {
        f.name for f in meta.schema["revision"].dataType.elementType["text"].dataType
    }
    assert "_VALUE" not in text_fields
    assert "_bytes" in text_fields
    assert meta.count() == res["pages"]


def test_siteinfo_header_stream(spark, tmp_path):
    src = os.path.join(FIXTURES, "siteinfo_dump.xml")
    dump = str(tmp_path / "ms.xml.bz2")
    index = str(tmp_path / "ms-index.txt.bz2")
    write_multistream(src, dump, index, pages_per_stream=2)
    got = scan_multistream_siteinfo(spark, dump, index).collect()
    ref = scan_xml_siteinfo(spark, src).collect()
    assert len(got) == len(ref) == 1
    assert got[0].asDict(recursive=True) == ref[0].asDict(recursive=True)


def test_footer_folded_into_last_page_stream(spark, tmp_path):
    """Some repackagers put </mediawiki> inside the final page stream
    instead of its own stream; the page splitter must drop it."""
    src = os.path.join(FIXTURES, "siteinfo_dump.xml")
    ref_dump = str(tmp_path / "ref.xml.bz2")
    index = str(tmp_path / "idx.txt")
    write_multistream(src, ref_dump, index, pages_per_stream=2)

    # rebuild the dump with the footer folded into the last page stream,
    # preserving every stream offset the index recorded
    streams = []
    with open(ref_dump, "rb") as fh:
        buf = fh.read()
    while buf:
        dec = bz2.BZ2Decompressor()
        text = dec.decompress(buf)
        streams.append(text.decode("utf-8"))
        buf = dec.unused_data
    assert streams[-1].strip() == "</mediawiki>"
    folded = streams[:-2] + [streams[-2] + streams[-1]]
    folded_dump = str(tmp_path / "folded.xml.bz2")
    offs = []
    with open(folded_dump, "wb") as fh:
        for s in folded:
            offs.append(fh.tell())
            fh.write(bz2.compress(s.encode("utf-8"), 9))
    # stream starts (bar the dropped footer stream) must be unchanged,
    # so the ORIGINAL index still maps the folded file
    ms = scan_multistream(spark, folded_dump, index)
    assert _page_keys(ms) == _page_keys(scan_xml_pages(spark, src))


def test_loud_failures(spark, tmp_path):
    with pytest.raises(ValueError, match="truncated"):
        _decode_concatenated(bz2.compress(b"hello world")[:-4])
    empty_idx = str(tmp_path / "empty.txt")
    open(empty_idx, "w").write("")
    dummy = str(tmp_path / "d.xml.bz2")
    open(dummy, "wb").write(bz2.compress(b"<mediawiki></mediawiki>"))
    with pytest.raises(ValueError, match="empty multistream index"):
        scan_multistream(spark, dummy, empty_idx)
    with pytest.raises(ValueError, match="streams_per_task"):
        scan_multistream(spark, dummy, empty_idx, streams_per_task=0)
    with pytest.raises(ValueError, match="no <page>"):
        no_pages = str(tmp_path / "nopages.xml")
        open(no_pages, "w").write("<mediawiki>\n</mediawiki>\n")
        write_multistream(no_pages, dummy, empty_idx)


def test_escaped_title_and_revision_decoys(spark, tmp_path):
    """r14 self-review regressions: (a) the index must record the title
    VALUE ('A&B'), not the XML-escaped source text ('A&amp;B') — real
    multistream indexes are unescaped and the scan's title column
    unescapes too; (b) a '<title>'/'<id>' lookalike inside a revision
    comment must never be captured at page level."""
    src = str(tmp_path / "mono.xml")
    with open(src, "w") as f:
        f.write(
            "<mediawiki>\n"
            "  <page>\n"
            "    <title>A&amp;B &quot;quoted&quot;: x&lt;y</title>\n"
            "    <ns>0</ns>\n    <id>7</id>\n"
            "    <revision>\n      <id>70</id>\n"
            "      <timestamp>2024-01-01T00:00:00Z</timestamp>\n"
            "      <contributor><username>u</username><id>1</id>"
            "</contributor>\n"
            "      <comment>moved <title>Decoy</title> and "
            "<id>999</id> refs</comment>\n"
            "      <model>wikitext</model>\n      <format>x</format>\n"
            '      <text bytes="2" xml:space="preserve">hi</text>\n'
            "      <sha1>s</sha1>\n    </revision>\n"
            "  </page>\n"
            "</mediawiki>\n"
        )
    dump = str(tmp_path / "ms.xml.bz2")
    index = str(tmp_path / "idx.txt")
    write_multistream(src, dump, index, pages_per_stream=5)
    rows = read_multistream_index(spark, index).collect()
    assert len(rows) == 1
    assert rows[0].page_id == 7  # not the comment's 999
    assert rows[0].title == 'A&B "quoted": x<y'
    scanned = scan_multistream(spark, dump, index).collect()
    assert [(r.id, r.title) for r in scanned] == [(7, 'A&B "quoted": x<y')]


def test_split_pages_unit():
    text = (
        "  <page>\n<title>A</title>\n</page>\n"
        "<page>\n<title>B&lt;/page&gt;C é中</title>\n</page>\n</mediawiki>\n"
    ).encode("utf-8")
    pages = _split_pages(text)
    assert len(pages) == 2
    assert pages[0].startswith(b"<page>") and pages[0].endswith(b"</page>")
    assert "B&lt;/page&gt;C é中".encode("utf-8") in pages[1]
    assert _split_pages(b"</mediawiki>\n") == []


def test_import_dump_full_from_multistream(spark, tmp_path):
    """The flagship entry points accept the real dump format directly:
    import_dump / import_dump_full with multistream_index produce tables
    row-identical to the mono-file import of the same corpus."""
    from wikipedia_org_xmldump_importer_spark.sources.xml_pages import (
        import_dump,
        import_dump_full,
    )

    src = os.path.join(FIXTURES, "wikilinks.xml")
    dump = str(tmp_path / "ms.xml.bz2")
    index = str(tmp_path / "idx.txt.bz2")
    write_multistream(src, dump, index, pages_per_stream=2)

    mono = import_dump(
        spark, src, str(tmp_path / "out_mono"), namespace=None
    )
    ms = import_dump(
        spark,
        dump,
        str(tmp_path / "out_ms"),
        namespace=None,
        multistream_index=index,
    )
    for name in mono:
        a = {tuple(r) for r in mono[name].collect()}
        b = {tuple(r) for r in ms[name].collect()}
        assert a == b, f"table {name} differs between mono and multistream"

    full_mono = import_dump_full(spark, src, str(tmp_path / "f_mono"))
    full_ms = import_dump_full(
        spark, dump, str(tmp_path / "f_ms"), multistream_index=index
    )
    for name in ("pagelinks", "redirect", "pagelinks_resolved"):
        a = {tuple(r) for r in full_mono[name].collect()}
        b = {tuple(r) for r in full_ms[name].collect()}
        assert a == b, f"full-pipeline table {name} differs"
