"""XML ingestion bench: the reference's own surface (dump import) at size.

Generates a deterministic multi-file synthetic MediaWiki export dump
(export-0.11 shape, same as tests/fixtures/*.xml), times the full
``import_dump`` pipeline (parallel XML parse → four flattened Parquet
tables), and prints ONE JSON line::

    {"metric": "xml_import_mb_per_s", "value": ..., "mb": ..., "sec": ...,
     "files": ..., "pages": ..., "revisions": ...}

It also verifies the two scale properties the plan must keep at 100 TB:

  * multi-file parallelism — the page scan covers >1 input file, so the
    parse distributes across executors. This is the ONLY parallelism the
    XML source has: measured r10, it never splits within a file (plain
    or .bz2), so shard count bounds the scan parallelism — real dumps
    ship as many multistream bz2 chunks (s14 shard_dump pre-splits
    mono-files);
  * nested-schema pruning — a metadata-only scan never parses the
    ``revision.text._VALUE`` payload (the dominant byte share of any real
    dump). Catalyst's nestedSchemaPruning rule is Parquet/ORC-only, so for
    XML this pruning lives in the read schema (``include_text=False``);
    asserted on the executed plan's ReadSchema at this size, and its cost
    win is measured (full vs metadata-only import).

Usage::

    python tools/bench_xml.py                # ~100 MB over 8 files
    python tools/bench_xml.py --mb 10 --files 4
    python tools/bench_xml.py --sizes 100,1024   # scaling curve (r9 task 3):
                                             # one run per size, shared JSON
                                             # line with per-size rows and
                                             # MB/s ratios vs the first size
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_WORDS = (
    "spark catalyst tungsten shuffle partition parquet arrow executor task "
    "stage plan codegen broadcast window aggregate join stream watermark "
    "wikipedia article revision contributor namespace redirect template "
    "history diff edit rollback patrol sitemap category infobox citation"
).split()


def _page_xml(rng: random.Random, page_id: int) -> str:
    """One <page> element with 1-3 revisions and a ~2-6 KB text payload."""
    n_rev = rng.randint(1, 3)
    title = f"Article {page_id} ({rng.choice(_WORDS)})"
    ns = 0 if rng.random() < 0.9 else 1
    redirect = (
        f'<redirect title="Article {rng.randrange(page_id + 1)}" />'
        if rng.random() < 0.05
        else ""
    )
    revs = []
    for r in range(n_rev):
        body = " ".join(rng.choices(_WORDS, k=rng.randint(300, 900)))
        # sprinkle wikilinks so the link-graph stages of the full pipeline
        # have realistic work (≈8 links/page, some piped/sectioned)
        links = " ".join(
            f"[[Article {rng.randrange(max(page_id, 1))}"
            + rng.choice(["]]", "|label]]", "#History]]"])
            for _ in range(rng.randint(3, 12))
        )
        body = f"{body} {links}"
        if rng.random() < 0.3:
            contributor = f"<contributor><ip>10.0.{rng.randrange(256)}.{rng.randrange(256)}</ip></contributor>"
        else:
            uid = rng.randrange(5000)
            contributor = (
                f"<contributor><username>user{uid}</username><id>{uid}</id></contributor>"
            )
        minor = "<minor />" if rng.random() < 0.2 else ""
        ts = f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}T{rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}Z"
        revs.append(
            f"""    <revision>
      <id>{page_id * 10 + r}</id>
      <parentid>{page_id * 10 + r - 1}</parentid>
      <timestamp>{ts}</timestamp>
      {contributor}
      {minor}
      <comment>{rng.choice(_WORDS)} edit</comment>
      <model>wikitext</model>
      <format>text/x-wiki</format>
      <text bytes="{len(body)}" xml:space="preserve">{body}</text>
      <sha1>{rng.getrandbits(128):032x}</sha1>
    </revision>"""
        )
    return f"""  <page>
    <title>{title}</title>
    <ns>{ns}</ns>
    <id>{page_id}</id>
    {redirect}
{os.linesep.join(revs)}
  </page>
"""


def generate_dump(out_dir: str, total_mb: float = 100.0, n_files: int = 8, seed: int = 7) -> dict:
    """Write ``n_files`` dump files totalling ≈ ``total_mb`` MB. Deterministic
    for a given (total_mb, n_files, seed). Returns {files, bytes, pages}."""
    os.makedirs(out_dir, exist_ok=True)
    per_file = total_mb * 1024 * 1024 / n_files
    n_pages = 0
    total_bytes = 0
    page_id = 0
    for i in range(n_files):
        rng = random.Random(f"{seed}:{i}")
        path = os.path.join(out_dir, f"dump_{i:02d}.xml")
        with open(path, "w") as f:
            written = f.write(
                '<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.11/" '
                'version="0.11" xml:lang="en">\n'
            )
            while written < per_file:
                page_id += 1
                written += f.write(_page_xml(rng, page_id))
                n_pages += 1
            written += f.write("</mediawiki>\n")
        total_bytes += written
    return {"files": n_files, "bytes": total_bytes, "pages": n_pages}


def assert_scale_properties(spark, dump_glob: str) -> None:
    """Plan checks at bench size: multi-file parallel scan + nested pruning."""
    from wikipedia_org_xmldump_importer_spark.sources.xml_pages import (
        flatten_pages,
        scan_xml_pages,
    )

    # plan prints truncate ReadSchema at 100 chars by default — widen so the
    # nested struct is inspectable
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    pages = scan_xml_pages(spark, dump_glob)
    # parallelism: the scan's input covers every generated file
    n_parts = pages.rdd.getNumPartitions()
    assert n_parts > 1, f"single-partition scan ({n_parts}) — no parallel parse"
    # pruning: the metadata-only scan must not parse the text payload but
    # must keep its attributes (page_len comes from text._bytes)
    meta = scan_xml_pages(spark, dump_glob, include_text=False)
    physical = flatten_pages(meta)._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"ReadSchema: (struct<.*>)", physical)
    assert m, physical
    assert "_VALUE" not in m.group(1), f"text payload in page scan: {m.group(1)}"
    assert "_bytes" in m.group(1)  # the length field IS needed


def run_once(spark, mb: float, n_files: int, workdir: str) -> dict:
    """Generate a ≈``mb`` MB dump into ``workdir`` and time the three
    pipeline shapes (full import, metadata-only import, full flagship
    pipeline incl. link graph). Returns the per-size result row."""
    from wikipedia_org_xmldump_importer_spark.sources.xml_pages import (
        import_dump,
        import_dump_full,
    )

    dump_dir = os.path.join(workdir, "dump")
    out_dir = os.path.join(workdir, "out")
    shutil.rmtree(workdir, ignore_errors=True)

    gen = generate_dump(dump_dir, mb, n_files)
    assert_scale_properties(spark, dump_dir)

    t0 = time.perf_counter()
    tables = import_dump(spark, dump_dir, out_dir, namespace=None)
    sec = time.perf_counter() - t0
    n_pages = spark.read.parquet(f"{out_dir}/page.parquet").count()
    n_revs = spark.read.parquet(f"{out_dir}/revision.parquet").count()
    assert n_pages == gen["pages"], (n_pages, gen["pages"])

    # metadata-only import: same scan minus the text payload — the pruning
    # win a page/revision/contributor-only pipeline gets at 100 TB
    meta_out = os.path.join(workdir, "out_meta")
    t0 = time.perf_counter()
    import_dump(
        spark,
        dump_dir,
        meta_out,
        namespace=None,
        tables=("page", "revision", "contributor"),
    )
    meta_sec = time.perf_counter() - t0

    # full flagship pipeline (r8 verdict task 6): dump -> four tables ->
    # wikilink graph -> redirect resolution -> resolved link graph ->
    # parquet sinks, one call. Timed separately so the link-graph increment
    # over the plain import is visible.
    full_out = os.path.join(workdir, "out_full")
    t0 = time.perf_counter()
    full = import_dump_full(spark, dump_dir, full_out, namespace=None)
    full_sec = time.perf_counter() - t0
    n_links = spark.read.parquet(
        f"{full_out}/pagelinks_resolved.parquet"
    ).count()
    n_redirects = spark.read.parquet(f"{full_out}/redirect.parquet").count()

    real_mb = gen["bytes"] / 1024 / 1024
    return {
        "metric": "xml_import_mb_per_s",
        "value": round(real_mb / sec, 2),
        "unit": "MB/s",
        "mb": round(real_mb, 1),
        "sec": round(sec, 2),
        "meta_only_sec": round(meta_sec, 2),
        "meta_only_mb_per_s": round(real_mb / meta_sec, 2),
        "files": gen["files"],
        "pages": n_pages,
        "revisions": n_revs,
        "tables": sorted(tables),
        "full_pipeline_sec": round(full_sec, 2),
        "full_pipeline_mb_per_s": round(real_mb / full_sec, 2),
        "full_tables": sorted(full),
        "pagelinks_resolved": n_links,
        "redirects": n_redirects,
    }


def run_multistream(
    spark,
    mb: float,
    workdir: str,
    pages_per_stream: int = 100,
    streams_per_task: int | None = None,  # None = the scan's auto-grouping
) -> dict:
    """s20 probe (r13 verdict task 2): the multistream path's MB/s gain
    over the mono-file scan on the SAME corpus.

    Three timed shapes, all materialized via the noop sink (full parse,
    no driver collect): (1) mono-file ``scan_xml_pages`` — pinned to ONE
    task by the XML source's no-intra-file-split behavior; (2) s20
    ``scan_multistream`` — parallelism == chunk count from byte zero;
    (3) the one-time repack cost (``write_multistream``), reported
    separately because a real dump ALREADY ships multistream — the repack
    is only what a mono-file holder pays once to migrate."""
    from wikipedia_org_xmldump_importer_spark.sources.dump_multistream import (
        scan_multistream,
        write_multistream,
    )
    from wikipedia_org_xmldump_importer_spark.sources.xml_pages import (
        scan_xml_pages,
    )

    shutil.rmtree(workdir, ignore_errors=True)
    gen = generate_dump(os.path.join(workdir, "mono"), mb, n_files=1)
    mono = os.path.join(workdir, "mono", "dump_00.xml")
    dump = os.path.join(workdir, "pages-articles-multistream.xml.bz2")
    index = os.path.join(workdir, "multistream-index.txt.bz2")
    real_mb = gen["bytes"] / 1024 / 1024

    def mat(df):
        df.write.format("noop").mode("overwrite").save()

    def timed(make_df, repeats: int = 2) -> float:
        """Warm once (JVM codegen + the 32 Python Arrow workers the
        multistream path spawns — measured: worker cold-start alone was
        ~1.7 s, dwarfing a small corpus), then report the best of
        ``repeats`` steady-state runs."""
        mat(make_df())
        return min(
            _time_once(lambda: mat(make_df())) for _ in range(repeats)
        )

    def _time_once(fn) -> float:
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    t0 = time.perf_counter()
    res = write_multistream(mono, dump, index, pages_per_stream)
    repack_sec = time.perf_counter() - t0

    mono_df = scan_xml_pages(spark, mono)
    assert mono_df.rdd.getNumPartitions() == 1  # the problem being solved
    mono_sec = timed(lambda: scan_xml_pages(spark, mono))
    ms_sec = timed(
        lambda: scan_multistream(
            spark, dump, index, streams_per_task=streams_per_task
        )
    )

    ms = scan_multistream(spark, dump, index, streams_per_task=streams_per_task)
    n_parts = ms.rdd.getNumPartitions()
    assert ms.count() == gen["pages"]
    return {
        "metric": "xml_multistream_mb_per_s",
        "value": round(real_mb / ms_sec, 2),
        "unit": "MB/s",
        "mb": round(real_mb, 1),
        "multistream_sec": round(ms_sec, 2),
        "mono_sec": round(mono_sec, 2),
        "mono_mb_per_s": round(real_mb / mono_sec, 2),
        "speedup_vs_mono": round(mono_sec / ms_sec, 2),
        "repack_once_sec": round(repack_sec, 2),
        "pages": gen["pages"],
        "streams": res["streams"],
        "pages_per_stream": pages_per_stream,
        "streams_per_task": streams_per_task or "auto",
        "scan_partitions": n_parts,
        "compressed_mb": round(os.path.getsize(dump) / 1024 / 1024, 1),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mb", type=float, default=100.0)
    ap.add_argument("--files", type=int, default=8)
    ap.add_argument("--workdir", default="/tmp/xmlbench")
    ap.add_argument(
        "--multistream",
        action="store_true",
        help="run the s20 multistream-vs-mono probe instead of the import "
        "bench (uses --mb for corpus size)",
    )
    ap.add_argument(
        "--sizes",
        default=None,
        help="comma-separated MB list (e.g. 100,1024): run each size in "
        "turn and emit ONE JSON line with per-size rows plus MB/s scaling "
        "ratios vs the first size; --files scales with size (1 file per "
        "~12.5 MB, floored at --files)",
    )
    args = ap.parse_args()

    from wikipedia_org_xmldump_importer_spark.session import build_session

    spark = build_session("xml-bench")
    if args.multistream:
        print(json.dumps(run_multistream(spark, args.mb, args.workdir)))
        return
    if args.sizes is None:
        print(json.dumps(run_once(spark, args.mb, args.files, args.workdir)))
        return

    sizes = [float(s) for s in args.sizes.split(",")]
    runs = []
    for mb in sizes:
        n_files = max(args.files, int(mb / 12.5))
        # size-specific dir: Spark's InMemoryFileIndex caches listings per
        # path, so reusing one path across sizes reads STALE file sets
        workdir = os.path.join(args.workdir, f"mb{int(mb)}")
        runs.append(run_once(spark, mb, n_files, workdir))
        shutil.rmtree(workdir, ignore_errors=True)  # keep disk bounded
    base = runs[0]
    scaling = [
        {
            "mb": r["mb"],
            "import_mb_per_s": r["value"],
            "full_pipeline_mb_per_s": r["full_pipeline_mb_per_s"],
            "meta_only_mb_per_s": r["meta_only_mb_per_s"],
            # >1.0 = throughput IMPROVES with size (fixed overheads amortize)
            "throughput_vs_first": round(r["value"] / base["value"], 3),
            "full_vs_first": round(
                r["full_pipeline_mb_per_s"] / base["full_pipeline_mb_per_s"], 3
            ),
        }
        for r in runs
    ]
    print(
        json.dumps(
            {
                "metric": "xml_import_scaling",
                "unit": "MB/s",
                "runs": runs,
                "scaling": scaling,
            }
        )
    )


if __name__ == "__main__":
    main()
