"""CLI for the import pipeline — the reference's invocation surface
(`importer <dump> <dsn>`, SURVEY.md §3.1) re-expressed:

    python -m wikipedia_org_xmldump_importer_spark \
        --xml dump.xml[.bz2] --out /data/wiki \
        [--namespace 0] [--shard-mb 256] [--jdbc-url jdbc:postgresql://...]

Runs ``sources.xml_pages.import_dump_full``: writes its seven tables (page /
revision / contributor / text / pagelinks / redirect / pagelinks_resolved)
as Parquet under --out; with --jdbc-url, additionally loads wiki_page /
wiki_redirect / wiki_pagelinks_resolved through the JDBC sink (the
reference's DB-load step). ``--shard-mb`` pre-splits a MONO-FILE dump at
<page> boundaries first (sources/dump_split.py, s14) — Spark's XML source
never splits within a file, so without it a single-file dump parses on one
core.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="wikipedia_org_xmldump_importer_spark")
    p.add_argument("--xml", required=True, help="MediaWiki dump path (.xml/.xml.bz2/.xml.gz)")
    p.add_argument("--out", required=True, help="output directory for Parquet tables")
    p.add_argument("--namespace", type=int, default=0, help="keep only this ns (-1 = all)")
    p.add_argument("--jdbc-url", default=None, help="optional JDBC DSN for the DB-load step")
    p.add_argument("--master", default=None, help="Spark master (default local[$SPARK_GRAFT_CPUS])")
    p.add_argument(
        "--shard-mb",
        type=float,
        default=None,
        help="pre-split a MONO-FILE dump into shards of this size first "
        "(s14; the XML source never splits within a file)",
    )
    args = p.parse_args(argv)

    from .session import build_session
    from .sources.xml_pages import import_dump_full

    xml_path = args.xml
    if args.shard_mb:
        import os

        from .sources.dump_split import shard_dump

        shard_dir = os.path.join(args.out, "_shards")
        res = shard_dump(args.xml, shard_dir, shard_mb=args.shard_mb)
        print(
            f"sharded {args.xml} -> {res['shards']} shards "
            f"({res['pages']} pages) in {shard_dir}",
            file=sys.stderr,
        )
        xml_path = shard_dir

    spark = build_session(app_name="xmldump-import", master=args.master)
    tables = import_dump_full(
        spark,
        xml_path,
        args.out,
        jdbc_url=args.jdbc_url,
        namespace=None if args.namespace == -1 else args.namespace,
    )
    for name, df in tables.items():
        n = df.count()
        print(f"{name}: {n} rows -> {args.out}/{name}.parquet", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
