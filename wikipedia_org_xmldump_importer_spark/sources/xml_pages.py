"""MediaWiki XML dump ingestion — the reference's own capability surface
(SURVEY.md §1.1-§1.2, §7 M4), rebuilt on Spark 4's native XML data source.

The input model is the public MediaWiki export format
(https://www.mediawiki.org/xml/export-0.11.xsd): one huge XML document,
one <page> element per article, each with 1..N <revision> children. The
reference streams this once and batch-inserts into the canonical MediaWiki
SQL tables (page / revision / text / contributor). Here the same flatten
lands in DataFrames → Parquet (or the JDBC sink, io.sink_jdbc).

100 TB notes:
  * The FILE is the scan's minimum split grain. Measured on this box
    (r10, NOTES.md "Round 10 probes"): Spark's XML source NEVER splits
    within a file — a 64 MB plain .xml and its .bz2 both stay one
    partition even at spark.sql.files.maxPartitionBytes=1 MB (rowTag
    row-splitting does not translate into input splits; compressed
    inputs are read whole). Many small files DO bin-pack toward one
    partition per core, so a 100 TB dump parallelizes by SHARD COUNT —
    which is how real dumps ship (enwiki pages-articles-multistream is
    ~700+ bz2 chunks plus an index). Feed the chunk set; for a mono-file
    dump run sources/dump_split.shard_dump (s14) first.
    tests/test_dump_split.py asserts that shards scan as >1 partition
    while the mono-file stays at 1; perfbench's import_full workload
    imports an 8-shard dump and reports the import in MB/s.
  * The explicit PAGE_SCHEMA matters twice: schema inference on XML is a
    full extra pass over 100 TB, and the read schema is the ONLY nested
    pruning the XML source gets — Catalyst's nestedSchemaPruning rule
    applies to Parquet/ORC alone, so a metadata-only scan must pass
    ``include_text=False`` to keep the giant ``revision.text`` payload
    (the dominant byte share of a real dump) out of the parsed rows.
    Top-level column pruning DOES reach the XML scan, and the nested
    case holds for both the plain and the multistream scan (both
    asserted in tests/test_xml_ingest.py and test_dump_multistream.py).
  * Multi-revision pages arrive as ARRAY<STRUCT> → posexplode preserves
    in-page revision order without a window.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Explicit schema for <page> rows per the public export-0.11 XSD.
# Attribute-valued fields surface as `_`-prefixed struct fields; the
# contributor union (registered user | anonymous IP) is a struct of
# nullables; element-presence booleans (<minor/>, <redirect .../>) surface
# as nullable strings checked with isNotNull.
_CONTRIBUTOR = StructType(
    [
        StructField("id", LongType()),
        StructField("ip", StringType()),
        StructField("username", StringType()),
    ]
)

_TEXT = StructType(
    [
        StructField("_VALUE", StringType()),
        StructField("_bytes", LongType()),
        StructField("_deleted", StringType()),
    ]
)

_REVISION = StructType(
    [
        StructField("id", LongType()),
        StructField("parentid", LongType()),
        StructField("timestamp", TimestampType()),
        StructField("contributor", _CONTRIBUTOR),
        StructField("minor", StringType()),
        StructField("comment", StringType()),
        StructField("model", StringType()),
        StructField("format", StringType()),
        StructField("text", _TEXT),
        StructField("sha1", StringType()),
    ]
)

def _page_schema(text_struct: StructType) -> StructType:
    return StructType(
        [
            StructField("id", LongType()),
            StructField("ns", LongType()),
            StructField("title", StringType()),
            StructField(
                "redirect", StructType([StructField("_title", StringType())])
            ),
            StructField("restrictions", StringType()),
            StructField(
                "revision",
                ArrayType(
                    StructType(
                        [
                            f if f.name != "text" else StructField("text", text_struct)
                            for f in _REVISION.fields
                        ]
                    )
                ),
            ),
        ]
    )


PAGE_SCHEMA = _page_schema(_TEXT)

# Metadata-only twin: revision.text keeps its attributes (_bytes for page_len
# / rev_len, _deleted for the tombstone flag) but drops the _VALUE payload —
# the XML parser then never materializes the article content string.
_TEXT_META = StructType([f for f in _TEXT.fields if f.name != "_VALUE"])
PAGE_SCHEMA_META = _page_schema(_TEXT_META)


def scan_xml_pages(
    spark: SparkSession,
    path: str,
    include_text: bool = True,
    with_dump_id: bool = False,
) -> DataFrame:
    """s2: stream <page> rows from a MediaWiki dump (xml[.bz2/.gz]).

    ``include_text=False`` reads with the metadata-only schema — the nested
    pruning Catalyst cannot do for XML (nestedSchemaPruning is Parquet/ORC
    only), done where it must be: at the parser. Use it for any pipeline
    that doesn't build the ``text`` table.

    ``with_dump_id=True`` stamps each page with the source file it came
    from (``input_file_name()``, evaluated at scan time — zero cost) so a
    directory of dumps from DIFFERENT wikis stays joinable to the right
    per-dump <siteinfo> header (namespace ids are wiki-local: ns=1 is
    "Talk" on enwiki, "Diskussion" on dewiki)."""
    df = (
        spark.read.format("xml")
        .option("rowTag", "page")
        .schema(PAGE_SCHEMA if include_text else PAGE_SCHEMA_META)
        .load(path)
    )
    if with_dump_id:
        df = df.withColumn("dump_id", F.input_file_name())
    return df


# <siteinfo> is one element per dump: site metadata + the namespace map
# (key="N" attribute, name as element text; the main namespace (key 0) is an
# empty element → NULL name). Explicit schema for the same reasons as
# PAGE_SCHEMA: no inference pass, no drift.
SITEINFO_SCHEMA = StructType(
    [
        StructField("sitename", StringType()),
        StructField("dbname", StringType()),
        StructField("base", StringType()),
        StructField("generator", StringType()),
        StructField("case", StringType()),
        StructField(
            "namespaces",
            StructType(
                [
                    StructField(
                        "namespace",
                        ArrayType(
                            StructType(
                                [
                                    StructField("_key", LongType()),
                                    StructField("_case", StringType()),
                                    StructField("_VALUE", StringType()),
                                ]
                            )
                        ),
                    )
                ]
            ),
        ),
    ]
)


def scan_xml_siteinfo(
    spark: SparkSession, path: str, with_dump_id: bool = False
) -> DataFrame:
    """The one-per-dump <siteinfo> header — read separately with rowTag
    switched to siteinfo and broadcast as a dimension (SURVEY §1.3). One
    row per dump file; at 100 TB the read still touches every split (the
    XML source can't know which file region holds the header), so scan it
    once and persist/broadcast the result, never per-query.

    ``with_dump_id=True``: stamp each header with its source file — the
    join key for a mixed-wiki dump lake (see ``scan_xml_pages``)."""
    df = (
        spark.read.format("xml")
        .option("rowTag", "siteinfo")
        .schema(SITEINFO_SCHEMA)
        .load(path)
    )
    if with_dump_id:
        df = df.withColumn("dump_id", F.input_file_name())
    return df


def namespaces_dim(siteinfo: DataFrame) -> DataFrame:
    """Flatten <siteinfo> into the namespace dimension (ns_key, ns_case,
    ns_name). The main namespace (key 0) keeps a NULL ns_name exactly as
    the wire format has it (empty element). A ``dump_id`` column (multi-wiki
    lake) is carried through, making the dim key (dump_id, ns_key)."""
    carry = ["dump_id"] if "dump_id" in siteinfo.columns else []
    return (
        siteinfo.select(*carry, F.explode("namespaces.namespace").alias("n"))
        .select(
            *carry,
            F.col("n._key").alias("ns_key"),
            F.col("n._case").alias("ns_case"),
            F.col("n._VALUE").alias("ns_name"),
        )
    )


def resolve_namespaces(pages: DataFrame, ns_dim: DataFrame) -> DataFrame:
    """Attach ns_name to pages via an explicit broadcast of the (≤ few
    hundred row per wiki) namespace dimension — the canonical small-dim
    join: the 100 TB page scan never shuffles. When both sides carry
    ``dump_id``, the join is per-dump, so namespace names from one wiki
    never label another wiki's pages."""
    cond = pages["ns"] == ns_dim["ns_key"]
    if "dump_id" in pages.columns and "dump_id" in ns_dim.columns:
        ns_dim = ns_dim.withColumnRenamed("dump_id", "ns_dump_id")
        cond = cond & (pages["dump_id"] == ns_dim["ns_dump_id"])
        return pages.join(F.broadcast(ns_dim), cond, "left").drop("ns_dump_id")
    return pages.join(F.broadcast(ns_dim), cond, "left")


def filter_namespace(
    pages: DataFrame, namespace: int = 0, drop_redirects: bool = True
) -> DataFrame:
    """p3: the importer's article-only filter (main namespace, no redirects).
    Runs before flattening so the revision payload of filtered pages is
    never materialized (predicate + nested-schema pruning)."""
    out = pages.filter(F.col("ns") == namespace)
    if drop_redirects:
        out = out.filter(F.col("redirect").isNull())
    return out


def _exploded(pages: DataFrame) -> DataFrame:
    return pages.select(
        F.col("id").alias("page_id"),
        F.posexplode("revision").alias("rev_idx", "rev"),
    )


def flatten_pages(pages: DataFrame) -> DataFrame:
    """The `page` destination table (canonical MediaWiki schema analog:
    page_id, namespace, title, redirect flag/target, latest rev, length)."""
    latest = F.array_max(F.transform("revision", lambda r: r.getField("id")))
    latest_len = F.element_at(
        F.transform("revision", lambda r: r.getField("text").getField("_bytes")), -1
    )
    return pages.select(
        F.col("id").alias("page_id"),
        F.col("ns").alias("page_namespace"),
        F.col("title").alias("page_title"),
        F.col("redirect").isNotNull().alias("page_is_redirect"),
        F.col("redirect").getField("_title").alias("redirect_title"),
        latest.alias("page_latest"),
        latest_len.alias("page_len"),
    )


def flatten_revisions(pages: DataFrame) -> DataFrame:
    """The `revision` destination table: one row per (page, revision),
    in-dump order preserved via posexplode index."""
    ex = _exploded(pages)
    r = F.col("rev")
    return ex.select(
        r.getField("id").alias("rev_id"),
        F.col("page_id").alias("rev_page"),
        F.col("rev_idx").alias("rev_seq"),
        r.getField("parentid").alias("rev_parent_id"),
        r.getField("timestamp").alias("rev_timestamp"),
        r.getField("minor").isNotNull().alias("rev_minor"),
        r.getField("comment").alias("rev_comment"),
        r.getField("model").alias("rev_model"),
        r.getField("format").alias("rev_format"),
        r.getField("sha1").alias("rev_sha1"),
        r.getField("text").getField("_bytes").alias("rev_len"),
    )


def flatten_contributors(pages: DataFrame) -> DataFrame:
    """The `contributor`/`actor` table: the registered-user|anonymous-IP
    union flattened to nullable columns."""
    ex = _exploded(pages)
    c = F.col("rev").getField("contributor")
    return ex.select(
        F.col("rev").getField("id").alias("rev_id"),
        c.getField("id").alias("user_id"),
        c.getField("username").alias("user_name"),
        c.getField("ip").alias("user_ip"),
        c.getField("ip").isNotNull().alias("is_anonymous"),
    )


def flatten_text(pages: DataFrame) -> DataFrame:
    """The `text` table: revision content blobs (can exceed 1 MB/row —
    kept in its own table exactly like MediaWiki's `old_text`, so page /
    revision scans never drag the payload)."""
    ex = _exploded(pages)
    t = F.col("rev").getField("text")
    return ex.select(
        F.col("rev").getField("id").alias("rev_id"),
        t.getField("_VALUE").alias("content"),
        t.getField("_bytes").alias("content_bytes"),
        t.getField("_deleted").isNotNull().alias("content_deleted"),
    )


_FLATTENS = {
    "page": flatten_pages,
    "revision": flatten_revisions,
    "contributor": flatten_contributors,
    "text": flatten_text,
}


def _scan_pages_any(
    spark: SparkSession,
    dump_path: str,
    include_text: bool,
    multistream_index: str | None,
) -> DataFrame:
    """Dispatch the page source: s20 multistream scan when an index is
    given (the format real dumps ship in — parallelism == chunk count),
    else the s2 file scan (plain/.bz2 files or shard directories)."""
    if multistream_index is not None:
        from .dump_multistream import scan_multistream  # noqa: PLC0415

        return scan_multistream(
            spark, dump_path, multistream_index, include_text=include_text
        )
    return scan_xml_pages(spark, dump_path, include_text=include_text)


def _run_concurrently(spark: SparkSession, jobs: list[Callable[[], None]]) -> None:
    """Run each job on its own thread, so their Spark jobs run at once, and
    re-raise the first error once every job has finished. Each thread
    carries the caller's job group and local properties. The wrapper is
    built once per job because each build clones the properties: threads
    sharing one clone would overwrite each other's SQL execution id."""
    from pyspark.util import inheritable_thread_target  # noqa: PLC0415

    with ThreadPoolExecutor(max_workers=max(len(jobs), 1)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(job)) for job in jobs
        ]
        for future in futures:
            future.result()


def _write_tables(
    spark: SparkSession, frames: dict[str, DataFrame], out_dir: str
) -> dict[str, DataFrame]:
    """Write each frame to ``out_dir/<name>.parquet`` as concurrent Spark
    jobs and return, per name, a frame that reads the written table back
    (schema pinned, so the read-back launches no inference job). Callers
    derive from and load out of the lake, not by re-running the lineage
    that produced it."""
    from ..io import sink_parquet  # noqa: PLC0415

    paths = {name: f"{out_dir}/{name}.parquet" for name in frames}
    _run_concurrently(
        spark,
        [partial(sink_parquet, df, paths[name]) for name, df in frames.items()],
    )
    return {
        name: spark.read.schema(df.schema).parquet(paths[name])
        for name, df in frames.items()
    }


def import_dump(
    spark: SparkSession,
    dump_path: str,
    out_dir: str,
    namespace: int | None = 0,
    drop_redirects: bool = False,
    tables: tuple[str, ...] = ("page", "revision", "contributor", "text"),
    multistream_index: str | None = None,
) -> dict[str, DataFrame]:
    """The reference's whole pipeline as one call: dump → four Parquet
    tables (BASELINE.json: 'Spark XML reader + DataFrame write to JDBC' —
    load the returned frames with io.sink_jdbc when a DB DSN is
    configured, as ``__main__`` does). ``multistream_index`` switches the
    page source to the s20 multistream reader, so the format real dumps
    ship in feeds this pipeline directly (tested row-identical to the mono
    path). The returned frames read the written Parquet.

    100 TB notes: one XML scan, cached after the namespace filter, feeds
    all requested flattens (XML parse dominates cost and never runs
    twice); the flattens are written as concurrent Spark jobs, and the
    cache is released before return. A metadata-only import (``tables``
    without "text") scans with the pruned schema so the article payload
    is never parsed into rows.
    """
    pages = _scan_pages_any(
        spark, dump_path, "text" in tables, multistream_index
    )
    if namespace is not None:
        pages = filter_namespace(pages, namespace, drop_redirects)
    pages = pages.cache()
    try:
        return _write_tables(
            spark, {name: _FLATTENS[name](pages) for name in tables}, out_dir
        )
    finally:
        pages.unpersist()


# --------------------------------------------------------------------------
# s9 — wikilink extraction (the `pagelinks` table analog)
# --------------------------------------------------------------------------


def extract_wikilinks(pages: DataFrame) -> DataFrame:
    """s9: build the ``pagelinks`` analog — one row per (source page,
    distinct link target) from each page's LATEST revision text, with an
    occurrence count. ``[[Target]]``, ``[[Target|label]]`` and
    ``[[Target#Section|label]]`` all resolve to ``Target``; target
    normalization is MediaWiki's cheap half (underscores → spaces, trim,
    first-letter case preserved — full title canonicalization needs the
    wiki's $wgCapitalLinks config, out of scope for a dump importer).

    100 TB notes: text parsing is one codegen regexp_extract_all over the
    latest-revision projection (never all revisions — text payloads
    dominate dump bytes); the explode collapses straight into a
    map-combined (page, target) count. Links into redirect pages compose
    with resolve_redirect_chains to produce the resolved link graph."""
    latest_text = F.element_at(
        F.transform("revision", lambda r: r.getField("text").getField("_VALUE")),
        -1,
    )
    links = (
        pages.select(
            F.col("id").alias("from_page_id"),
            F.col("title").alias("from_title"),
            latest_text.alias("latest_text"),
        )
        .select(
            "from_page_id",
            "from_title",
            F.explode(
                F.expr(
                    r"regexp_extract_all(latest_text, '\\[\\[([^\\]\\|#]+)', 1)"
                )
            ).alias("raw_target"),
        )
        .select(
            "from_page_id",
            "from_title",
            F.trim(F.regexp_replace("raw_target", "_", " ")).alias("to_title"),
        )
        .filter(F.col("to_title") != "")
    )
    return links.groupBy("from_page_id", "from_title", "to_title").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )


# --------------------------------------------------------------------------
# s10 — redirect chain resolution (bounded hops + cycle detection)
# --------------------------------------------------------------------------

_REDIRECT_MAX_HOPS = 3


def resolve_redirect_chains(pages: DataFrame) -> DataFrame:
    """s10: resolve every redirect page to its FINAL target through up to
    3 hops of redirect→redirect chains, flagging cycles and dangling
    targets: the fixup MediaWiki runs as a maintenance job and every
    link-graph consumer needs (a wikilink into ``Spark`` must count as a
    link into ``Apache Spark`` when Spark → Spark (cluster computing) →
    Apache Spark).

    Output: (page_id, title, first_target, final_title, hops, status) with
    status ∈ resolved | cycle | dangling — ``resolved`` means final_title
    is a real non-redirect page; ``dangling`` a target that doesn't exist
    in the dump; ``cycle`` a loop within the hop budget (MediaWiki caps
    double-redirect resolution the same way rather than chasing).

    100 TB notes: hops unroll as 3 self-joins of the REDIRECT-ONLY
    projection (a few % of pages) against the page-title dim — each a
    broadcast-size frame on any real wiki; no iteration state."""
    flat = flatten_pages(pages).select(
        "page_id", "page_title", "page_is_redirect", "redirect_title"
    )
    titles = flat.select(
        F.col("page_title").alias("t_title"),
        F.col("page_is_redirect").alias("t_is_redirect"),
        F.col("redirect_title").alias("t_next"),
    )
    cur = flat.filter(F.col("page_is_redirect")).select(
        "page_id",
        F.col("page_title").alias("title"),
        F.col("redirect_title").alias("first_target"),
        F.col("redirect_title").alias("cur_target"),
        F.lit(1).alias("hops"),
        F.lit(False).alias("done"),
        F.lit(False).alias("dangling"),
    )
    for _ in range(_REDIRECT_MAX_HOPS - 1):
        cur = (
            cur.join(
                titles, cur.cur_target == titles.t_title, "left"
            )
            .select(
                "page_id",
                "title",
                "first_target",
                F.when(
                    F.col("done")
                    | F.col("dangling")
                    | F.col("t_title").isNull()
                    | ~F.col("t_is_redirect"),
                    F.col("cur_target"),
                )
                .otherwise(F.col("t_next"))
                .alias("cur_target"),
                F.when(
                    F.col("done")
                    | F.col("dangling")
                    | F.col("t_title").isNull()
                    | ~F.col("t_is_redirect"),
                    F.col("hops"),
                )
                .otherwise(F.col("hops") + 1)
                .alias("hops"),
                (
                    F.col("done")
                    | (F.col("t_title").isNotNull() & ~F.col("t_is_redirect"))
                ).alias("done"),
                (F.col("dangling") | F.col("t_title").isNull()).alias(
                    "dangling"
                ),
            )
        )
    # final status: one more dim probe on the resting target
    out = (
        cur.join(titles, cur.cur_target == titles.t_title, "left")
        .select(
            "page_id",
            "title",
            "first_target",
            F.col("cur_target").alias("final_title"),
            "hops",
            F.when(F.col("t_title").isNull(), "dangling")
            .when(~F.col("t_is_redirect"), "resolved")
            .otherwise("cycle")
            .alias("status"),
        )
    )
    return out


# --------------------------------------------------------------------------
# s11 — revision deltas + identity-revert detection
# --------------------------------------------------------------------------


def revision_deltas(pages: DataFrame) -> DataFrame:
    """s11: per-revision BYTE DELTA vs the previous revision plus
    IDENTITY-REVERT detection (a revision whose sha1 matches an EARLIER
    revision of the same page restored that exact content — the standard
    dump-analytics definition of a revert, no diffing needed): the
    edit-war / vandalism signal every wiki-research pipeline derives
    first from these dumps.

    100 TB notes: one shuffle on page_id serves the delta lag and the
    seen-before sha1 check (a count window over (page, sha1) up to the
    previous row); text bytes ride the metadata schema — the content
    blob is never read."""
    rev = flatten_revisions(pages)
    w = Window.partitionBy("rev_page").orderBy("rev_seq")
    w_sha = (
        Window.partitionBy("rev_page", "rev_sha1")
        .orderBy("rev_seq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return rev.select(
        "rev_page",
        "rev_id",
        "rev_seq",
        "rev_timestamp",
        "rev_len",
        (F.col("rev_len") - F.lag("rev_len").over(w)).alias("byte_delta"),
        (F.count(F.lit(1)).over(w_sha) > 0).alias("is_identity_revert"),
    )


# --------------------------------------------------------------------------
# The flagship pipeline: dump -> tables -> link graph -> sinks, ONE call
# --------------------------------------------------------------------------


def import_dump_full(
    spark: SparkSession,
    dump_path: str,
    out_dir: str,
    jdbc_url: str | None = None,
    jdbc_properties: dict | None = None,
    namespace: int | None = None,
    multistream_index: str | None = None,
) -> dict[str, DataFrame]:
    """The reference's ACTUAL job as one entry point (r8 verdict task 6):
    MediaWiki export dump -> page / revision / contributor / text tables
    -> wikilink graph -> redirect resolution -> RESOLVED link graph ->
    Parquet sinks (+ the JDBC load when ``jdbc_url`` is given — Derby in
    tests, any production DB via the same DSN string).

    Tables produced (all also returned, keyed by name):

    - ``page`` / ``revision`` / ``contributor`` / ``text`` — the four
      classic flattened dump tables (s2 scan + flattens).
    - ``pagelinks`` — (from_page_id, from_title, to_title, n_occurrences)
      from each page's latest revision text (s9).
    - ``redirect`` — every redirect page resolved through up to 3 hops
      with cycle/dangling status (s10).
    - ``pagelinks_resolved`` — the link graph every consumer actually
      wants: each link target rewritten through the redirect table to its
      FINAL title (a wikilink into ``Spark`` counts as a link into
      ``Apache Spark``), re-aggregated at the resolved-target grain.

    The returned frames read the written Parquet.

    100 TB notes: ONE XML scan (cached post-namespace-filter) feeds every
    flatten, the link extraction and the redirect resolution — XML parse
    dominates dump cost and must never run twice. Those six independent
    tables are written as concurrent Spark jobs (the FIFO scheduler gives
    the first job's tasks the cores, so the cache still fills in one
    parse); the cache is then released, before anything else runs.
    ``pagelinks_resolved`` and the JDBC loads read the written lake, so
    the redirect self-joins and the link regex run once per import, not
    once per sink. The redirect frame is a few percent of pages on any
    real wiki, so the resolution join broadcasts; the resolved-graph
    re-aggregation shuffles on (from_page_id, resolved_title) — the same
    key grain as the raw extraction, so AQE coalesces it into the
    extraction's own exchange footprint. JDBC load covers the metadata
    tables (page/redirect/resolved links), NOT text — shipping article
    payloads through row-at-a-time JDBC is the reference's documented
    bottleneck; the parquet lake is the text sink of record.
    """
    from ..io import sink_jdbc  # noqa: PLC0415

    pages = _scan_pages_any(spark, dump_path, True, multistream_index)
    if namespace is not None:
        pages = filter_namespace(pages, namespace, drop_redirects=False)
    pages = pages.cache()
    try:
        frames = {name: _FLATTENS[name](pages) for name in _FLATTENS}
        frames["pagelinks"] = extract_wikilinks(pages)
        frames["redirect"] = resolve_redirect_chains(pages)
        out = _write_tables(spark, frames, out_dir)
    finally:
        pages.unpersist()

    resolved_dim = F.broadcast(
        out["redirect"]
        .filter(F.col("status") == "resolved")
        .select(
            F.col("title").alias("r_title"),
            F.col("final_title").alias("r_final"),
        )
    )
    resolved = (
        out["pagelinks"]
        .join(resolved_dim, F.col("to_title") == F.col("r_title"), "left")
        .select(
            "from_page_id",
            "from_title",
            F.coalesce("r_final", "to_title").alias("to_title_resolved"),
            "n_occurrences",
        )
        .groupBy("from_page_id", "from_title", "to_title_resolved")
        .agg(F.sum("n_occurrences").alias("n_occurrences"))
    )
    out.update(_write_tables(spark, {"pagelinks_resolved": resolved}, out_dir))

    if jdbc_url is not None:
        _run_concurrently(
            spark,
            [
                partial(
                    sink_jdbc,
                    out[name],
                    jdbc_url,
                    f"wiki_{name}",
                    mode="overwrite",
                    num_partitions=4,
                    properties=jdbc_properties,
                )
                for name in ("page", "redirect", "pagelinks_resolved")
            ],
        )
    return out


# --------------------------------------------------------------------------
# s13 — incremental dump ingestion (Structured Streaming file source)
# --------------------------------------------------------------------------


def stream_import_dump(
    spark: SparkSession,
    watch_dir: str,
    out_dir: str,
    tables: tuple[str, ...] = ("page", "revision", "contributor", "text"),
    include_links: bool = True,
    checkpoint: str | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """s13: INCREMENTAL dump ingestion — the streaming twin of
    ``import_dump_full``. Wikis publish dumps on a cadence (and adds-
    changes dumps daily); instead of re-importing the lake, watch a
    landing directory with Structured Streaming's file source and flatten
    each newly-arrived dump file into the SAME parquet tables, exactly
    once, resumable via the checkpoint.

    ``foreachBatch`` is the deliberate shape: one micro-batch = one set of
    newly-arrived dump files as an ordinary batch DataFrame, so every
    batch flatten (``_FLATTENS``) and ``extract_wikilinks`` is reused
    VERBATIM — streaming and batch cannot drift because they are the same
    code. The per-batch frame is persisted once and feeds all sinks (the
    multi-sink fan-out writeStream cannot express without running the
    scan per sink).

    Redirect-chain resolution is deliberately NOT per-batch: chains cross
    dump files, so resolving per-arrival would use a partial title dim.
    Run ``resolve_redirect_chains`` over the accumulated ``page`` table
    as the periodic compaction step (MediaWiki itself runs double-
    redirect fixup as a maintenance job, not inline).

    100 TB notes: the file source scales by NOT re-listing processed
    files (checkpoint log); ``maxFilesPerTrigger`` bounds micro-batch
    memory; per-batch parquet appends are partition-atomic. Exactly-once
    comes from the source log + idempotent re-run of the LAST batch on
    restart — acceptable for append-only dump tables keyed by rev_id
    (dedup on read or MERGE compaction are the standard hardenings).

    Returns the started ``StreamingQuery`` (``availableNow`` by default:
    drain everything currently in the directory, then stop — the
    cron-shaped deployment; pass ``available_now=False`` for a continuous
    watcher)."""
    from ..io import sink_parquet  # noqa: PLC0415

    stream = (
        spark.readStream.format("xml")
        .option("rowTag", "page")
        .schema(PAGE_SCHEMA)
    )
    if max_files_per_trigger:
        stream = stream.option("maxFilesPerTrigger", str(max_files_per_trigger))
    pages = stream.load(watch_dir)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            for name in tables:
                sink_parquet(
                    _FLATTENS[name](batch_df),
                    f"{out_dir}/{name}.parquet",
                    mode="append",
                )
            if include_links:
                sink_parquet(
                    extract_wikilinks(batch_df),
                    f"{out_dir}/pagelinks.parquet",
                    mode="append",
                )
        finally:
            batch_df.unpersist()

    writer = (
        pages.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint or f"{out_dir}/_checkpoint")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
