"""Table IO: scans over the driver-generated parquet tables + sinks.

SURVEY.md §2.1 (s1 scan_parquet, s4 sink_parquet, s5 sink_jdbc).

100 TB notes: parquet scans here are plain ``spark.read.parquet`` so Catalyst
DSv2 pushdown (predicates, column pruning, partition pruning) applies
untouched — every downstream operator's filters reach the row-group level.
Parquet schema inference reads only footers, but it still launches one Spark
job per ``spark.read.parquet`` call, so ``load_table`` infers each table's
schema once and pins Spark's own inferred StructType on later reads of the
same unchanged files (``_read_parquet``). XML ingestion
(sources/xml_pages.py) pins an explicit schema up front because XML
inference is a full extra pass over the data.
"""

from __future__ import annotations

import math
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_EPOCH_NTZ = "CAST('1970-01-01 00:00:00' AS TIMESTAMP_NTZ)"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one of the ten driver tables from ``{sf_dir}/{name}.parquet``.

    ``events.ts`` has shipped as parquet TIMESTAMP(NANOS) in some testdata
    generations and TIMESTAMP(MICROS) in others, so the branch below is
    type-driven. NANOS cannot map to a Catalyst type (PARQUET_TYPE_ILLEGAL);
    we read it as epoch-nanos int64 via
    ``spark.sql.legacy.parquet.nanosAsLong`` and rebuild. MICROS reads
    natively as TIMESTAMP_NTZ and only needs the companion long. Either way
    callers see the same two columns:

      * ``ts``    — TIMESTAMP_NTZ at microsecond precision, truncated exactly
                    like DuckDB truncates ns->us (integer ``div``, no float
                    rounding), and timezone-independent (pure epoch
                    arithmetic on the NTZ epoch — no session-tz dependence).
      * ``ts_us`` — the epoch-microseconds long, kept as a convenience column
                    for range-frame windows (SURVEY §2.5 w5) and lag deltas
                    (w3), where integer arithmetic is cheaper and
                    deterministic across engines.

    The legacy conf is set on the *runtime* conf so this works on any caller
    session (incl. the driver's); it only affects how NANOS columns read.

    When ``cbo.register_tables_with_stats`` has registered this (session,
    sf_dir), the scan resolves to the stats-bearing catalog table instead of
    the bare path — same files, same schema, but Catalyst sees rowCount /
    size / column stats, so CBO join reordering and stats-based broadcast
    decisions fire. Unregistered sessions (the driver's harness) take the
    path branch, which reads through ``_read_parquet``: the first read of a
    path infers its schema (one Spark job) and later reads pin that cached
    schema, so they launch no job. Rewriting, adding or removing a data
    file under the path, or changing one of the session confs that shape
    parquet inference (``_INFER_CONFS``), invalidates the cached schema.
    """
    from .cbo import registered_dir  # noqa: PLC0415 — io<->cbo cycle at import

    path = f"{sf_dir}/{name}.parquet"
    from_catalog = registered_dir(spark, name) == sf_dir
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.table(name) if from_catalog else _read_parquet(spark, path)
        if isinstance(df.schema["ts"].dataType, LongType):
            # TIMESTAMP(NANOS) footer → epoch-nanos long; truncate ns→us
            # exactly like DuckDB (integer div, no float rounding).
            df = df.withColumn("ts_us", F.expr("ts div 1000")).withColumn(
                "ts",
                F.expr(f"timestampadd(MICROSECOND, ts div 1000, {_EPOCH_NTZ})"),
            )
        else:
            # TIMESTAMP(MICROS) footer → native TIMESTAMP_NTZ; derive the
            # epoch-µs long by pure integer arithmetic on the NTZ epoch
            # (timezone-independent, exact on both engines).
            df = df.withColumn(
                "ts_us", F.expr(f"timestampdiff(MICROSECOND, {_EPOCH_NTZ}, ts)")
            )
        return df.select(
            "event_id", "ts", "user_id", "event_type", "value", "props", "ts_us"
        )
    if from_catalog:
        return spark.table(name)
    return _read_parquet(spark, path)


# Session confs that change the schema parquet inference returns; a cached
# schema is reused only under the values it was inferred with.
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
# path -> (cache key, Spark's inferred schema); one entry per path, so a
# rewritten file replaces its entry rather than adding one.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that launches no schema-inference job
    after the first read of the same files under the same inference confs.

    The cached schema is Spark's own ``df.schema`` from that first read, so
    the pinned read plans exactly like an inferred one. The key is the data
    files' ``(path, size, mtime_ns)`` plus the ``_INFER_CONFS`` values; a
    path that is not locally inspectable (remote filesystem) is read
    uncached."""
    files = _local_data_files(path)
    if files is None:
        return spark.read.parquet(path)
    key = (tuple(sorted(files)), tuple(spark.conf.get(k) for k in _INFER_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (key, df.schema)
    return df


def _local_data_files(path: str) -> list[tuple[str, int, int]] | None:
    """``[(file, size, mtime_ns)]`` for the data files of a local parquet
    path — the file itself, or every file under a directory except
    ``_``/``.``-prefixed metadata. ``None`` when the path is not locally
    inspectable (missing, remote filesystem, or an ``OSError``)."""
    try:
        if os.path.isdir(path):
            out = []
            for root, _dirs, names in os.walk(path):
                for n in names:
                    if n.startswith(("_", ".")):
                        continue
                    f = os.path.join(root, n)
                    st = os.stat(f)
                    out.append((f, st.st_size, st.st_mtime_ns))
            return out
        if os.path.isfile(path):
            st = os.stat(path)
            return [(path, st.st_size, st.st_mtime_ns)]
    except OSError:
        return None
    return None


def _conf_bytes(spark: SparkSession, key: str, default: str) -> int | None:
    """A byte-size session conf (``"10485760b"``, ``"128m"``, ``"-1"``) in
    bytes; ``None`` when the value does not parse."""
    raw = str(spark.conf.get(key, default))
    m = re.fullmatch(r"(-?\d+)\s*([kKmMgG]?)[bB]?", raw)
    if not m:
        return None
    mult = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30}[m.group(2).lower()]
    return int(m.group(1)) * mult


def _est_scan_splits(spark: SparkSession, path: str) -> int | None:
    """Estimated split count of a parquet scan over ``path`` —
    ``ceil(total_bytes / maxPartitionBytes)``, a deliberate UNDERestimate
    of Spark's own split math (which also splits to fill parallelism), so
    the caller's spread guard errs toward today's behavior. ``None`` when
    the path is not locally inspectable (remote FS)."""
    files = _local_data_files(path)
    split = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes", "134217728b")
    if files is None or split is None or split <= 0:
        return None
    return max(1, math.ceil(sum(size for _f, size, _m in files) / split))


def table_broadcastable(spark: SparkSession, sf_dir: str, name: str) -> bool:
    """True when ``{sf_dir}/{name}.parquet`` would plausibly BROADCAST in a
    join under the session's ``spark.sql.autoBroadcastJoinThreshold`` —
    on-disk parquet bytes x3 (columnar compression -> in-memory row
    expansion, a deliberate overestimate so the guard errs toward the
    at-scale plan) under the threshold.

    Consumers branch between two row-identical plan shapes on this (e.g.
    flagship_star_revenue: join-first when orders broadcasts, order-grain
    pre-aggregation when it will not — r15; the load_table_spread
    pattern). Falls back to False — the at-scale shape — when the path is
    not locally inspectable or broadcast is disabled (threshold -1)."""
    files = _local_data_files(f"{sf_dir}/{name}.parquet")
    threshold = _conf_bytes(
        spark, "spark.sql.autoBroadcastJoinThreshold", "10485760b"
    )
    if files is None or threshold is None or threshold <= 0:
        return False
    return sum(size for _f, size, _m in files) * 3 < threshold


def load_table_spread(
    spark: SparkSession, sf_dir: str, name: str, *keys: str
) -> DataFrame:
    """``load_table`` + hash-spread on ``keys`` ONLY while the scan is
    narrower than the session's parallelism.

    The spread exists so a single-file local scan parallelizes per-row-heavy
    projections (md5 shingles, gram explodes) across every core; at scale
    the scan already carries >= parallelism splits and the repartition
    would be a pure payload shuffle of the text column before a per-row
    pipeline (guide §2.3/§2.4 — an accidental exchange). Results are
    layout-invariant by attestation (the shuffle-layout invariance sweep),
    so the branch only affects the plan, never the rows. Falls back to the
    unconditional spread when the input is not locally inspectable."""
    df = load_table(spark, sf_dir, name)
    par = spark.sparkContext.defaultParallelism
    est = _est_scan_splits(spark, f"{sf_dir}/{name}.parquet")
    if est is None or est < par:
        df = df.repartition(par, *keys)
    return df


def sink_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None, mode: str = "overwrite"
) -> None:
    """s4: partitioned columnar sink.

    100 TB notes: partition columns should be low-cardinality (date, lang,
    namespace); high-cardinality partitioning creates a small-file explosion.
    Writers should generally ``repartition(partition_cols)`` first so each
    task writes one file per partition value rather than P×N fragments.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def sink_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batchsize: int = 10_000,
    num_partitions: int | None = None,
    properties: dict | None = None,
) -> None:
    """s5: the reference's DB-load step re-expressed as Spark's JDBC sink
    (BASELINE.json "Spark XML reader + DataFrame write to JDBC").

    No database *server* exists in this sandbox, but Spark's distribution
    ships the Derby embedded engine, so tests/test_jdbc_sink.py executes a
    real round-trip through this function (write → in-memory Derby table →
    read.jdbc → value equality). On a real cluster:

    100 TB notes: ``numPartitions`` bounds concurrent connections (each task
    opens one); ``batchsize`` amortizes per-row round trips (10k is the
    classic sweet spot); ``mode=append`` with idempotent staging tables +
    rename beats truncate-write for restartability at scale. This write is
    NON-TRANSACTIONAL per partition: run it with ``spark.speculation=false``
    (NOT under ``session.cluster_conf()``, which enables speculation) or a
    speculative duplicate task attempt can commit a partition twice.
    """
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
    writer = writer.option("batchsize", str(batchsize))
    if num_partitions:
        writer = writer.option("numPartitions", str(num_partitions))
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.mode(mode).save()


def scan_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    predicates: list[str] | None = None,
    fetchsize: int = 10_000,
    properties: dict | None = None,
) -> DataFrame:
    """s21: PARTITIONED JDBC read — the missing read half of s5 (r13
    verdict task 3). An importer-class user pulling a dimension or a
    previously-loaded fact back out of the warehouse previously got a
    single-connection scan; this endpoint mirrors sink_jdbc's parallelism
    contract in both production read shapes:

    * **stride form** (``partition_column`` + ``num_partitions``): Spark
      fans the scan into ``num_partitions`` range-strided queries
      (``WHERE col >= lo AND col < hi``), one connection each. If the
      bounds are omitted they are derived with ONE cheap driver-side
      ``SELECT MIN(col), MAX(col)`` probe — an indexed aggregate on any
      real warehouse — so callers don't hand-maintain them.
    * **predicate form** (``predicates``): caller-owned WHERE clauses
      (date slices, hash buckets, tenant ids), one partition per clause —
      the shape for non-numeric or skewed partition keys. The clauses
      must be DISJOINT and COVERING; overlaps duplicate rows (same
      contract as Spark's own ``read.jdbc(predicates=...)``).

    With neither, this is an explicit single-connection read (fine for
    genuinely small dims; everything else should pass a partitioning).

    100 TB notes: partition count bounds concurrent connections — size it
    to what the database tolerates, not to the cluster's cores (hundreds
    of parallel scans can brown-out an OLTP source); ``fetchsize``
    amortizes per-row round trips on the read path exactly as
    ``batchsize`` does on the write path (measured against Derby; the
    classic 10k default). A monotonically-
    loaded warehouse key (orderdate, ingest batch id) makes the stride
    form partition-pruned on the database side too, because each stride
    query hits one index range. Stride skew (a hot key range) is the
    JDBC analog of shuffle skew: fall back to the predicate form with
    hand-balanced slices when MIN/MAX strides would be lopsided.

    Derby-executed coverage: tests/test_jdbc_sink.py round-trips both
    forms and asserts the scan's partition count equals the request —
    the contract that distinguishes this from a single-connection read.
    """
    if partition_column is not None and predicates is not None:
        raise ValueError(
            "scan_jdbc: partition_column and predicates are mutually "
            "exclusive — pick the stride form or the predicate form"
        )
    props = {"fetchsize": str(fetchsize), **(properties or {})}
    if predicates is not None:
        if not predicates:
            raise ValueError("scan_jdbc: predicates list must be non-empty")
        return spark.read.jdbc(
            url=url, table=table, predicates=list(predicates), properties=props
        )
    if partition_column is not None:
        if not num_partitions or num_partitions < 1:
            raise ValueError(
                "scan_jdbc: stride form needs num_partitions >= 1"
            )
        if lower_bound is None or upper_bound is None:
            # One driver-side probe query; pushed as a subquery so the
            # database computes the aggregate (indexed on any real key).
            probe = (
                spark.read.format("jdbc")
                .option("url", url)
                .option(
                    "dbtable",
                    f"(SELECT MIN({partition_column}) AS lo, "
                    f"MAX({partition_column}) AS hi FROM {table}) probe",
                )
                .options(**props)
                .load()
                .collect()[0]
            )
            # positional access: identifier folding differs per database
            # (Derby uppercases unquoted aliases, Postgres lowercases)
            if probe[0] is None:  # empty table: any single stride works
                lower_bound, upper_bound = 0, 1
            else:
                lower_bound = int(probe[0])
                # +1: Spark's upperBound is exclusive on the last stride's
                # WHERE col >= hi clause boundary arithmetic; MAX(col) must
                # fall inside the final stride, not past it.
                upper_bound = int(probe[1]) + 1
        return spark.read.jdbc(
            url=url,
            table=table,
            column=partition_column,
            lowerBound=int(lower_bound),
            upperBound=int(upper_bound),
            numPartitions=int(num_partitions),
            properties=props,
        )
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .options(**props)
    )
    return reader.load()


def sink_orc(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    compression: str = "snappy",
) -> None:
    """s15: ORC columnar sink — the second Spark-native columnar format.

    Same DSv2 surface as parquet (predicate pushdown, column pruning,
    partition pruning all apply; tests assert PushedFilters reaches the ORC
    scan), so a downstream stack standardized on ORC (classic Hive/Presto
    warehouses) can consume this engine's output without a conversion hop.

    100 TB notes: ORC carries file/stripe/row-group (10k rows) min-max
    indexes like parquet's row groups, so pushed predicates skip stripes at
    scan time. Compression is per-stripe; ``snappy`` decodes fastest,
    ``zstd`` trades ~30% smaller files for CPU — pick by whether the table
    is scan-hot or archive-cold. Partition-column guidance is identical to
    sink_parquet (low cardinality or small-file explosion).
    """
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def scan_orc(spark: SparkSession, path: str) -> DataFrame:
    """s15: ORC scan twin of scan_parquet — footer-only schema, full DSv2
    pushdown (see sink_orc)."""
    return spark.read.orc(path)


def scan_parquet_evolving(
    spark: SparkSession,
    path: str,
    required: dict[str, str] | None = None,
) -> DataFrame:
    """s17: schema-evolution-tolerant parquet scan — read a directory whose
    files were written at DIFFERENT schema versions (the dump-importer
    reality: wiki dump fields appear/disappear across snapshot years, and
    an incremental sink accretes every vintage into one table).

    ``mergeSchema`` unions all footer schemas (absent columns read as
    null); ``required`` then pins the caller's contract: each
    ``{column: type}`` is added as typed nulls if no vintage ever had it,
    or cast if the files carry a narrower type. Parquet schema merge
    requires per-column TYPE equality — Spark refuses int↔bigint (and
    int↔string) merges loudly at planning time, the correct failure; for
    vintages that drifted a column's type, read each vintage directory
    separately and combine with ``union_vintages`` below.

    100 TB notes: schema merge reads FOOTERS of all files at planning time
    — O(files) namenode round-trips, no data. On a table with millions of
    files pin the merged schema explicitly (``spark.read.schema(...)``)
    once it stabilizes, or let a catalog own it; per-query footer sweeps
    are the hidden cost of leaving mergeSchema on by default (it is off in
    stock Spark for exactly this reason).
    """
    df = spark.read.option("mergeSchema", "true").parquet(path)
    for col, typ in (required or {}).items():
        if col not in df.columns:
            df = df.withColumn(col, F.lit(None).cast(typ))
        elif dict(df.dtypes)[col] != typ:
            df = df.withColumn(col, F.col(col).cast(typ))
    return df


def union_vintages(spark: SparkSession, paths: list[str]) -> DataFrame:
    """s17 companion for TYPE-drifted vintages: read each schema-era
    directory separately and ``unionByName(allowMissingColumns=True)`` —
    union's ANSI coercion widens numerics (int→bigint, float→double) that
    parquet footer-merge refuses, and era-local columns null-fill.

    100 TB notes: each vintage stays its own scan (pushdown and pruning
    apply per branch); the union is plan-level, not a shuffle. Keep the
    vintage list short-lived — backfill old eras to the current schema
    (compact_parquet is the rewrite vehicle) rather than paying N-branch
    plans forever.
    """
    if not paths:
        raise ValueError("union_vintages needs at least one path")
    out = spark.read.parquet(paths[0])
    for p in paths[1:]:
        out = out.unionByName(spark.read.parquet(p), allowMissingColumns=True)
    return out


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop API — resolves the
    scheme (file://, hdfs://, s3a://) from the session's Hadoop conf, so the
    file-stat helpers below work unchanged on any cluster filesystem."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def parquet_file_stats(spark: SparkSession, path: str) -> dict[str, dict]:
    """Per-leaf-directory data-file stats under a parquet root:
    ``{leaf_rel_dir: {"files": n, "bytes": total}}`` (leaf ``""`` for an
    unpartitioned table). Counts only ``*.parquet`` data files — `_SUCCESS`,
    checksums and dot-files are metadata, not data.

    One recursive FS listing (a namenode/S3-LIST round trip per 1000
    entries), no data read — this is the planning step of compaction, and
    it's how the engine decides WHAT to rewrite before touching a byte.
    """
    fs, hpath = _hadoop_fs(spark, path)
    root = fs.getFileStatus(hpath).getPath().toUri().getPath()
    it = fs.listFiles(hpath, True)
    leaves: dict[str, dict] = {}
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if not name.endswith(".parquet") or name.startswith(("_", ".")):
            continue
        rel = st.getPath().getParent().toUri().getPath()[len(root):].lstrip("/")
        leaf = leaves.setdefault(rel, {"files": 0, "bytes": 0})
        leaf["files"] += 1
        leaf["bytes"] += st.getLen()
    return leaves


def compact_parquet(
    spark: SparkSession, src_path: str, dst_path: str, target_file_mb: int = 128
) -> dict:
    """s16 (flat mode): small-file compaction — rewrite a fragmented
    unpartitioned parquet directory into ~``target_file_mb`` files.

    ZERO-SHUFFLE by construction: instead of ``repartition`` (a full shuffle
    of the data) or ``coalesce`` (which collapses read parallelism and
    inherits input-file skew), the FileScan's own bin-packing does the work —
    scope ``spark.sql.files.maxPartitionBytes`` to the target size and each
    read split packs small files up to ~target bytes, so every task writes
    exactly one ~target-size output file. The job is a parallel
    decode→encode stream with no exchange; at 100 TB that is the difference
    between a maintenance pass and a second copy of the shuffle tier.

    ``openCostInBytes`` is pinned LOW (128 KB) for the scan: the default
    4 MB charges each tiny file 4 MB of virtual size, so a 512-file 19 MB
    directory planned as ~530 MB and split into 5 outputs (measured) —
    exactly wrong for the many-tiny-files input
    this op exists to fix. 128 KB still bounds the files-per-split fan
    (~1000 opens per 128 MB split) without dominating real bytes. ``minPartitionNum`` is
    pinned to 1 because Spark's split size is
    ``min(maxPartitionBytes, max(openCost, totalBytes/minPartitionNum))`` —
    on a wide cluster with a small fragmented table the bytes-per-core term
    would shrink splits below target and re-fragment; when the table is big
    (totalBytes/cores > target) the pin is a no-op and the target governs.

    Returns ``{"files_before", "bytes", "files_after"}``. Idempotent:
    re-running on the output is a no-op-shaped single-file-per-split copy.
    """
    stats = parquet_file_stats(spark, src_path)
    files_before = sum(v["files"] for v in stats.values())
    total_bytes = sum(v["bytes"] for v in stats.values())
    target = target_file_mb << 20
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_open = spark.conf.get("spark.sql.files.openCostInBytes")
    old_min = spark.conf.get("spark.sql.files.minPartitionNum", None)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(target))
    spark.conf.set("spark.sql.files.openCostInBytes", str(128 << 10))
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    try:
        spark.read.parquet(src_path).write.mode("overwrite").parquet(dst_path)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", old_open)
        if old_min is None:
            spark.conf.unset("spark.sql.files.minPartitionNum")
        else:
            spark.conf.set("spark.sql.files.minPartitionNum", old_min)
    after = parquet_file_stats(spark, dst_path)
    return {
        "files_before": files_before,
        "bytes": total_bytes,
        "files_after": sum(v["files"] for v in after.values()),
    }


def compact_parquet_partitioned(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    target_file_mb: int = 128,
) -> dict:
    """s16 (partitioned mode): in-place compaction of ONLY the fragmented
    partitions of a hive-partitioned parquet table — the OPTIMIZE-style
    maintenance pass a streaming or incremental sink needs periodically.

    Plan from metadata, touch only what's broken: the FS listing finds leaf
    partitions whose file count exceeds ``ceil(bytes/target)`` (more files
    than the data needs); everything else is never read. Fragmented leaves
    are read with an explicit partition-pruning filter, rows are salted so
    each partition splits into exactly its needed file count, and ONE
    hash-repartition on (partition_cols, salt) lands each output file's rows
    in one task. The write goes back to the SAME path under
    ``partitionOverwriteMode=dynamic``, replacing exactly the partitions
    present in the frame.

    The salt is ``pmod(xxhash64(*all columns), n_i)`` — derived from ROW
    CONTENT, never from ``monotonically_increasing_id()``. A task-position
    salt is non-deterministic under partial stage retry (a recomputed map
    task can assign different salts than its first attempt, so the shuffle
    can silently duplicate or drop rows — the SPARK-23207 class, which Spark
    guards for round-robin repartition but not for arbitrary partition
    keys). Because this op overwrites its own source, that failure mode is
    silent corruption; a content hash recomputes identically on retry.
    Identical duplicate rows share a salt, which only skews file sizes, not
    correctness.

    Edge leaves (advisor r11): a null-valued hive partition is spelled
    ``c=__HIVE_DEFAULT_PARTITION__`` on disk — its pruning clause must be
    ``isNull()``, never an equality cast (which yields NULL, silently
    skipping the leaf forever). Leaves whose path segments don't parse as
    ``k=v`` for every partition column (e.g. stray data files at the table
    root) are skipped and reported, not crashed on.

    100 TB notes: the rewrite cost is one shuffle of the fragmented subset
    only — a table 2% fragmented shuffles 2% of its bytes. Dynamic overwrite
    is atomic per partition, not across the job; a mid-job failure leaves
    some partitions compacted and the rest untouched, and a re-run converges
    (the op is idempotent because compacted partitions no longer qualify).

    Returns ``{"partitions_total", "partitions_rewritten", "files_before",
    "files_after", "leaves_skipped"}`` (file counts over the rewritten
    partitions only; ``leaves_skipped`` lists unparseable leaf paths).
    """
    target = target_file_mb << 20
    leaves = parquet_file_stats(spark, path)
    fragmented: dict[str, dict] = {}
    for rel, st in leaves.items():
        need = max(1, -(-st["bytes"] // target))  # ceil
        if st["files"] > need:
            fragmented[rel] = {**st, "need": need}
    hive_null = "__HIVE_DEFAULT_PARTITION__"

    def leaf_values(rel: str) -> dict[str, str] | None:
        # "p1=a/p2=3" -> {"p1": "a", "p2": "3"} (hive layout, URL-escapes
        # not handled — the engine's own sinks never emit values needing
        # them; extend with urllib.parse.unquote if an external writer does).
        # None = unparseable leaf (segment without '=', or a partition
        # column missing from the path) — skip, don't crash the pass.
        vals: dict[str, str] = {}
        for seg in rel.split("/"):
            if "=" not in seg:
                return None
            k, v = seg.split("=", 1)
            vals[k] = v
        if any(c not in vals for c in partition_cols):
            return None
        return vals

    # r12 advisor (low): compute skipped over ALL leaves, not just the
    # fragmented ones — a stray non-fragmented leaf (e.g. a data file at the
    # table root) is just as unparseable and the report contract says every
    # unparseable leaf is "skipped and reported".
    skipped = [rel for rel in leaves if leaf_values(rel) is None]
    fragmented = {
        rel: st for rel, st in fragmented.items() if rel not in set(skipped)
    }
    if not fragmented:
        return {
            "partitions_total": len(leaves),
            "partitions_rewritten": 0,
            "files_before": 0,
            "files_after": 0,
            "leaves_skipped": sorted(skipped),
        }
    df = spark.read.parquet(path)
    dtypes = dict(df.dtypes)

    pred = None
    salt_rows = []
    for rel, st in sorted(fragmented.items()):
        vals = leaf_values(rel)
        clause = None
        for c in partition_cols:
            if vals[c] == hive_null:
                eq = F.col(c).isNull()
            else:
                eq = F.col(c) == F.lit(vals[c]).cast(dtypes[c])
            clause = eq if clause is None else (clause & eq)
        pred = clause if pred is None else (pred | clause)
        salt_rows.append((*[vals[c] for c in partition_cols], st["need"]))
    frag_df = df.filter(pred)
    mods = spark.createDataFrame(
        salt_rows, [f"__pv_{c}" for c in partition_cols] + ["__n_files"]
    )
    join_cond = None
    for c in partition_cols:
        # null-safe: a NULL partition value must meet its __HIVE_DEFAULT_
        # PARTITION__ row in mods, so spell the key as coalesce(cast, sentinel)
        eq = (
            F.coalesce(F.col(c).cast("string"), F.lit(hive_null))
            == F.col(f"__pv_{c}")
        )
        join_cond = eq if join_cond is None else (join_cond & eq)
    salted = (
        frag_df.join(F.broadcast(mods), join_cond)
        .withColumn(
            "__salt",
            F.pmod(F.xxhash64(*frag_df.columns), F.col("__n_files")),
        )
        .drop(*[f"__pv_{c}" for c in partition_cols], "__n_files")
    )
    n_out = sum(st["need"] for st in fragmented.values())
    out = salted.repartition(n_out, *partition_cols, "__salt").drop("__salt")
    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        out.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)
    after = parquet_file_stats(spark, path)
    return {
        "partitions_total": len(leaves),
        "partitions_rewritten": len(fragmented),
        "files_before": sum(st["files"] for st in fragmented.values()),
        "files_after": sum(
            st["files"] for rel, st in after.items() if rel in fragmented
        ),
        "leaves_skipped": sorted(skipped),
    }


def sink_zordered(
    df: DataFrame,
    path: str,
    z_col: str,
    n_files: int = 8,
    row_group_bytes: int | None = None,
) -> None:
    """s18: Z-ORDERED layout sink — the write side of x119's space-filling
    key (Delta/Iceberg OPTIMIZE ZORDER): range-partition on the z value,
    sort within partitions, write. Rows close in BOTH clustered dimensions
    land in the same row group, so each row group's min/max stats span a
    small rectangle of the 2-D space and a conjunctive 2-D predicate
    overlaps only the few groups its box touches (row-group pruning —
    measured from parquet footer metadata in tests: a customer-stripe ×
    quarter box overlaps 9/136 row groups z-ordered vs 135/135 in
    time-ordered layout, sf0.1 orders at 64 KB groups).

    The z dimensions must be RANGE buckets (divide the domain), never
    modulo buckets: a modulo bucket contains raw values {a, a+256, …}
    spanning the whole domain, so row-group min/max on the raw column
    never tightens and NOTHING prunes (measured: 136/136 groups hit).
    x119's registered projection uses modulo only to keep its oracle
    bit-exact; derive production bucket widths from min/max stats.

    100 TB notes: ONE range shuffle on z — the same cost shape as
    OPTIMIZE ZORDER; re-run it as a periodic maintenance pass with s16's
    fragmented-partition planning when ingestion disorders the layout.
    ``row_group_bytes`` maps to ``parquet.block.size`` — smaller groups =
    finer pruning but more footer metadata; the 128 MB default is right
    at scale (tests shrink it only to manufacture many groups from small
    fixtures).
    """
    out = df.repartitionByRange(n_files, F.col(z_col)).sortWithinPartitions(
        z_col
    )
    writer = out.write.mode("overwrite")
    if row_group_bytes:
        writer = writer.option("parquet.block.size", str(row_group_bytes))
    writer.parquet(path)


def sink_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed managed-table sink: pre-shuffles rows into ``n_buckets``
    hash buckets on ``bucket_cols`` at WRITE time, so every later join or
    aggregation on those keys is co-located and shuffle-free (plan-asserted
    in tests: two tables bucketed the same way sort-merge-join with ZERO
    Exchange).

    100 TB notes: bucketing is the standing answer to "this fact table is
    joined on this key every day" — pay the shuffle once at ingest, never
    again. Pick n_buckets so a bucket ≈ one task's memory (128-512 MB);
    bucket counts must match (or divide) across tables for co-located
    joins. ``sortBy`` within buckets additionally enables merge-join
    without a per-task sort. Bucketed tables require saveAsTable (the
    bucket metadata lives in the catalog, not the files).
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)
