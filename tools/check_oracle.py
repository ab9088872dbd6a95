"""Local replica of the driver's oracle-parity gate (SURVEY.md §5.1).

Runs every registered query on Spark AND its DuckDB oracle at the given SF,
then compares row count, sorted column names, and cell values (columns sorted
by name, rows sorted lexicographically) — strict equality, because the
driver's check is an order-insensitive value HASH: any float divergence that
survives our round()-pinning would flip the hash.

Usage:
    python tools/check_oracle.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wikipedia_org_xmldump_importer_spark.io import TABLES  # noqa: E402
from wikipedia_org_xmldump_importer_spark.registry import (  # noqa: E402
    REGISTRY,
    _ensure_loaded,
)
from wikipedia_org_xmldump_importer_spark.session import build_session  # noqa: E402


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        # Driver testdata ships single-file {t}.parquet; Spark-written sets
        # (e.g. benchdata/sf1) are directories of part files — glob those.
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, Decimal):
        return ("dec", str(v))
    if isinstance(v, datetime):
        return ("ts", v.isoformat())
    if isinstance(v, date):
        return ("d", v.isoformat())
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    tolist = getattr(v, "tolist", None)
    if tolist is not None and getattr(v, "ndim", 0):  # numpy array (Spark array col)
        return tuple(norm_cell(x) for x in tolist())
    if isinstance(v, dict):
        return tuple(sorted((k, norm_cell(x)) for k, x in v.items()))
    # numpy scalars -> python
    item = getattr(v, "item", None)
    if item is not None and not isinstance(v, (int, str, bool, bytes)):
        return norm_cell(item())
    return v


def to_rows(pdf):
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = [tuple(norm_cell(v) for v in row) for row in pdf.itertuples(index=False, name=None)]
    rows.sort(key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))
    return cols, rows


def compare(name: str, spark_pdf, duck_pdf) -> list[str]:
    problems = []
    s_cols, s_rows = to_rows(spark_pdf)
    d_cols, d_rows = to_rows(duck_pdf)
    if s_cols != d_cols:
        problems.append(f"columns differ: spark={s_cols} duck={d_cols}")
        return problems
    # Dtype-KIND parity: the driver's value-hash is dtype-KIND-sensitive.
    # DuckDB HUGEINT (e.g. any un-CAST SUM(BIGINT)) lands in pandas as
    # float64 while Spark yields int64 — values compare equal in Python but
    # the driver hash diverges (r03 dedup_simhash/pack_sequences root
    # cause). Width differences within a kind are provably SAFE: 14
    # driver-attested-green queries carry them (datetime64[ns] vs [us] on
    # join_asof/stream_*/ts_*/agg_global/win_first_last/fn_date/fn_cast,
    # int32 vs int64 on doc_chunk_overlap.char_start — every one
    # hash-matched by the driver), so the driver canonicalizes
    # width away and an exact-dtype gate here would raise false FAILs.
    for c in s_cols:
        sk = spark_pdf[c].dtype.kind
        dk = duck_pdf[c].dtype.kind
        ik = {"i", "u"}
        if sk != dk and not (sk in ik and dk in ik):
            problems.append(
                f"dtype kind differs on {c}: spark={spark_pdf[c].dtype} "
                f"duck={duck_pdf[c].dtype} (driver hash is dtype-sensitive; "
                f"CAST the oracle column to the Spark-side type)"
            )
    if problems:
        return problems
    if len(s_rows) != len(d_rows):
        problems.append(f"row count differs: spark={len(s_rows)} duck={len(d_rows)}")
    for i, (sr, dr) in enumerate(zip(s_rows, d_rows)):
        if sr != dr:
            detail = []
            for c, sv, dv in zip(s_cols, sr, dr):
                if sv != dv:
                    if isinstance(sv, float) and isinstance(dv, float):
                        detail.append(f"{c}: {sv!r} vs {dv!r} (diff={sv - dv:.3e})")
                    else:
                        detail.append(f"{c}: {sv!r} ({type(sv).__name__}) vs {dv!r} ({type(dv).__name__})")
            problems.append(f"first diff at sorted-row {i}: " + "; ".join(detail[:4]))
            break
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    # default honors $SPARK_GRAFT_SF_DIR like bench.py does (r13: env-var
    # invocations silently ran at sf0.01 and mislabeled sweep logs);
    # explicit --sf always wins.
    ap.add_argument(
        "--sf",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    _ensure_loaded()
    names = args.names or list(REGISTRY)
    spark = build_session("oracle-check")
    con = duck_con(args.sf)

    n_pass = n_fail = n_rows_only = 0
    for name in names:
        qd = REGISTRY[name]
        t0 = time.time()
        try:
            sdf = qd.fn(spark, args.sf)
            # The driver canonicalizes with pandas sort_values, which cannot
            # hash list cells — its round-1 crash on one array column voided
            # 41 correctness rows. Mirror that strictness here for EVERY
            # query (rows-only included).
            bad = [
                f"{f.name}:{f.dataType.simpleString()}"
                for f in sdf.schema.fields
                if f.dataType.typeName() in ("array", "map", "struct")
            ]
            if bad:
                print(f"FAIL  {name}: non-atomic output columns {bad} would crash the driver canonicalizer")
                n_fail += 1
                continue
            spdf = sdf.toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {ex}")
            n_fail += 1
            continue
        if qd.oracle is None:
            print(f"rows  {name}: {len(spdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            dpdf = con.sql(qd.oracle).df()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {ex}")
            n_fail += 1
            continue
        problems = compare(name, spdf, dpdf)
        if problems:
            print(f"FAIL  {name} ({len(spdf)} spark rows): " + " | ".join(problems))
            n_fail += 1
        else:
            print(f"OK    {name}: {len(spdf)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} ok, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
