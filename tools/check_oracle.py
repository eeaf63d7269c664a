"""Local mirror of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then compares
row count, column names, and order-insensitive values (columns sorted by
name, rows sorted, exact value equality — floats must match bit-for-bit,
which the entry module's integer-aggregation discipline guarantees).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

import duckdb

sys.path.insert(0, ".")

# the ann_ivf oracle bakes quantizer centroids fitted on the grading
# data at import time — point it at the sf dir being checked BEFORE the
# entry module builds its ORACLES (driver default is sf0.01)
import os  # noqa: E402

if len(sys.argv) > 1:
    os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", sys.argv[1])

import __spark_entry__ as entry_mod  # noqa: E402
from merchant_classification_spark.sources import TABLE_NAMES  # noqa: E402


def canon(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def frame_to_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # Deliberately VANILLA (mirrors the external gate, which does not run
    # build_session) — any query that silently depends on our session confs
    # must fail here, not in the gate. The console progress bar is off
    # only so each result prints on its own line (it changes no query
    # semantics): with stdout and stderr in one file, its \r updates
    # otherwise share lines with the results.
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("oracle-check")
        .master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "48g")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        sql = oracles.get(name)
        if sql is None:
            try:
                n = fn(spark, sf_dir).count()
                print(f"{name:28s} ROWS-ONLY rows={n}")
            except Exception as e:
                failures.append(name)
                print(f"{name:28s} ERROR {e}")
            continue
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
            rel = con.sql(sql)
            d_cols = list(rel.columns)
            d_rows = rel.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"{name:28s} ERROR {type(e).__name__}: {e}")
            continue
        sc, sr = frame_to_rows(s_cols, s_rows)
        dc, dr = frame_to_rows(d_cols, d_rows)
        problems = []
        if sc != dc:
            problems.append(f"cols spark={sc} duck={dc}")
        if len(sr) != len(dr):
            problems.append(f"rowcount spark={len(sr)} duck={len(dr)}")
        elif sc == dc and sr != dr:
            diff = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
            problems.append(f"values differ, first: {diff}")
        if problems:
            failures.append(name)
            print(f"{name:28s} FAIL  " + " | ".join(problems))
        else:
            print(f"{name:28s} OK    rows={len(sr)}")
    print()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all queries match the oracle")


if __name__ == "__main__":
    main()
