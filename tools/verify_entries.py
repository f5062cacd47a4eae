"""Driver-contract replica: run named queries() entries under a
vanilla session and hash-compare against oracle_sql() in DuckDB,
the way the external driver does (sorted columns, sorted rows).

Usage: python tools/verify_entries.py name1 name2 ...  [--sf DIR]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

TABLES = [
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
]


def _hash(pdf):
    cols = sorted(pdf.columns)
    pdf = pdf[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].map(
                lambda v: v.hex()
                if isinstance(v, (bytes, bytearray))
                else v
            )
    return hashlib.md5(
        pdf.round(6).to_csv(index=False).encode()
    ).hexdigest()


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf = "/root/testdata/sf0.01"
    if "--sf" in sys.argv:
        sf = sys.argv[sys.argv.index("--sf") + 1]

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf}/{t}.parquet')"
        )
    bad = 0
    for name in args:
        sdf = qs[name](spark, sf).toPandas()
        if name not in oracles:
            print(f"{name}: rows-only, spark_rows={len(sdf)}")
            continue
        odf = con.execute(oracles[name]).df()
        hs, ho = _hash(sdf), _hash(odf)
        ok = len(sdf) == len(odf) and hs == ho
        bad += not ok
        print(
            f"{name}: rows {len(sdf)}/{len(odf)} "
            f"hash {'MATCH' if hs == ho else 'MISMATCH'}"
        )
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
