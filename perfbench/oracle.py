"""Answer checks, independent of the engine: DuckDB over the same
generated inputs (and over the warehouse as the engine wrote it).

Result frames are compared by the registry's oracle hash: sorted
columns, sorted rows, values rounded to 6 places
(``tools/verify_entries``).

The benchmark runs these checks in a child process, so that DuckDB and
the memory it leaves behind stay out of the measured process tree:

    PYTHONPATH=.:perfbench python3 perfbench/oracle.py <function>
    # pickled args on stdin, JSON result on stdout
"""

from __future__ import annotations

import glob
import json
import os
import pickle
import sys

import pyarrow.parquet as pq

from workloads import FLAG_RECODE, ORDERS_CUTOFF, WAREHOUSE_TABLES


def parquet_rows(path: str) -> int:
    """Row count from parquet footers, for a file or a directory."""
    files = sorted(glob.glob(f"{path}/*.parquet")) if os.path.isdir(path) else [path]
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _scan(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')" if os.path.isdir(path) else f"read_parquet('{path}')"


def _recode_sql(col: str, out: int, default: str) -> str:
    whens = " ".join(f"WHEN '{k}' THEN '{v[out]}'" for k, v in FLAG_RECODE.items())
    return f"CASE {col} {whens} ELSE {default} END"


def etl_expected(sf_dir: str) -> dict[str, int]:
    """The warehouse an ETL load must write, computed from the inputs:
    row counts, ``_merge`` counts, FK misses and two checksums."""
    sql = f"""
    WITH li AS (SELECT * FROM {_scan(f'{sf_dir}/lineitem.parquet')}),
    feed AS (
      SELECT * FROM {_scan(f'{sf_dir}/orders.parquet')}
      WHERE o_orderdate < TIMESTAMP '{ORDERS_CUTOFF}'
    ),
    firsts AS (
      SELECT l_orderkey, l_returnflag FROM (
        SELECT l_orderkey, l_returnflag, row_number() OVER (
          PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_quantity) AS rn
        FROM li) WHERE rn = 1
    ),
    modes AS (
      SELECT l_orderkey, l_quantity FROM (
        SELECT l_orderkey, l_quantity, row_number() OVER (
          PARTITION BY l_orderkey ORDER BY c DESC, l_quantity ASC) AS rn
        FROM (SELECT l_orderkey, l_quantity, count(*) AS c FROM li
              WHERE l_quantity IS NOT NULL GROUP BY ALL)) WHERE rn = 1
    ),
    clean AS (
      SELECT f.l_orderkey AS k,
             {_recode_sql('f.l_returnflag', 0, "'Otro'")} AS flag_group,
             {_recode_sql('f.l_returnflag', 1, 'f.l_returnflag')} AS flag_sub,
             m.l_quantity AS qty
      FROM firsts f LEFT JOIN modes m USING (l_orderkey)
    ),
    merged AS (
      SELECT c.*, o.*,
             CASE WHEN o.o_orderkey IS NULL THEN 'left_only'
                  WHEN c.k IS NULL THEN 'right_only' ELSE 'both' END AS m
      FROM clean c FULL OUTER JOIN feed o ON c.k = o.o_orderkey
    )
    SELECT
      count(*) FILTER (WHERE m = 'both') AS merge_both,
      count(*) FILTER (WHERE m = 'left_only') AS merge_left_only,
      count(*) FILTER (WHERE m = 'right_only') AS merge_right_only,
      count(*) - count(o_custkey) AS fk_miss,
      count(DISTINCT o_orderpriority) AS dim_priority,
      count(DISTINCT o_orderstatus) AS dim_status,
      (SELECT count(*) FROM (SELECT DISTINCT flag_group, flag_sub FROM merged
                             WHERE flag_group IS NOT NULL AND flag_sub IS NOT NULL)) AS dim_flag,
      count(DISTINCT o_custkey) AS dim_customer,
      count(o_custkey) AS fact_orders,
      sum(qty) FILTER (WHERE o_custkey IS NOT NULL) AS qty_sum,
      sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS price_cents
    FROM merged
    """
    return _one_row(sql)


def etl_written(out_dir: str) -> dict[str, int]:
    """The same figures, read back from the warehouse an ETL load wrote."""
    fact = _scan(f"{out_dir}/fact_orders")
    got = _one_row(
        f"""
        SELECT count(*) FILTER (WHERE _merge = 'both') AS merge_both,
               count(*) FILTER (WHERE _merge = 'left_only') AS merge_left_only,
               count(*) FILTER (WHERE _merge = 'right_only') AS merge_right_only,
               count(*) AS merged_rows
        FROM {_scan(f'{out_dir}/merged')}
        """
    )
    got.update(
        _one_row(
            f"""SELECT sum(l_quantity) AS qty_sum,
                       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS price_cents
                FROM {fact}"""
        )
    )
    for t in WAREHOUSE_TABLES:
        got[t] = parquet_rows(f"{out_dir}/{t}")
    got["fk_miss"] = got.pop("merged_rows") - got["fact_orders"]
    return got


def _connect():
    import duckdb

    return duckdb.connect()


def _one_row(sql: str) -> dict[str, int]:
    con = _connect()
    try:
        cur = con.execute(sql)
        names = [d[0] for d in cur.description]
        row = cur.fetchone()
    finally:
        con.close()
    return {n: (int(v) if v is not None else None) for n, v in zip(names, row)}


def check_etl(expected: dict[str, int], got: dict[str, int]) -> list[str]:
    """Mismatched figures, as ``name: got != expected`` lines."""
    return [
        f"{k}: {got.get(k)} != {v}" for k, v in expected.items() if got.get(k) != v
    ]


#: DuckDB twins of the ten dashboard cards (``workloads._cards``).
DASHBOARD_SQL = {
    "kpi_customers": "SELECT count(DISTINCT customer_id) AS n_customers FROM fact_orders",
    "kpi_customers_finished": """
        SELECT count(DISTINCT customer_id) AS n_customers
        FROM fact_orders JOIN dim_status USING (status_id) WHERE o_orderstatus = 'F'""",
    "avg_price_by_priority": """
        SELECT o_orderpriority, round(avg(o_totalprice), 4) AS avg_price, count(*) AS n
        FROM fact_orders JOIN dim_priority USING (priority_id) GROUP BY 1""",
    "top_customers": """
        SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
        FROM fact_orders JOIN dim_customer USING (customer_id)
        GROUP BY 1 ORDER BY revenue DESC, o_custkey ASC LIMIT 15""",
    "year_flag_counts": """
        SELECT year(o_orderdate) AS order_year, flag_group, count(*) AS n
        FROM fact_orders JOIN dim_flag USING (flag_id) GROUP BY 1, 2""",
    "filter_combo": """
        SELECT count(*) AS n FROM fact_orders JOIN dim_status USING (status_id)
        WHERE l_quantity < 10 AND o_totalprice > 400000 AND o_orderstatus = 'F'""",
    "revenue_by_status": """
        SELECT o_orderstatus, round(sum(o_totalprice), 2) AS revenue
        FROM fact_orders JOIN dim_status USING (status_id) GROUP BY 1""",
    "flag_sub_counts": """
        SELECT flag_sub, count(*) AS n
        FROM fact_orders LEFT JOIN dim_flag USING (flag_id) GROUP BY 1""",
    "merge_provenance": "SELECT _merge, count(*) AS n FROM fact_orders GROUP BY 1",
    "avg_quantity_by_flag": """
        SELECT flag_group, round(avg(l_quantity), 4) AS avg_qty
        FROM fact_orders JOIN dim_flag USING (flag_id) GROUP BY 1""",
}


def dashboard_hashes(warehouse: str) -> dict[str, str]:
    from tools.verify_entries import _hash

    con = _connect()
    try:
        for t in WAREHOUSE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM {_scan(f'{warehouse}/{t}')}")
        return {n: _hash(con.execute(sql).fetchdf()) for n, sql in DASHBOARD_SQL.items()}
    finally:
        con.close()


def registry_hashes(sf_dir: str, names) -> dict[str, str]:
    from __spark_entry__ import oracle_sql
    from tools.verify_entries import TABLES, _hash

    sql = oracle_sql()
    con = _connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM {_scan(f'{sf_dir}/{t}.parquet')}")
        return {n: _hash(con.execute(sql[n]).fetchdf()) for n in names}
    finally:
        con.close()


def same_answer(pdf, want_hash: str) -> bool:
    from tools.verify_entries import _hash

    return _hash(pdf) == want_hash


def mismatched(got: dict, want: dict[str, str]) -> list[str]:
    """Names whose frame in ``got`` differs from its hash in ``want``."""
    return sorted(n for n, pdf in got.items() if not same_answer(pdf, want[n]))


#: The checks a child process may run.
COMMANDS = {f.__name__: f for f in (
    etl_expected, etl_written, dashboard_hashes, registry_hashes, mismatched,
)}


def main() -> int:
    args = pickle.load(sys.stdin.buffer)
    json.dump(COMMANDS[sys.argv[1]](*args), sys.stdout)
    return 0


if __name__ == "__main__":
    sys.exit(main())
