"""Seeded inputs for the benchmark's workloads.

``cli_files`` reads files the benchmark writes itself: DuckDB exports
of the testdata's lineitem, orders and events tables (CSV and JSON
lines) plus parquet copies of customer, orders and lineitem, each in a
row order permuted by the seed. The seed also picks the literal
constants of the CLI queries. The registry workloads read the
read-only testdata directory as it is.

Every CLI query has a hand-written DuckDB equivalent over the same
files; ``expected_cli`` runs them.
"""

from __future__ import annotations

import os
import random

# table -> its key columns (the seed permutes rows by a hash of them)
_EXPORTS = {
    "lineitem": "l_orderkey, l_linenumber",
    "orders": "o_orderkey",
    "events": "event_id",
}
_PARQUET_COPIES = {
    "customer": "c_custkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey, l_linenumber",
}


def write_cli_files(src_dir: str, dest: str, seed: int) -> None:
    """Write the cli_files inputs into ``dest``."""
    import duckdb

    os.makedirs(dest, exist_ok=True)
    con = duckdb.connect()
    try:
        def permuted(table: str, keys: str) -> str:
            src = os.path.join(src_dir, f"{table}.parquet")
            return (f"SELECT * FROM read_parquet('{src}') "
                    f"ORDER BY hash({keys}, {int(seed)})")

        for table, keys in _EXPORTS.items():
            q = permuted(table, keys)
            con.execute(f"COPY ({q}) TO '{dest}/{table}.csv' (HEADER, DELIMITER ',')")
            con.execute(f"COPY ({q}) TO '{dest}/{table}.json' (FORMAT JSON)")
        for table, keys in _PARQUET_COPIES.items():
            q = permuted(table, keys)
            con.execute(f"COPY ({q}) TO '{dest}/{table}.parquet' (FORMAT PARQUET)")
    finally:
        con.close()


def cli_queries(seed: int) -> dict[str, tuple[str, str, bool]]:
    """name -> (OctoSQL-dialect query, DuckDB equivalent, ordered).

    File refs are relative: the CLI resolves them against its working
    directory, which is the directory ``write_cli_files`` filled."""
    rng = random.Random(seed)
    disc = rng.choice([0.02, 0.03, 0.04, 0.05])
    value = rng.randint(20, 80)
    price = rng.choice([50000, 100000, 150000, 200000])
    limit = rng.randint(10, 30)
    minlen = rng.choice([4, 5])
    parity = rng.randint(0, 1)
    range_end = rng.randint(3000, 8000)
    hours = rng.choice([6, 12, 24])
    return {
        # the README's taxi shape: one CSV, a filter and a group-by
        "csv_group_by": (
            "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
            "SUM(l_quantity) AS qty, AVG(l_extendedprice) AS avg_price "
            f"FROM lineitem.csv WHERE l_discount > {disc} "
            "GROUP BY l_returnflag, l_linestatus",
            "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
            "SUM(l_quantity) AS qty, AVG(l_extendedprice) AS avg_price "
            f"FROM read_csv('lineitem.csv') WHERE l_discount > {disc} "
            "GROUP BY l_returnflag, l_linestatus",
            False),
        "json_parquet_join": (
            "SELECT e.event_type, c.c_mktsegment, COUNT(*) AS n, "
            "SUM(e.value) AS total FROM events.json e "
            "JOIN customer.parquet c ON e.user_id = c.c_custkey "
            f"WHERE e.value > {value} "
            "GROUP BY e.event_type, c.c_mktsegment",
            "SELECT e.event_type, c.c_mktsegment, COUNT(*) AS n, "
            "SUM(e.value) AS total FROM read_json('events.json') e "
            "JOIN 'customer.parquet' c ON e.user_id = c.c_custkey "
            f"WHERE e.value > {value} "
            "GROUP BY e.event_type, c.c_mktsegment",
            False),
        "parquet_join": (
            "SELECT o.o_orderpriority, COUNT(*) AS n, SUM(l.l_quantity) AS qty "
            "FROM orders.parquet o JOIN lineitem.parquet l "
            f"ON o.o_orderkey = l.l_orderkey WHERE o.o_totalprice > {price} "
            "GROUP BY o.o_orderpriority",
            "SELECT o.o_orderpriority, COUNT(*) AS n, SUM(l.l_quantity) AS qty "
            "FROM 'orders.parquet' o JOIN 'lineitem.parquet' l "
            f"ON o.o_orderkey = l.l_orderkey WHERE o.o_totalprice > {price} "
            "GROUP BY o.o_orderpriority",
            False),
        "csv_top_k": (
            "SELECT o_orderkey, o_custkey, o_totalprice FROM orders.csv "
            f"ORDER BY o_totalprice DESC, o_orderkey LIMIT {limit}",
            "SELECT o_orderkey, o_custkey, o_totalprice FROM read_csv('orders.csv') "
            f"ORDER BY o_totalprice DESC, o_orderkey LIMIT {limit}",
            True),
        "json_dialect_functions": (
            "SELECT event_type, COUNT(*) AS n, SUM(len(props)) AS plen, "
            "SUM(value::Int) AS ivalue FROM events.json "
            f"WHERE len(event_type) > {minlen} GROUP BY event_type",
            "SELECT event_type, COUNT(*) AS n, SUM(length(props)) AS plen, "
            "SUM(CAST(trunc(value) AS INTEGER)) AS ivalue "
            f"FROM read_json('events.json') WHERE length(event_type) > {minlen} "
            "GROUP BY event_type",
            False),
        "json_table_sink": (
            "SELECT o_orderkey, o_custkey, o_orderstatus FROM orders.json "
            f"WHERE o_orderkey % 2 = {parity}",
            "SELECT o_orderkey, o_custkey, o_orderstatus "
            f"FROM read_json('orders.json') WHERE o_orderkey % 2 = {parity}",
            False),
        "tvf_range": (
            f"SELECT COUNT(*) AS n, SUM(i) AS s FROM range(1, {range_end})",
            f"SELECT COUNT(*) AS n, SUM(i) AS s FROM range(1, {range_end}) t(i)",
            False),
        "tvf_tumble": (
            "SELECT window_end, COUNT(*) AS n FROM tumble("
            "source => TABLE(SELECT * FROM events.json), "
            f"window_length => INTERVAL {hours} HOUR, "
            "time_field => DESCRIPTOR(ts)) GROUP BY window_end",
            "SELECT strftime(time_bucket(INTERVAL " f"{hours} HOUR, ts) "
            f"+ INTERVAL {hours} HOUR, '%Y-%m-%dT%H:%M:%SZ') AS window_end, "
            "COUNT(*) AS n FROM read_json('events.json') GROUP BY 1",
            False),
    }


def expected_cli(queries: dict[str, tuple[str, str, bool]],
                 files_dir: str) -> dict[str, list[tuple]]:
    """Run each query's DuckDB equivalent with ``files_dir`` as cwd."""
    import duckdb

    here = os.getcwd()
    os.chdir(files_dir)
    con = duckdb.connect()
    try:
        return {name: con.execute(duck).fetchall()
                for name, (_, duck, _) in queries.items()}
    finally:
        con.close()
        os.chdir(here)
