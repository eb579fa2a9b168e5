"""Expected results, computed with DuckDB over the same parquet files.

Everything here runs before the server starts, outside any timed region.
Registry row counts are cached per (data version, oracle SQL) in the work
directory.
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import datetime

import duckdb

#: Point-lookup shapes: name -> (SELECT ... FROM ..., key column, ORDER BY
#: columns after the key, cell kinds). Kinds: i integer, f float, s string,
#: t timestamp.
LOOKUPS = {
    "orders": (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
        "o_orderpriority FROM orders",
        "o_orderkey", "", "iisfts",
    ),
    "customer": (
        "SELECT c_custkey, c_name, c_acctbal, n_name FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey",
        "c_custkey", "", "isfs",
    ),
    "lineitem": (
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate "
        "FROM lineitem",
        "l_orderkey", "l_linenumber", "iifft",
    ),
}


def lookup_sql(shape: str, key: str) -> str:
    """The statement a client sends; ``key`` is a literal or ``$1``."""
    body, key_col, order, _kinds = LOOKUPS[shape]
    return f"{body} WHERE {key_col} = {key}" + (f" ORDER BY {order}" if order else "")


def connect(sf_dir: str, threads: int) -> duckdb.DuckDBPyConnection:
    from spark_sql_server_spark.session import TABLES

    con = duckdb.connect(config={"threads": threads})
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def normalize(cells, kinds: str) -> tuple:
    """One result row in a form both engines agree on."""
    out = []
    for v, k in zip(cells, kinds):
        if v is None:
            out.append(None)
        elif k == "i":
            out.append(int(v))
        elif k == "f":
            out.append(float(v))
        elif k == "t":
            out.append(v.strftime("%Y-%m-%d %H:%M:%S") if isinstance(v, datetime) else v[:19])
        else:
            out.append(str(v))
    return tuple(out)


def lookup_rows(con, shape: str, keys) -> dict[int, list[tuple]]:
    """{key: normalized rows, in the statement's order} for every key."""
    body, key_col, order, kinds = LOOKUPS[shape]
    keys = sorted(set(int(k) for k in keys))
    con.execute("CREATE OR REPLACE TEMP TABLE perfbench_keys AS "
                "SELECT unnest(?::BIGINT[]) AS k", [keys])
    rows = con.execute(
        f"{body} WHERE {key_col} IN (SELECT k FROM perfbench_keys) "
        f"ORDER BY {key_col}" + (f", {order}" if order else "")
    ).fetchall()
    out: dict[int, list[tuple]] = {k: [] for k in keys}
    for r in rows:
        out[int(r[0])].append(normalize(r, kinds))
    return out


def registry_counts(work: str, sf_dir: str, data_version: str, threads: int) -> dict[str, int]:
    """Row count of every ``bench=True`` registry query's oracle SQL."""
    from spark_sql_server_spark.operators import REGISTRY

    specs = {n: s for n, s in REGISTRY.items() if s.bench}
    key = hashlib.sha1(
        json.dumps([data_version, sorted((n, s.oracle) for n, s in specs.items())]).encode()
    ).hexdigest()[:16]
    path = os.path.join(work, f"oracle-counts-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = connect(sf_dir, threads)
    counts = {
        n: con.execute(f"SELECT count(*) FROM ({s.oracle}) AS q").fetchone()[0]
        for n, s in sorted(specs.items())
    }
    con.close()
    with open(path + ".tmp", "w") as f:
        json.dump(counts, f)
    os.replace(path + ".tmp", path)
    return counts
