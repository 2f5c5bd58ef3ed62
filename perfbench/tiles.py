"""Larger inputs made from the committed sf0.01 tables, once per checkout.

Each table is repeated ``copies`` times with every key offset per copy by
the size of its key domain (max key + 1, the keys being dense from 0), so
foreign keys still join and per-customer and per-order group sizes stay
as they are while row counts grow: the growth model of tools/make_sf1.py.
The tables are written under perfbench/.work and renamed into place whole.
"""

from __future__ import annotations

import os

import duckdb

from workloads import DATA_DIR

# key column -> (table, column) of the domain it indexes
DOMAINS = {
    "c_custkey": ("customer", "c_custkey"),
    "o_custkey": ("customer", "c_custkey"),
    "o_orderkey": ("orders", "o_orderkey"),
    "l_orderkey": ("orders", "o_orderkey"),
    "event_id": ("events", "event_id"),
    "user_id": ("events", "user_id"),
}


def _src(table: str) -> str:
    return f"read_parquet('{os.path.join(DATA_DIR, table)}.parquet')"


def tiled_dir(work: str, tables: tuple[str, ...], copies: int) -> str:
    out = os.path.join(work, "data", f"sf0.01x{copies}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        size = {
            dom: con.execute(f"SELECT max({dom[1]}) + 1 FROM {_src(dom[0])}").fetchone()[0]
            for dom in set(DOMAINS.values())
        }
        for table in tables:
            cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {_src(table)}").fetchall()]
            select = ", ".join(
                f"{c} + k * {size[DOMAINS[c]]} AS {c}" if c in DOMAINS else c for c in cols
            )
            con.execute(
                f"COPY (SELECT {select} FROM "
                f"(SELECT *, row_number() OVER () AS rn FROM {_src(table)}) "
                f"CROSS JOIN range({copies}) copies(k) ORDER BY k, rn) "
                f"TO '{os.path.join(tmp, table)}.parquet' (FORMAT PARQUET)"
            )
    finally:
        con.close()
    os.rename(tmp, out)
    return out
