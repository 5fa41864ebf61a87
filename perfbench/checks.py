"""Output checks, run outside every timed region.

The pipeline's outputs are read back with DuckDB, not Spark, so a check
never shares a reader with the code it checks. Each function returns a
list of human-readable problems; an empty list means the output is
correct.
"""

from __future__ import annotations

import datetime
import decimal
import glob
import os

import duckdb

from inputs import SERVING_FIELDS, serving_item

DERIVED = ("orders", "product_details", "shipping_addresses", "purchase_details")
SERVING_COLUMNS = ", ".join(("customer_id", "order_id") + SERVING_FIELDS)


def _count(con, pattern: str) -> int:
    if not glob.glob(pattern, recursive=True):
        return 0
    return con.sql(f"SELECT count(*) FROM read_parquet('{pattern}')").fetchone()[0]


def check_ingest(
    warehouse: str,
    errors_path: str,
    serving_path: str,
    n_good: int,
    n_malformed: int,
    expected_store: dict[tuple, set[str]],
    known_good: tuple[int, int] | None = None,
) -> list[str]:
    """Row counts of the four tables and the quarantine, and the serving
    store against a pure-Python last-write-wins.

    ``known_good`` is the :func:`serving_fingerprint` of a store that
    already passed this check for the same input: a store with the same
    fingerprint holds the same rows and passes without the pure-Python
    comparison.
    """
    problems = []
    con = duckdb.connect()
    try:
        want = {t: n_good for t in DERIVED}
        want["product_details"] = 2 * n_good  # two products per order
        for t, n in want.items():
            got = _count(con, f"{warehouse}/{t}/**/*.parquet")
            if got != n:
                problems.append(f"{t}: {got} rows, expected {n}")
        got = _count(con, f"{errors_path}/errors/**/*.parquet")
        if got != n_malformed:
            problems.append(f"quarantine: {got} rows, expected {n_malformed}")
        if known_good is not None and _fingerprint(con, serving_path) == known_good:
            return problems
        rows = con.sql(
            f"SELECT {SERVING_COLUMNS} FROM read_parquet('{serving_path}/**/*.parquet', "
            "hive_partitioning=true)"
        ).fetchall()
    finally:
        con.close()
    store: dict[tuple, str] = {}
    for r in rows:
        key = (r[0], r[1])
        if key in store:
            problems.append(f"serving: key {key} stored twice")
        store[key] = serving_item(dict(zip(SERVING_FIELDS, r[2:])))
    if store.keys() != expected_store.keys():
        missing = len(expected_store.keys() - store.keys())
        extra = len(store.keys() - expected_store.keys())
        problems.append(f"serving: {missing} keys missing, {extra} unexpected")
    wrong = sum(1 for k, v in store.items() if k in expected_store and v not in expected_store[k])
    if wrong:
        problems.append(f"serving: {wrong} keys hold a superseded item")
    return problems


def _fingerprint(con, serving_path: str) -> tuple[int, int]:
    # row count and the sum of 64-bit row hashes: equal for two stores
    # that hold the same rows, in any order and any file layout
    return con.sql(
        f"SELECT count(*), sum(hash({SERVING_COLUMNS})) FROM read_parquet("
        f"'{serving_path}/**/*.parquet', hive_partitioning=true)"
    ).fetchone()


def serving_fingerprint(serving_path: str) -> tuple[int, int]:
    con = duckdb.connect()
    try:
        return _fingerprint(con, serving_path)
    finally:
        con.close()


def _norm(v):
    # floats compare to 9 significant digits: engines sum doubles in
    # different orders, which moves the last bits only
    if isinstance(v, float):
        return float(f"{v:.9g}")
    if isinstance(v, decimal.Decimal):
        return float(f"{float(v):.9g}")
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def canonical(rows, columns) -> list[tuple]:
    """Rows with columns ordered by name and rows sorted, so results of
    two engines compare regardless of column and row order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)


class Oracle:
    """DuckDB over the same files the Spark side reads."""

    def __init__(self) -> None:
        self.con = duckdb.connect()

    def warehouse_views(self, warehouse: str) -> None:
        # partition values stay strings, as the tables' own columns are
        for t in DERIVED:
            self.con.sql(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet("
                f"'{warehouse}/{t}/**/*.parquet', hive_partitioning=true, "
                "hive_types_autocast=false)"
            )

    def table_views(self, table_dir: str) -> None:
        for path in sorted(glob.glob(os.path.join(table_dir, "*.parquet"))):
            name = os.path.basename(path)[: -len(".parquet")]
            self.con.sql(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{path}'")

    def result(self, sql: str) -> list[tuple]:
        rel = self.con.sql(sql)
        return canonical(rel.fetchall(), rel.columns)

    def close(self) -> None:
        self.con.close()
