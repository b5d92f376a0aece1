"""Oracle gate: registry DuckDB SQL over the fixture or the landed tick
files, and the test suite's order-insensitive compare done inside DuckDB.

The compare follows the test suite's rules (tests/conftest.py): the same
column names, the same row count, the same type class per column
(integer widths interchange; int, float, decimal and bool do not), and
equal multisets of rows, with NULL equal to NULL, NaN equal to NaN and
-0.0 equal to 0.0. `EXCEPT ALL` in both directions gives the multiset
test at columnar speed, so a 100k-row result checks in milliseconds.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pyarrow as pa
import pyarrow.feather as feather
from big_data_share_market_spark.tables import TABLE_NAMES


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for name in TABLE_NAMES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{name}.parquet')")
    return con


def connect_events(src_dir: str) -> duckdb.DuckDBPyConnection:
    """An `events` view over the stream source's parquet files."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("CREATE VIEW events AS SELECT event_id, ts, user_id, "
                "event_type, value, props FROM "
                f"read_parquet('{src_dir}/*.parquet')")
    return con


def cached_answer(cache_dir: str, sf_dir: str, name: str, sql: str) -> pa.Table:
    """The oracle's answer for `sql`, computed once per (fixture, SQL
    text) and kept as Arrow IPC, which keeps every type class."""
    digest = hashlib.sha1(f"{sf_dir}\n{sql}".encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"{name}-{digest}.arrow")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        con = connect(sf_dir)
        try:
            table = con.execute(sql).fetch_arrow_table()
        finally:
            con.close()
        tmp = f"{path}.tmp-{os.getpid()}"
        feather.write_feather(table, tmp, compression="uncompressed")
        os.rename(tmp, path)
    return feather.read_table(path)


def _type_class(t: pa.DataType) -> str:
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_type_class(t.value_type)}>"
    return str(t)


def _normalize(table: pa.Table) -> pa.Table:
    """Columns in name order; zoned timestamps as naive UTC (Spark's
    Arrow export carries the session zone, DuckDB's does not);
    decimals as their text, which keeps the scale as the test suite's
    `str(Decimal)` does."""
    cols, names = [], sorted(table.column_names)
    for name in names:
        col = table.column(name)
        if pa.types.is_timestamp(col.type) and col.type.tz is not None:
            col = col.cast(pa.timestamp(col.type.unit))
        elif pa.types.is_decimal(col.type):
            col = col.cast(pa.string())
        cols.append(col)
    return pa.table(cols, names=names)


def compare(actual: pa.Table, expected: pa.Table) -> str | None:
    """None when equal under the test suite's rules, else what differs."""
    if sorted(actual.column_names) != sorted(expected.column_names):
        return (f"columns {sorted(actual.column_names)} != "
                f"{sorted(expected.column_names)}")
    if actual.num_rows != expected.num_rows:
        return f"rows {actual.num_rows} != {expected.num_rows}"
    for name in actual.column_names:
        a = _type_class(actual.schema.field(name).type)
        e = _type_class(expected.schema.field(name).type)
        if a != e:
            return f"column {name}: type {a} != {e}"
    a, e = _normalize(actual), _normalize(expected)
    con = duckdb.connect()
    try:
        con.register("a", a)
        con.register("e", e)
        extra = con.execute(
            "SELECT count(*) FROM (SELECT * FROM a EXCEPT ALL "
            "SELECT * FROM e)").fetchone()[0]
        missing = con.execute(
            "SELECT count(*) FROM (SELECT * FROM e EXCEPT ALL "
            "SELECT * FROM a)").fetchone()[0]
    finally:
        con.close()
    if extra or missing:
        return f"{extra} rows not in the oracle, {missing} oracle rows missing"
    return None
