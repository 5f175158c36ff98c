"""Oracle check: each query's dumped result against its DuckDB oracle SQL.

The rules are the repository's correctness gate (`tools/selfcheck.py`):
equal column names, equal row count, equal Arrow type class per column
(int and float widths fold together; decimal scale, timestamp zone, list
and struct shapes do not), and equal values row by row in order, with
NaN equal to NaN and -0.0 distinct from 0.0.
"""
import json
import math
import os

import duckdb
import pyarrow as pa

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def type_class(t):
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return f"decimal(scale={t.scale})"
    if pa.types.is_timestamp(t):
        return f"timestamp(tz={t.tz is not None})"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{type_class(t.value_type)}>"
    if pa.types.is_struct(t):
        return "struct<" + ",".join(f"{f.name}:{type_class(f.type)}" for f in t) + ">"
    return str(t)


def table_source(data_dir, name):
    path = os.path.join(data_dir, f"{name}.parquet")
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def _first_difference(got, want):
    for c in got.column_names:
        for i, (x, y) in enumerate(zip(got[c].to_pylist(), want[c].to_pylist())):
            if x is None and y is None:
                continue
            xn = isinstance(x, float) and math.isnan(x)
            yn = isinstance(y, float) and math.isnan(y)
            if xn and yn:
                continue
            if xn != yn or x is None or y is None or x != y:
                return f"{c}[row {i}]: program={x!r} oracle={y!r}"
            if isinstance(x, float) and isinstance(y, float) and x == 0.0 \
                    and math.copysign(1.0, x) != math.copysign(1.0, y):
                return f"{c}[row {i}]: program={x!r} oracle={y!r}"
    return None


def check(data_dir, pass_dirs, names, tmp_dir):
    """Checks every pass's dumps: returns {pass_dir: {name: (ok, detail,
    result_rows)}}. Each pass dir holds the pass's `oracle_sql.json` and one
    dump per query. A query without a dump (it threw), without oracle SQL,
    or whose oracle returns no rows (a check that could not fail) is not
    ok. DuckDB spills, if at all, into `tmp_dir`."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_source(data_dir, t)}'")
    return {d: {n: _check_one(con, d, n, json.load(open(os.path.join(d, "oracle_sql.json"))))
                for n in names}
            for d in pass_dirs}


def _check_one(con, pass_dir, name, oracles):
    dump = os.path.join(pass_dir, name)
    if name not in oracles:
        return False, "no oracle SQL", 0
    if not os.path.isdir(dump):
        return False, "no result (the query threw)", 0
    try:
        got = con.execute(f"SELECT * FROM '{dump}/*.parquet'").fetch_arrow_table()
        want = con.execute(oracles[name]).fetch_arrow_table()
    except Exception as e:  # noqa: BLE001 - any engine error is a failed check
        return False, f"oracle exec: {e}", 0
    cols = sorted(got.column_names)
    rows = got.num_rows
    if cols != sorted(want.column_names):
        return False, f"columns {cols} vs {sorted(want.column_names)}", rows
    got, want = got.select(cols), want.select(cols)
    drift = {c: (type_class(got.schema.field(c).type), type_class(want.schema.field(c).type))
             for c in cols
             if type_class(got.schema.field(c).type) != type_class(want.schema.field(c).type)}
    if drift:
        return False, f"type drift {drift}", rows
    if rows != want.num_rows:
        return False, f"rows {rows} vs {want.num_rows}", rows
    if rows == 0:
        return False, "the oracle returns no rows, so the check cannot fail", rows
    diff = _first_difference(got, want)
    return diff is None, diff or "ok", rows
