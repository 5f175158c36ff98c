#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: reads the parquet dumps
produced by graft.Verify, runs each oracle SQL from oracle_sql.json in DuckDB
over the same sf tables, and compares strictly (schema names, row count,
Arrow type classes, ordered values). Usage: selfcheck.py <sfDir> <verifyOutDir>
A table may be one parquet file or a directory of them (a split table).

The Arrow-type-class check exists because the driver hashes CANONICAL VALUE
REPRS: DuckDB sum(BIGINT) silently widens to DECIMAL(38,0)/HUGEINT whose
repr differs from Spark's int64 even when the values are numerically equal
(the round-9 q_x10/q_x11/q_e3 regression — pandas `Decimal(1435) == 1435`
hid it). Types are compared by repr-equivalence class, not exact width:
int32 vs int64 both render "1435" so they pass; decimal vs int, decimal vs
double, tz vs naive timestamps render differently so they fail."""
import json, math, os, sys
import duckdb


def type_class(t):
    """Collapse an Arrow type to its canonical-repr equivalence class."""
    import pyarrow as pa
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
        inner = ",".join(f"{f.name}:{type_class(f.type)}" for f in t)
        return f"struct<{inner}>"
    return str(t)


def schema_classes(tbl, cols):
    sch = tbl.schema
    return {c: type_class(sch.field(c).type) for c in cols}

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    path = f"{sfdir}/{t}.parquet"
    if os.path.isdir(path):
        path += "/*.parquet"
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

oracles = json.load(open(f"{outdir}/oracle_sql.json"))
fails = []
for name, sql in sorted(oracles.items()):
    try:
        got_at = con.execute(
            f"SELECT * FROM '{outdir}/{name}/*.parquet'").fetch_arrow_table()
        want_at = con.execute(sql).fetch_arrow_table()
        got, want = got_at.to_pandas(), want_at.to_pandas()
    except Exception as e:
        fails.append((name, f"EXEC: {e}"))
        print(f"FAIL {name}: exec error: {e}")
        continue
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        fails.append((name, f"cols {gc} != {wc}"))
        print(f"FAIL {name}: columns {gc} vs {wc}")
        continue
    gt, wt = schema_classes(got_at, gc), schema_classes(want_at, gc)
    drift = {c: (gt[c], wt[c]) for c in gc if gt[c] != wt[c]}
    if drift:
        fails.append((name, f"type drift {drift}"))
        print(f"FAIL {name}: arrow type drift (spark vs oracle): {drift}")
        continue
    got, want = got[gc], want[gc]
    if len(got) != len(want):
        fails.append((name, f"rows {len(got)} != {len(want)}"))
        print(f"FAIL {name}: rows {len(got)} vs {len(want)}")
        continue
    bad = None
    for c in gc:
        a, b = got[c].tolist(), want[c].tolist()
        for i, (x, y) in enumerate(zip(a, b)):
            xn = isinstance(x, float) and math.isnan(x)
            yn = isinstance(y, float) and math.isnan(y)
            if x is None and y is None: continue
            if xn and yn: continue
            if xn != yn or x is None or y is None or x != y:
                bad = (c, i, x, y); break
            # the driver hashes canonical reprs, where -0.0 != 0.0 —
            # plain float != treats them equal, so check the sign bit too
            if (isinstance(x, float) and isinstance(y, float) and x == 0.0
                    and math.copysign(1.0, x) != math.copysign(1.0, y)):
                bad = (c, i, x, y); break
        if bad: break
    if bad:
        c, i, x, y = bad
        fails.append((name, f"value {c}[{i}]: {x!r} != {y!r}"))
        print(f"FAIL {name}: {c}[row {i}]: spark={x!r} duckdb={y!r}")
    else:
        print(f"ok   {name} ({len(got)} rows)")

print(f"\n{len(oracles)-len(fails)}/{len(oracles)} queries match")
sys.exit(1 if fails else 0)
