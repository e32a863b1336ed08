#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate.

Usage: oracle_check.py <sfDir> <verifyOutDir>

Reads <verifyOutDir>/oracle_sql.json, runs each SQL in DuckDB with views
over <sfDir>/*.parquet, loads the Spark result parquet from
<verifyOutDir>/<name>/, sorts columns by name and rows by all values, and
compares exactly. Dev tool only — not part of the Spark library.
"""
import json
import math
import sys
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows):
    def key(row):
        return tuple((v is None, str(type(v)), str(v)) for v in row)
    return sorted(rows, key=key)


INT_TYPES = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT")


def type_kind(t):
    """Collapse a DuckDB type name to the category the driver's parquet
    hash gate distinguishes: int, float, decimal, bool, or other."""
    t = str(t).upper()
    if t in ("HUGEINT", "UHUGEINT"):
        return "hugeint"  # serializes to parquet DOUBLE — always a bug
    if t in INT_TYPES:
        return "int"
    if t in ("FLOAT", "DOUBLE"):
        return "float"
    if t.startswith("DECIMAL"):
        return "decimal"
    if t == "BOOLEAN":
        return "bool"
    return "other"


def type_mismatch(sql_con, sql, sp_dir):
    """The driver writes the DuckDB result to parquet and hash-compares
    values against Spark's parquet, so a HUGEINT column (serialized as
    DOUBLE) or any int-vs-float kind split fails there even when Python
    values compare equal here. Every hint found is reported, joined by
    '; ', so one kind of mismatch cannot hide another. Returns an error
    string or None."""
    duck = sql_con.sql(sql)
    d_types = dict(zip(duck.columns, [str(t) for t in duck.types]))
    hints = []
    hug = [c for c, t in d_types.items() if type_kind(t) == "hugeint"]
    if hug:
        text = (f"oracle SQL returns HUGEINT column(s) {hug} — DuckDB "
                "serializes HUGEINT to parquet as DOUBLE; CAST(... AS BIGINT)")
        hints.append(text)
    # r17 driver evidence: every hash-red query emitted a DECIMAL output
    # column and no green query emitted any — the driver's parquet hash
    # gate fails on DECIMAL outputs even when the integer values match
    # bit-for-bit. Finish wide anchors as BIGINT (hi/lo split if >int64).
    dec = [c for c, t in d_types.items() if type_kind(t) == "decimal"]
    if dec:
        text = (f"oracle SQL returns DECIMAL column(s) {dec} — the "
                "driver's hash gate fails on DECIMAL outputs (r17); "
                "finish as BIGINT (10^18 hi/lo split if past int64)")
        hints.append(text)
    sp = sql_con.sql(f"SELECT * FROM read_parquet('{sp_dir}/*.parquet')")
    s_types = dict(zip(sp.columns, [str(t) for t in sp.types]))
    for c, dt in d_types.items():
        if c in s_types and type_kind(dt) != type_kind(s_types[c]):
            text = (f"column '{c}' type kind differs: duck {dt} "
                    f"({type_kind(dt)}) vs spark {s_types[c]} "
                    f"({type_kind(s_types[c])}) — driver hash gate will fail")
            hints.append(text)
    return "; ".join(hints) or None


def values_equal(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return a == b
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb  # exact: determinism convention must hold
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(values_equal(x, y) for x, y in zip(a, b))
    return a == b


def main(sf_dir, out_dir):
    con = duckdb.connect()
    # a runaway oracle (e.g. an accidentally-cyclic recursive CTE) must
    # fail fast, not fill the disk with spill files
    con.execute("SET max_temp_directory_size='8GB'")
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    n_pass = n_fail = 0
    for name in sorted(oracle):
        sql = oracle[name]
        spark_dir = Path(out_dir) / name
        if not spark_dir.exists():
            print(f"FAIL {name}: no spark output dir")
            n_fail += 1
            continue
        try:
            duck = con.execute(sql)
            duck_cols = [d[0] for d in duck.description]
            duck_rows = duck.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        try:
            sp = con.execute(
                f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')")
            sp_cols = [d[0] for d in sp.description]
            sp_rows = sp.fetchall()
        except Exception as e:
            print(f"FAIL {name}: spark output read error: {e}")
            n_fail += 1
            continue
        # sort columns by name (the driver's convention)
        d_ord = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
        s_ord = sorted(range(len(sp_cols)), key=lambda i: sp_cols[i])
        if sorted(duck_cols) != sorted(sp_cols):
            print(f"FAIL {name}: columns differ: duck={sorted(duck_cols)} "
                  f"spark={sorted(sp_cols)}")
            n_fail += 1
            continue
        try:
            terr = type_mismatch(con, sql, spark_dir)
        except Exception as e:
            terr = f"type check error: {e}"
        if terr:
            print(f"FAIL {name}: {terr}")
            n_fail += 1
            continue
        d_rows = canon([tuple(r[i] for i in d_ord) for r in duck_rows])
        s_rows = canon([tuple(r[i] for i in s_ord) for r in sp_rows])
        if len(d_rows) != len(s_rows):
            print(f"FAIL {name}: row count duck={len(d_rows)} spark={len(s_rows)}")
            n_fail += 1
            continue
        bad = None
        for i, (dr, sr) in enumerate(zip(d_rows, s_rows)):
            if not all(values_equal(a, b) for a, b in zip(dr, sr)):
                bad = (i, dr, sr)
                break
        if bad:
            i, dr, sr = bad
            print(f"FAIL {name}: first diff at sorted row {i}:")
            print(f"  cols : {sorted(duck_cols)}")
            print(f"  duck : {dr}")
            print(f"  spark: {sr}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(d_rows)} rows)")
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
