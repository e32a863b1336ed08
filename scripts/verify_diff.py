#!/usr/bin/env python3
"""Compare two graft.Verify dumps entry by entry.

Usage: verify_diff.py <dumpA> <dumpB>

A dump is the output dir of `graft.Verify <sfDir> <outDir>`: one parquet
dir per entry plus oracle_sql.json. Each dump's checkout root (the
prefix before target/fixtures or src/test/resources in its oracle SQL)
is masked as <checkout>, and q133's per-JVM feed name `_p<pid>_` as
`_p<pid>_`, so dumps made from two checkouts or two JVMs compare equal
when the program's answers are. Then it compares the oracle_sql.json
keys and strings, and each result dir's schema and rows (read with
DuckDB, rows sorted). It prints every entry that differs and exits 1 if
any does. Dev tool only, not part of the Spark library.
"""
import json
import re
import sys
from pathlib import Path

import duckdb

ROOT_RE = re.compile(r"(/[^'\"\s]*?)/(?:target/fixtures|src/test/resources)/")
PID_RE = re.compile(r"_p\d+_")


def checkout_root(oracle):
    """The one checkout root the dump's oracle SQL names, or None."""
    roots = {m for sql in oracle.values() for m in ROOT_RE.findall(sql)}
    if len(roots) > 1:
        sys.exit(f"more than one checkout root in one dump: {sorted(roots)}")
    return roots.pop() if roots else None


def masker(root):
    def mask(text):
        if root:
            text = text.replace(root + "/", "<checkout>/")
        return PID_RE.sub("_p<pid>_", text)
    return mask


def result(con, entry_dir, mask):
    """(schema, sorted rows) of one result dir; an unreadable dir yields
    its masked error text as the schema."""
    try:
        rel = con.sql(f"SELECT * FROM read_parquet('{entry_dir}/*.parquet')")
        schema = list(zip(rel.columns, [str(t) for t in rel.types]))
        rows = rel.fetchall()
    except duckdb.Error as e:
        return [("error", mask(str(e).replace(str(entry_dir), "<dir>")))], []

    def key(v):
        if isinstance(v, str):
            v = mask(v)
        return (v is None, str(type(v)), str(v))
    return schema, sorted(tuple(key(v) for v in r) for r in rows)


def main(dump_a, dump_b):
    a, b = Path(dump_a), Path(dump_b)
    oracle_a = json.loads((a / "oracle_sql.json").read_text())
    oracle_b = json.loads((b / "oracle_sql.json").read_text())
    mask_a = masker(checkout_root(oracle_a))
    mask_b = masker(checkout_root(oracle_b))
    diffs = []

    for name in sorted(oracle_a.keys() | oracle_b.keys()):
        if name not in oracle_b:
            diffs.append(f"{name}: oracle SQL only in A")
        elif name not in oracle_a:
            diffs.append(f"{name}: oracle SQL only in B")
        elif mask_a(oracle_a[name]) != mask_b(oracle_b[name]):
            diffs.append(f"{name}: oracle SQL differs\n"
                         f"  A: {mask_a(oracle_a[name])}\n"
                         f"  B: {mask_b(oracle_b[name])}")

    def entries(d):
        return {p.name for p in d.iterdir() if p.is_dir()}
    con = duckdb.connect()
    names_a, names_b = entries(a), entries(b)
    same = 0
    for name in sorted(names_a | names_b):
        if name not in names_b:
            diffs.append(f"{name}: result dir only in A")
            continue
        if name not in names_a:
            diffs.append(f"{name}: result dir only in B")
            continue
        schema_a, rows_a = result(con, a / name, mask_a)
        schema_b, rows_b = result(con, b / name, mask_b)
        if schema_a != schema_b:
            diffs.append(f"{name}: schema differs\n  A: {schema_a}\n"
                         f"  B: {schema_b}")
        elif rows_a != rows_b:
            first = next((i for i, (x, y) in enumerate(zip(rows_a, rows_b))
                          if x != y), min(len(rows_a), len(rows_b)))
            diffs.append(f"{name}: rows differ ({len(rows_a)} vs "
                         f"{len(rows_b)} rows, first at sorted row {first})")
        else:
            same += 1

    for d in diffs:
        print(d)
    print(f"\n{len(oracle_a)} vs {len(oracle_b)} oracle SQL strings, "
          f"{same} result dirs identical, {len(diffs)} differences")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
