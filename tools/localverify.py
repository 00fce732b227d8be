#!/usr/bin/env python3
"""Local emulation of the driver's correctness gate (dev tool only).

Runs DuckDB on each oracle_sql.json query against the sf tables and
compares with the Spark parquet dumps produced by graft.Verify:
column-name-sorted, row-sorted, exact value compare.

Usage: python3 tools/localverify.py <sfDir> <verifyOutDir>

With SPARK_GRAFT_ONLY=<name,...> set (the same comma-separated list
graft.Verify honours), only the named entries are checked; a named
entry without a dump still FAILs.
"""
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def eq(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        # The driver hashes the raw value bytes, where -0.0 != 0.0;
        # Python's == says they are equal. Match the driver: equal
        # zeros must also agree on the sign bit (r11 e17 regression —
        # DuckDB ROUND keeps the IEEE sign, Spark's BigDecimal round
        # cannot represent it).
        if a == b == 0.0:
            return math.copysign(1.0, a) == math.copysign(1.0, b)
        return a == b
    return a == b


def selected_names():
    """SPARK_GRAFT_ONLY as SparkEntry.selectedQueries parses it, or
    None when unset (check everything)."""
    only = os.environ.get("SPARK_GRAFT_ONLY")
    if only is None:
        return None
    return {n.strip() for n in only.split(",") if n.strip()}


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    names = selected_names()
    if names is not None:
        oracle = {n: q for n, q in oracle.items() if n in names}
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            want = canon(con.sql(sql).df())
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_bad += 1
            continue
        try:
            got = canon(con.sql(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df())
        except Exception as e:
            print(f"FAIL {name}: spark output unreadable: {e}")
            n_bad += 1
            continue
        if list(want.columns) != list(got.columns):
            print(f"FAIL {name}: columns want={list(want.columns)} "
                  f"got={list(got.columns)}")
            n_bad += 1
            continue
        if len(want) != len(got):
            print(f"FAIL {name}: rows want={len(want)} got={len(got)}")
            n_bad += 1
            continue
        bad = None
        wv, gv = want.to_numpy(), got.to_numpy()
        for i in range(len(want)):
            for j in range(len(want.columns)):
                # numpy object arrays: compare via python semantics
                a, b = wv[i][j], gv[i][j]
                try:
                    if isinstance(a, float) or isinstance(b, float):
                        ok = eq(float(a) if a is not None else None,
                                float(b) if b is not None else None)
                    else:
                        ok = eq(a, b)
                except (TypeError, ValueError):
                    ok = str(a) == str(b)
                if not ok:
                    bad = (i, want.columns[j], a, b)
                    break
            if bad:
                break
        if bad:
            i, c, a, b = bad
            print(f"FAIL {name}: row {i} col {c}: want={a!r} got={b!r}")
            n_bad += 1
        else:
            print(f"ok   {name} ({len(want)} rows)")
            n_ok += 1
    # rows-only check for entries without an oracle (mirrors the
    # driver's weaker gate)
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path) or name in oracle or (
                names is not None and name not in names):
            continue
        try:
            n = len(con.sql(f"SELECT * FROM '{path}/*.parquet'").df())
            status = "ok  " if n > 0 else "FAIL"
            if n == 0:
                n_bad += 1
            print(f"{status} {name} (rows-only: {n} rows)")
        except Exception as e:
            print(f"FAIL {name}: rows-only unreadable: {e}")
            n_bad += 1
    for name in sorted((names or set()) - set(oracle)):
        if not os.path.isdir(os.path.join(out_dir, name)):
            print(f"FAIL {name}: no oracle and no spark output")
            n_bad += 1
    print(f"== {n_ok} ok, {n_bad} fail ==")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
