#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Loads <verifyOutDir>/oracle_sql.json, creates a DuckDB view per parquet
table in <sfDir>, runs each oracle SQL, and compares against the Spark
result parquet at <verifyOutDir>/<name>/ — columns sorted by name, rows
compared in order, exact equality (floats are pre-rounded by the queries
themselves).
"""
import sys, json, glob, math, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    try:
        import decimal
        if isinstance(v, decimal.Decimal):
            return round(float(v), 9)
    except Exception:
        pass
    return v

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    n_pass = n_fail = 0
    for name in sorted(oracles):
        sql = oracles[name]
        spark_glob = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not spark_glob:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        # each relation is built once: its columns and types come from
        # the bound plan, and fetchall() is the only execution
        try:
            oracle = con.sql(sql)
            ocols, otypes = oracle.columns, [str(t) for t in oracle.types]
            orows = oracle.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        got = con.sql(f"SELECT * FROM read_parquet({spark_glob!r})")
        gcols, gtypes = got.columns, [str(t) for t in got.types]
        grows = got.fetchall()
        # sort columns by name, as the gate does; same-named columns
        # keep their relative order
        oidx = [i for _, i in sorted((c, i) for i, c in enumerate(ocols))]
        gidx = [i for _, i in sorted((c, i) for i, c in enumerate(gcols))]
        if sorted(ocols) != sorted(gcols):
            print(f"FAIL {name}: schema mismatch\n  oracle={sorted(ocols)}\n  spark ={sorted(gcols)}")
            n_fail += 1
            continue
        # strict type parity: the driver's hash is computed over TYPED
        # values (HUGEINT/DECIMAL materialize differently than BIGINT in
        # arrow/pandas even when the integer values are equal — the
        # r10-r12 q281/q302 driver-only reds were exactly an uncast
        # window-sum HUGEINT). fetchall() hides this (python ints), so
        # check types explicitly, position by position in name order,
        # so a second column of the same name is checked too.
        tdiff = [(ocols[i], otypes[i], gtypes[j])
                 for i, j in zip(oidx, gidx) if otypes[i] != gtypes[j]]
        if tdiff:
            print(f"FAIL {name}: column type mismatch (oracle vs spark): {tdiff}")
            n_fail += 1
            continue
        o_n = [[norm(r[i]) for i in oidx] for r in orows]
        g_n = [[norm(r[i]) for i in gidx] for r in grows]
        if o_n == g_n:
            print(f"PASS {name} ({len(o_n)} rows)")
            n_pass += 1
        else:
            print(f"FAIL {name}: rows differ (oracle {len(o_n)} vs spark {len(g_n)})")
            for i, (a, b) in enumerate(zip(o_n, g_n)):
                if a != b:
                    print(f"  row {i}:\n    oracle={a}\n    spark ={b}")
                    if i > 5:
                        break
            if len(o_n) != len(g_n):
                print(f"  oracle extra: {o_n[len(g_n):][:3]}")
                print(f"  spark extra : {g_n[len(o_n):][:3]}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
