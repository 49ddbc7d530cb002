#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle compare (strict).

Usage: check_oracle.py <sfdir> <verify_outdir>

For each query dir under <verify_outdir>: read the Spark parquet result,
run the oracle SQL from oracle_sql.json in DuckDB with views over
<sfdir>/<table>.parquet, sort columns by name + rows by all values, and
compare exactly. Prints PASS/FAIL per query, and NOORACLE with the row
count for a query that has no oracle SQL. Exits 1 when any query fails
or a NOORACLE query wrote 0 rows, else 0.

DuckDB runs with a fixed memory limit and may spill to a temp dir under
<verify_outdir>. Its default limit is 80% of host RAM, which on a shared
host can starve other processes; 8GB is what the heaviest passing query
at sf0.01 needs (q_multimodal_funnel fails at 6GB).
"""
import sys, os, json, math
import duckdb

MEMORY_LIMIT = "8GB"
SPILL_DIR = ".duckdb_spill"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    return df.reset_index(drop=True)


def cell_eq(a, b):
    if a is None and b is None:
        return True
    try:
        if isinstance(a, float) or isinstance(b, float):
            if a is None or b is None:
                return (a is None or (isinstance(a, float) and math.isnan(a))) and \
                       (b is None or (isinstance(b, float) and math.isnan(b)))
            if math.isnan(a) and math.isnan(b):
                return True
            return a == b
    except TypeError:
        pass
    return str(a) == str(b)


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    con = duckdb.connect(config={
        "memory_limit": MEMORY_LIMIT,
        "temp_directory": os.path.join(outdir, SPILL_DIR)})
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    names = sorted(d for d in os.listdir(outdir)
                   if os.path.isdir(os.path.join(outdir, d))
                   and not d.startswith("."))
    n_pass = n_fail = 0
    empty = []
    for name in names:
        got = con.sql(
            f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')").df()
        if name not in oracle:
            print(f"NOORACLE {name}: rows={len(got)}")
            if len(got) == 0:
                empty.append(name)
            continue
        try:
            exp = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        g, e = norm(got), norm(exp)
        if list(g.columns) != list(e.columns):
            print(f"FAIL {name}: columns {list(g.columns)} != {list(e.columns)}")
            n_fail += 1
            continue
        if len(g) != len(e):
            print(f"FAIL {name}: rows {len(g)} != {len(e)}")
            n_fail += 1
            continue
        # dtype (schema) comparison
        dt_g = [str(x) for x in g.dtypes]
        dt_e = [str(x) for x in e.dtypes]
        schema_note = "" if dt_g == dt_e else f" [dtypes spark={dt_g} duck={dt_e}]"
        bad = None
        gv, ev = g.values.tolist(), e.values.tolist()
        for i in range(len(gv)):
            for j in range(len(gv[i])):
                if not cell_eq(gv[i][j], ev[i][j]):
                    bad = (i, g.columns[j], gv[i][j], ev[i][j])
                    break
            if bad:
                break
        if bad:
            print(f"FAIL {name}: first diff row={bad[0]} col={bad[1]}: "
                  f"spark={bad[2]!r} duck={bad[3]!r}{schema_note}")
            n_fail += 1
        else:
            print(f"PASS {name}: rows={len(g)}{schema_note}")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    if empty:
        print(f"== NOORACLE queries with 0 rows: {', '.join(empty)}")
    return 1 if n_fail or empty else 0


if __name__ == "__main__":
    sys.exit(main())
