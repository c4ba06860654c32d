#!/usr/bin/env python3
"""Local pre-check of SparkEntry oracles, mimicking the driver's compare:
run each oracle_sql.json entry in DuckDB over the fixture parquet, load the
Spark-dumped parquet, sort columns by name, compare values (float tolerance).

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Each PASS/FAIL line carries the seconds DuckDB spent on that oracle, and
after the totals line the ten slowest oracles are listed.

Each side executes ONCE (fetchall): values compare with real NULLs (None),
so SQL NULL never equates to a genuine float NaN, and the pandas dtype-KIND
parity the driver hash depends on is MODELED from the DESCRIBE type plus the
observed nulls (pandas renders a nullable int column as float64 and a
nullable bool as object) instead of paying a second fetchdf execution.
"""
import sys, os, glob, json, math, time
import duckdb

def close(a, b):
    # values come from fetchall(), where SQL NULL is None and a genuine
    # float NaN stays nan — so NULL-vs-NaN divergence FAILS here (the
    # driver hash would catch it) instead of hiding behind fetchdf's
    # NaN rendering of NULL
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
            if math.isnan(fa) and math.isnan(fb):
                return True  # both genuinely NaN in the source
            return math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-6)
        except (TypeError, ValueError):
            return False
    return str(a) == str(b)

def base_kind(duck_type):
    """pandas dtype KIND a non-null column of this DuckDB type renders as
    (unsigned folded into signed, widths ignored — they render alike)."""
    t = duck_type.upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT"):
        return "i"
    if t in ("DOUBLE", "FLOAT", "REAL") or t.startswith("DECIMAL"):
        return "f"
    if t == "BOOLEAN":
        return "b"
    if t.startswith("TIMESTAMP") or t == "DATE":
        return "M"
    return "O"

def rendered_kinds(cols, desc, rows):
    """Model fetchdf's per-column dtype kind: ints with any NULL render
    float64, bools with any NULL render object; others keep their kind."""
    types = {c: t for c, t, *_ in desc}
    kinds = {}
    for j, c in enumerate(cols):
        k = base_kind(types[c])
        if k in ("i", "b") and any(r[j] is None for r in rows):
            k = {"i": "f", "b": "O"}[k]
        kinds[c] = k
    return kinds

# DuckDB types whose pandas rendering (fetchdf) diverges from the
# matching Spark/parquet type — HUGEINT renders as float64, DECIMAL as
# object/float. The driver hashes fetchdf output, so these silently
# break the driver hash even when values are numerically equal
# (round-8/9 q_token_budget). Fail them loudly here, pre-driver.
BAD_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")

def check(con, qname, sql, spark_dir):
    """Compare one query's oracle with its Spark dump. Returns
    (passed, detail, oracle_s): oracle_s is the DuckDB time of the
    oracle (DESCRIBE + execution), up to the failure if it failed first."""
    t0 = time.perf_counter()
    try:
        # Type sweep runs before the dump check so subset runs
        # (SPARK_GRAFT_ONLY) still type-audit every oracle.
        odesc = con.execute(f"DESCRIBE {sql}").fetchall()
        badcols = [(c, t) for c, t, *_ in odesc
                   if any(b in t.upper() for b in BAD_TYPES)]
        if badcols:
            return (False, f"oracle output type(s) {badcols} — "
                    f"HUGEINT/DECIMAL render as float64/object in fetchdf "
                    f"and break the driver hash; CAST to BIGINT/DOUBLE",
                    time.perf_counter() - t0)
        if not os.path.isdir(spark_dir):
            return False, "no spark output dir", time.perf_counter() - t0
        oc = con.execute(sql)
        ocols = [d[0] for d in oc.description]
        orows = oc.fetchall()
    except Exception as e:
        return False, f"duckdb error: {e}", time.perf_counter() - t0
    oracle_s = time.perf_counter() - t0
    ssel = f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')"
    sdesc = con.execute(f"DESCRIBE {ssel}").fetchall()
    sc = con.execute(ssel)
    scols = [d[0] for d in sc.description]
    srows = sc.fetchall()
    # dtype parity: the driver compares pandas-rendered frames, so an
    # int64 vs float64 mismatch per column is a hash mismatch even
    # when every value compares numerically equal — modeled from the
    # DESCRIBE type + observed nulls (see module doc), one execution.
    okinds = rendered_kinds(ocols, odesc, orows)
    skinds = rendered_kinds(scols, sdesc, srows)
    dmis = [(c, skinds[c], okinds[c]) for c in scols
            if c in okinds and skinds[c] != okinds[c]]
    if dmis:
        return False, f"dtype mismatch (col, spark, oracle): {dmis}", oracle_s
    if sorted(ocols) != sorted(scols):
        return False, f"cols spark={sorted(scols)} oracle={sorted(ocols)}", oracle_s
    operm = [ocols.index(c) for c in sorted(ocols)]
    sperm = [scols.index(c) for c in sorted(scols)]
    og = [tuple(r[i] for i in operm) for r in orows]
    sg = [tuple(r[i] for i in sperm) for r in srows]
    if len(og) != len(sg):
        return False, f"rows spark={len(sg)} oracle={len(og)}", oracle_s
    # row order: both sides declare ORDER BY; compare in order
    for i, (a, b) in enumerate(zip(sg, og)):
        if not all(close(x, y) for x, y in zip(a, b)):
            return False, f"row {i} spark={a} oracle={b}", oracle_s
    return True, f"{len(sg)} rows", oracle_s

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for f in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(f)[:-8]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    seconds = {}
    for qname, sql in sorted(oracle.items()):
        passed, detail, seconds[qname] = check(con, qname, sql, f"{out_dir}/{qname}")
        if passed:
            print(f"PASS {qname} ({detail}, {seconds[qname]:.2f} s)")
            n_pass += 1
        else:
            print(f"FAIL {qname} ({seconds[qname]:.2f} s): {detail}")
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    slowest = sorted(seconds.items(), key=lambda kv: -kv[1])[:10]
    print(f"slowest oracles ({sum(seconds.values()):.1f} s in all):")
    for q, t in slowest:
        print(f"  {t:8.2f} s  {q}")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
