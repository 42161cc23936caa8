#!/usr/bin/env python3
"""Self-test of check_oracle.py's replay-cache invalidation paths
(VERDICT r17 #4): a stale or corrupt cache hit would be a silent
false-green in the round's central correctness signal, so every way an
entry can go stale must provably MISS, and a valid rerun must HIT.

Scenarios (each a subprocess run of check_oracle.py against a fixture
corpus + fabricated spark output, with ORACLE_CACHE pointed at a temp
dir):
  1. fresh cache        -> 1 miss, ALL OK
  2. unchanged rerun    -> 1 hit,  ALL OK
  3. corpus mtime touch -> miss (fingerprint moved)
  4. rerun              -> hit again
  5. SQL text edit      -> miss (key covers the SQL hash)
  6. payload poisoned   -> checksum rejects the entry, live re-run,
                           still ALL OK
  7. new file in a corpus SUBDIRECTORY -> miss (the fingerprint walks
                           the whole tree, not just top-level *.parquet)

Run: python3 tools/test_oracle_cache.py   (exits nonzero on any failure)
"""
import json, os, re, shutil, subprocess, sys, tempfile, time

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
CHECK = os.path.join(HERE, "check_oracle.py")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def build_fixture(root):
    sf = os.path.join(root, "sf")
    out = os.path.join(root, "out")
    os.makedirs(sf); os.makedirs(out)
    con = duckdb.connect()
    # every view target must exist; only lineitem carries the fixture data
    for t in TABLES:
        if t == "lineitem":
            con.sql(f"""COPY (SELECT 'g' || (i % 3) AS g, i AS v
                        FROM range(30) t(i))
                        TO '{sf}/{t}.parquet' (FORMAT PARQUET)""")
        else:
            con.sql(f"COPY (SELECT 1 AS one) TO '{sf}/{t}.parquet' "
                    "(FORMAT PARQUET)")
    return sf, out

def write_oracle(out, sql):
    with open(os.path.join(out, "oracle_sql.json"), "w") as f:
        json.dump({"q00_fixture": sql}, f)

def write_spark_output(out, sf, sql):
    # the "spark side" is fabricated from the same engine: this test
    # exercises the CACHE, not the comparison
    d = os.path.join(out, "q00_fixture")
    shutil.rmtree(d, ignore_errors=True); os.makedirs(d)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * FROM '{sf}/lineitem.parquet'")
    con.sql(sql).to_df().to_parquet(os.path.join(d, "part-0.parquet"),
                                    index=False)

def run(sf, out, cache):
    env = dict(os.environ, ORACLE_CACHE=cache)
    p = subprocess.run([sys.executable, CHECK, sf, out],
                       capture_output=True, text=True, env=env)
    stdout = p.stdout
    m = re.search(r"ORACLE_CACHE: (\d+) hits / (\d+) misses", stdout)
    ok = "RESULT: ALL OK" in stdout
    if p.returncode != 0 or m is None:
        raise AssertionError(f"check_oracle failed:\n{stdout}\n{p.stderr}")
    return int(m.group(1)), int(m.group(2)), ok, stdout

def expect(label, got, want):
    if got != want:
        print(f"FAIL {label}: got {got}, want {want}")
        return 1
    print(f"ok   {label}: {got}")
    return 0

def main():
    fails = 0
    root = tempfile.mkdtemp(prefix="oracle_cache_selftest_")
    try:
        sf, out = build_fixture(root)
        cache = os.path.join(root, "cache")
        sql = ("SELECT g AS g1, CAST(count(*) AS BIGINT) AS n "
               "FROM lineitem GROUP BY 1")
        write_oracle(out, sql)
        write_spark_output(out, sf, sql)

        fails += expect("1 fresh cache misses", run(sf, out, cache)[:3],
                        (0, 1, True))
        fails += expect("2 unchanged rerun hits", run(sf, out, cache)[:3],
                        (1, 0, True))

        # corpus mtime touch must invalidate
        t = time.time() + 5
        os.utime(os.path.join(sf, "lineitem.parquet"), (t, t))
        fails += expect("3 corpus mtime -> miss", run(sf, out, cache)[:3],
                        (0, 1, True))
        fails += expect("4 rerun -> hit", run(sf, out, cache)[:3],
                        (1, 0, True))

        # SQL text edit must invalidate (same semantics, different text)
        write_oracle(out, sql + " -- edited")
        fails += expect("5 SQL edit -> miss", run(sf, out, cache)[:3],
                        (0, 1, True))

        # poison the payload WITHOUT updating the sidecar: the checksum
        # must reject the entry and the run must fall back to live DuckDB
        # the live entry is the one step 5 wrote last; entries of steps 1
        # and 3 are keyed on other SQL/corpus states and never read again
        payloads = [os.path.join(cache, p) for p in os.listdir(cache)
                    if p.endswith(".parquet")]
        assert payloads, "no cached payloads to poison"
        victim = max(payloads, key=os.path.getmtime)
        pd.DataFrame({"g1": ["poisoned"], "n": [999]}).to_parquet(
            victim, index=False)
        hits, misses, ok, stdout = run(sf, out, cache)
        fails += expect("6 poisoned payload -> rejected + live re-run",
                        (hits, misses, ok, "rejected corrupt entry" in stdout),
                        (0, 1, True, True))
        fails += expect("6b rerun after rewrite -> hit",
                        run(sf, out, cache)[:3], (1, 0, True))

        # a table artifact in a SUBDIRECTORY must be fingerprinted too
        sub = os.path.join(sf, "lineitem_extra")
        os.makedirs(sub)
        pd.DataFrame({"x": [1]}).to_parquet(
            os.path.join(sub, "part-0.parquet"), index=False)
        fails += expect("7 subdirectory artifact -> miss",
                        run(sf, out, cache)[:3], (0, 1, True))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print("CACHE_SELFTEST:", "ALL OK" if fails == 0 else f"{fails} FAILURES")
    return 1 if fails else 0

if __name__ == "__main__":
    sys.exit(main())
