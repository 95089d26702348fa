#!/usr/bin/env python3
"""Time DuckDB oracle SQL for selected queries over a given data dir.

Protocol mirrors Bench: warm run, then timed second run, 32 threads.
A per-query wall clamp (default 900 s, on the WARM run) records DNF
instead of hanging the sweep — the recursive-CTE oracles are expected
to blow up superlinearly on the graph family.

Usage: python3 scripts/duckdb_scale.py <datadir> <q1,q2,...> [timeout_s]
Note: documents.parquet in a ScaleBuild replica dir is a DIRECTORY of
parquet parts; duckdb needs the glob form for those.
"""
import json, os, signal, sys, time
import duckdb

datadir = sys.argv[1]
names = sys.argv[2].split(",")
timeout_s = int(sys.argv[3]) if len(sys.argv) > 3 else 900

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

oracle = json.load(open("/tmp/verify_out/oracle_sql.json"))

def connect():
    con = duckdb.connect()
    con.execute("SET threads TO 32")
    for t in TABLES:
        p = f"{datadir}/{t}.parquet"
        src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    return con

class Timeout(Exception):
    pass

def run_timed(sql):
    """Returns (warm_seconds, timed_out). Timeout enforced via SIGALRM +
    duckdb interrupt in a child process so a hung CTE can't wedge us."""
    pid = os.fork()
    if pid == 0:  # child
        try:
            con = connect()
            t0 = time.time()
            con.execute(sql).fetchall()         # warm
            warm1 = time.time() - t0
            t0 = time.time()
            con.execute(sql).fetchall()         # measured
            warm2 = time.time() - t0
            print(f"CHILD_RESULT {warm2:.2f} (first {warm1:.2f})", flush=True)
            os._exit(0)
        except Exception as e:
            print(f"CHILD_ERROR {e}", flush=True)
            os._exit(1)
    else:
        deadline = time.time() + 2 * timeout_s
        while True:
            done, status = os.waitpid(pid, os.WNOHANG)
            if done:
                return status == 0
            if time.time() > deadline:
                os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, 0)
                print(f"CHILD_TIMEOUT >{timeout_s}s per run", flush=True)
                return False
            time.sleep(0.5)

for n in names:
    sql = oracle[n]
    print(f"[duck] {n} @ {datadir}", flush=True)
    run_timed(sql)
