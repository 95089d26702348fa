#!/usr/bin/env python3
"""Steadiness check: run the benchmark on the same commit in two sets of
seeds and print, for every end-to-end metric, its spread next to its bound.

    python3 perfbench/steady.py                   # 2 sets x 10 seeds, every workload
    python3 perfbench/steady.py --sets 1 --runs 5 --workloads ingest_day
    python3 perfbench/steady.py --trace           # also one traced run per workload

Spread is (Q3 - Q1) / median over one set's runs, with the quartiles of
Python's statistics.quantiles(values, n=4). A metric is steady when every
set's spread stays within a third of its bound (setup_s within its whole
bound: set-up time is gated on drift only) and the second set's median
is not worse than the first's by more than the bound. With --trace, the
tracing overhead is the traced run's trace.op_p50_ms against the
untraced median op_p50_ms.

Raw results go to perfbench/target/steady-<time>.json. Exit code 1 when a
metric is not steady or a run failed.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    ok = p.returncode == 0 and result is not None and result.get("correct")
    if not ok:
        sys.stderr.write(f"{workload} seed {seed}: rc={p.returncode}\n{p.stderr[-2000:]}\n")
    return result if ok else None


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf"), med


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--runs", type=int, default=10, help="seeds per set")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", action="store_true")
    a = ap.parse_args()
    metrics = spec["end_to_end"]
    raw = {}
    ok = True
    for w in a.workloads.split(","):
        sets = []
        for k in range(a.sets):
            rs = []
            for i in range(a.runs):
                seed = 1000 * (k + 1) + i
                t0 = time.time()
                r = run(w, seed, a.seconds, 0)
                print(f"  {w} set {k + 1} seed {seed}: {time.time() - t0:5.1f}s "
                      + ("FAILED" if r is None else " ".join(
                          f"{m['name']}={r['metrics'][m['name']]['value']:.4g}" for m in metrics)), flush=True)
                if r is None:
                    ok = False
                else:
                    rs.append(r)
            sets.append(rs)
        raw[w] = sets
        print(f"\n{w}")
        print(f"  {'metric':14} {'unit':6} {'bound':>6} " + " ".join(
            f"{'set' + str(k + 1) + ' median':>14} {'spread':>7}" for k in range(a.sets)) + "  verdict")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            cols, meds, steady = [], [], True
            for rs in sets:
                vals = [r["metrics"][name]["value"] for r in rs]
                if len(vals) < 2:
                    cols.append(f"{'-':>14} {'-':>7}")
                    steady = False
                    continue
                sp, med = spread(vals)
                meds.append(med)
                cols.append(f"{med:14.4f} {sp:7.3f}")
                if sp > (bound if name == "setup_s" else bound / 3):
                    steady = False
            if len(meds) >= 2:
                worse = (meds[-1] - meds[0]) / meds[0] * (1 if m["better"] == "lower" else -1)
                if worse > bound:
                    steady = False
                cols.append(f"drift {worse:+.3f}")
            ok = ok and steady
            print(f"  {name:14} {m['unit']:6} {bound:6.2f} " + " ".join(cols) + ("  ok" if steady else "  NOT STEADY"))
        if a.trace:
            t = run(w, 1, a.seconds, 1)
            base = statistics.median(r["metrics"]["op_p50_ms"]["value"] for rs in sets for r in rs)
            if t is None:
                ok = False
            else:
                over = t["metrics"]["trace.op_p50_ms"]["value"] / base - 1
                print(f"  tracing overhead on op_p50_ms: {over:+.1%} (traced {t['metrics']['trace.op_p50_ms']['value']:.1f} ms)")
    out = HERE / "target" / f"steady-{int(time.time())}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(raw))
    print(f"\nraw results: {out}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
