#!/usr/bin/env python3
"""Per-query trend of the operator sweep across recorded runs, compared
only between records made at the same core count.

    python3 perfbench/trend.py                       # every query, every cpus group
    python3 perfbench/trend.py --query d13_near_dup_clusters --query c1_corpus_prep

Reads the round records BENCH_r*.json in the repo root (their `parsed`
field when present, otherwise the JSON line at the end of `tail`; a tail
cut off on the left still yields the queries it holds whole) and the
sweep records `run.py --workload operator_sweep` writes under
perfbench/target/sweeps/. Query names are SparkEntry.queries keys, the
same in both. For each core count it prints one column per record, in
order, and the change of the last record against the one before it.
"""
import argparse
import json
import re
from pathlib import Path

HERE = Path(__file__).resolve().parent
NOT_QUERIES = {"value", "host_probe_start", "host_probe_end", "host_factor", "value_norm",
               "n_queries", "unpaired_duckdb", "host_probe_sec"}
PAIR = re.compile(r'"([A-Za-z0-9_]+)":(-?[0-9]+(?:\.[0-9]+)?(?:[eE][-+]?[0-9]+)?)')


def from_tail(tail):
    """Queries from the bench line in a record's output tail: the whole
    line when it parses, else every complete "name":number pair after the
    cut (the line lost its head to the tail's size limit)."""
    lines = [ln for ln in tail.splitlines() if '":' in ln]
    if not lines:
        return {}, "none"
    # the bench line is the one with the query map, not a trailing summary
    line = max(lines, key=lambda ln: sum(k not in NOT_QUERIES for k, _ in PAIR.findall(ln)))
    start = line.find('{"metric"')
    if start >= 0:
        try:
            return json.loads(line[start:])["queries"], "tail"
        except (ValueError, KeyError):
            pass
    body = line.split('"queries":{', 1)[-1].split("}", 1)[0]
    pairs = {k: float(v) for k, v in PAIR.findall(body) if k not in NOT_QUERIES}
    return pairs, "tail, partial"


def load(root, sweeps):
    records = []
    for f in sorted(root.glob("BENCH_r*.json")):
        d = json.loads(f.read_text())
        if "cpus" not in d:
            continue  # a bare bench line, not a round record
        if isinstance(d.get("parsed"), dict):
            qs, how = d["parsed"].get("queries", {}), "parsed"
        else:
            qs, how = from_tail(d.get("tail") or "")
        records.append({"label": f.stem.replace("BENCH_", ""), "cpus": d["cpus"], "order": (0, d.get("n", 0), f.stem),
                        "queries": qs, "how": how})
    for f in sorted(sweeps.glob("sweep-*.json")):
        d = json.loads(f.read_text())
        records.append({"label": f.stem, "cpus": d["cpus"], "order": (1, f.stat().st_mtime, f.stem),
                        "queries": d["parsed"]["queries"], "how": "sweep"})
    return sorted(records, key=lambda r: r["order"])


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--root", default=str(HERE.parent), help="directory holding BENCH_r*.json")
    ap.add_argument("--sweeps", default=str(HERE / "target" / "sweeps"))
    ap.add_argument("--query", action="append", default=[])
    a = ap.parse_args()
    records = load(Path(a.root), Path(a.sweeps))
    if not records:
        print("no records found")
        return
    for cpus in sorted({r["cpus"] for r in records}):
        group = [r for r in records if r["cpus"] == cpus]
        names = sorted({q for r in group for q in r["queries"]})
        if a.query:
            names = [q for q in names if q in a.query]
        print(f"\ncpus={cpus}: " + ", ".join(f"{r['label']} ({r['how']}, {len(r['queries'])} queries)" for r in group))
        print(f"{'query':34}" + "".join(f"{r['label'][-12:]:>13}" for r in group) + f"{'last/prev':>11}")
        for q in names:
            vals = [r["queries"].get(q) for r in group]
            seen = [v for v in vals if v is not None and v >= 0]
            change = f"{seen[-1] / seen[-2]:10.2f}x" if len(seen) >= 2 and seen[-2] > 0 else f"{'':>11}"
            print(f"{q:34}" + "".join(f"{v:13.3f}" if v is not None else f"{'-':>13}" for v in vals) + change)


if __name__ == "__main__":
    main()
