#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload api_read --seed 1 --seconds 20 --trace 0

The first run builds the program and the harness with sbt (the program's
own build file, one directory up from perfbench/build.sbt) and caches the
classpath under perfbench/target/; later runs reuse it until a source
file changes. Each run starts one JVM, sized to the host the way the
repo's Tier-1 command sizes it: SPARK_GRAFT_CPUS = nproc, heap = half of
MemTotal clamped to 2..8 GiB.

stdout: one `perfbench: name value unit` line per metric, then the result
JSON as the last line. The JVM's log goes to perfbench/target/logs/.
Exit code 0 when every operation and output check passed.

operator_sweep is not one of BENCHMARK.json's workloads; it needs
`--data DIR` (a table directory such as an sf0.1 test-data dir) and
writes a per-query record under perfbench/target/sweeps/ for trend.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "target"
STAMP = OUT / "bench-classpath.json"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (the program's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


# operator_mix runs the same four queries pass after pass. Under the
# default tiered JIT its JVM is still compiling Spark's planner with C2
# through the whole run (10-16 s of compile time in a 10 s window), and
# how far that has got decides the run's speed: same-seed runs differed
# by half. With C1 alone the JIT is done within the warm passes (under
# 2 s of compile time in the window) and the passes run flat. The other
# workloads generate new code with every tick or request, so they keep
# compiling either way, and they run as the program does.
JIT = {"operator_mix": ["-XX:TieredStopAtLevel=1"]}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, for the rebuild check."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def digest():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Classpath of the harness plus the program, rebuilt when sources change."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"program sources not found under {ROOT} (need build.sbt and src/main/scala)")
    want = digest()
    if STAMP.is_file():
        stamp = json.loads(STAMP.read_text())
        cp = stamp.get("classpath", "")
        if stamp.get("digest") == want and cp and all(Path(p).exists() for p in cp.split(os.pathsep)):
            return cp
    OUT.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = OUT / "build.log"
    with open(log, "w") as f:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S}s; see {log}")
    lines = log.read_text().splitlines()
    cp = next((ln.strip() for ln in reversed(lines)
               if os.pathsep in ln and "classes" in ln and not ln.startswith("[")), "")
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (rc={rc}); see {log}")
    STAMP.write_text(json.dumps({"digest": want, "classpath": cp}))
    return cp


def heap():
    """Half of MemTotal in GiB, clamped to 2..8 — the Tier-1 rule."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def expected_metrics(workload, trace):
    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        return None
    spec = json.loads(spec_file.read_text())
    if workload not in {w["name"] for w in spec["workloads"]}:
        return None
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", help="operator_sweep: table directory")
    a = ap.parse_args()
    if a.workload == "operator_sweep" and not a.data:
        fail("operator_sweep needs --data DIR")

    cp = build()
    for d in OUT.glob("work-*"):  # left by a run that was killed
        shutil.rmtree(d, ignore_errors=True)
    for sub in ("logs", "tmp", "spark-local"):
        (OUT / sub).mkdir(parents=True, exist_ok=True)

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(nproc())
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap()}",
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        *JIT.get(a.workload, []),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        # deep enough that job call sites keep the program frames below
        # the HTTP server and the ingest loop (layer attribution)
        "-Dspark.callstack.depth=200",
        f"-Dspark.local.dir={OUT / 'spark-local'}",
        f"-Djava.io.tmpdir={OUT / 'tmp'}",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--out", str(OUT)]
    if a.data:
        cmd += ["--data", str(Path(a.data).resolve())]
    log = OUT / "logs" / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    timeout = None if a.workload == "operator_sweep" else RUN_TIMEOUT_S
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=OUT, env=env, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {timeout}s; see {log}", 3)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()

    lines = [ln for ln in out.splitlines() if ln.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None:
        sys.stderr.write("\n".join(log.read_text().splitlines()[-40:]) + "\n")
        fail(f"no result from the run (rc={proc.returncode}); see {log}", 4)
    for ln in lines[:-1]:
        print(ln)
    want = expected_metrics(a.workload, a.trace)
    if want is not None:
        missing = [m for m in want if m not in result["metrics"]]
        if missing:
            fail(f"result lacks metrics {missing}", 5)
        result["metrics"] = {m: result["metrics"][m] for m in want}
    print(json.dumps(result))
    sys.exit(0 if result.get("correct") and proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()
