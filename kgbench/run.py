#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

Usage (from the repository root):
  python3 kgbench/run.py --workload <kg_pipeline|graph_fixpoints|operator_suite>
      --seed <n> --seconds <s> --trace <0|1> [--tiny] [--record <tsv>]

Builds the program and the harness (kgbench/build.py) if their sources
changed, then runs the workload in one JVM with a local[nproc] Spark
session. All files go under .bench_build/kgbench: the run's work directory
(deleted on every exit path), a detailed JSON report per run in reports/,
and the last untraced result per workload in last/, against which a traced
run reports its tracing overhead.

The last line of standard output is
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The exit code is 0 when every output check passed, 1 when a
check failed (the result line is still printed), and 2 when no result was
produced.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
sys.dont_write_bytecode = True
import build as kbuild  # noqa: E402

ROOT = kbuild.ROOT
BASE = kbuild.OUT
WORKLOADS = ("kg_pipeline", "graph_fixpoints", "operator_suite")
DATA = BENCH / "data" / "sf0.01"
REFERENCE = BENCH / "reference.tsv"
TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(2)


def heap():
    """Half of RAM, between 2g and 8g (the repository's test-run formula)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def declared(trace):
    """Metric name -> unit that BENCHMARK.json declares for this mode."""
    spec = ROOT / "BENCHMARK.json"
    if not spec.exists():
        return None
    with open(spec) as f:
        b = json.load(f)
    return {m["name"]: m["unit"] for m in b["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--tiny", action="store_true",
                    help="a few thousand pages / one query (self-check size)")
    ap.add_argument("--record", help="append output fingerprints to this file "
                    "instead of checking them (reference recording)")
    a = ap.parse_args()

    def stop(signum, _frame):
        raise SystemExit(f"kgbench: stopped by signal {signum}")

    # turn termination into SystemExit, so that the finally clauses below
    # (and subprocess.run in the build) stop children and delete work files
    for sig in (signal.SIGTERM, signal.SIGHUP, signal.SIGINT):
        signal.signal(sig, stop)

    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("program sources (src/main/scala) not found next to kgbench/")
    if not DATA.is_dir():
        fail(f"benchmark tables not found at {DATA.relative_to(ROOT)}")
    classes, jars = kbuild.build()

    work = BASE / "work" / f"{a.workload}-{os.getpid()}"
    report = BASE / "reports" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    result = work / "result.json"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    child = None
    try:
        # a fixed initial heap: without it G1 grows the heap on its own timing
        # and the peak RSS of identical runs differs by a third
        cmd = ["java", f"-Xmx{heap()}", "-Xms2g", "-Xss4m", "-XX:-UsePerfData",
               "-Duser.timezone=UTC",
               f"-Djava.io.tmpdir={work / 'tmp'}",
               f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        cmd += ["-cp", os.pathsep.join([str(classes)] + [str(j) for j in jars]),
                "kgbench.Main",
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cores", str(cores()), "--work", str(work),
                "--data", str(DATA), "--reference", str(REFERENCE),
                "--result", str(result), "--report", str(report)]
        if a.tiny:
            cmd += ["--tiny", "1"]
        if a.record:
            cmd += ["--record", str(Path(a.record).resolve())]
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
        t0 = time.time()
        child = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                                 env=env, cwd=str(work), start_new_session=True)
        try:
            code = child.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {TIMEOUT_S} s")
        if code != 0 or not result.exists():
            fail(f"benchmark JVM exited with {code} and no result")
        out = json.loads(result.read_text())
        print(f"kgbench: {a.workload} seed {a.seed} ran {time.time() - t0:.1f} s "
              f"(JVM start to exit)", file=sys.stderr)
    finally:
        if child is not None and child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
        shutil.rmtree(work, ignore_errors=True)

    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result keys {sorted(out)}")
    want = declared(a.trace)
    if want is not None:
        got = {k: v["unit"] for k, v in out["metrics"].items()}
        if got != want:
            fail(f"metrics differ from BENCHMARK.json: missing "
                 f"{sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                 f"units {[(k, got[k], want[k]) for k in set(got) & set(want) if got[k] != want[k]]}")

    last = BASE / "last" / f"{a.workload}.json"
    if a.trace == 0 and not a.tiny and not a.record:
        last.parent.mkdir(parents=True, exist_ok=True)
        last.write_text(json.dumps(out))
    elif a.trace == 1 and last.exists() and report.exists():
        base = json.loads(last.read_text())["metrics"]
        m = out["metrics"]
        overhead = {k: m[f"trace.{k}"]["value"] - base[k]["value"]
                    for k in ("pass_s", "op_geomean_s")}
        print(f"kgbench: tracing overhead vs the last untraced run: {overhead}",
              file=sys.stderr)
        r = json.loads(report.read_text())
        r["tracing_overhead_s"] = overhead
        report.write_text(json.dumps(r, indent=1) + "\n")

    print(json.dumps(out))
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
