#!/usr/bin/env python3
"""Tiny-size self-check of the benchmark.

Runs every workload at self-check size (2000 pages for kg_pipeline, one
query for the query workloads) untraced and traced, and asserts that each
run exits 0 with a correct result whose metrics are exactly the ones
BENCHMARK.json declares for that mode, each with its declared unit. Then
runs the benchmark in a directory holding only BENCHMARK.json and the
benchmark's files, where it must fail without printing a result.

Usage (from the repository root): python3 kgbench/selfcheck.py
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            want = {m["name"]: m["unit"] for m in spec[key]}
            cmd = spec["command"] + ["--workload", w, "--seed", "7", "--seconds", "1",
                                     "--trace", str(trace), "--tiny"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            tag = f"{w} trace={trace}"
            if p.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            out = json.loads(lines[-1])
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                problems.append(f"{tag}: {lines[-1][:300]}")
            if got != want:
                problems.append(f"{tag}: metrics {sorted(set(got) ^ set(want))} "
                                f"or their units differ from BENCHMARK.json")
            print(f"ok   {tag}: {len(got)} metrics, attempted {out['attempted']}")

    bare = ROOT / ".bench_build" / "selfcheck-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(BENCH, bare / BENCH.name,
                        ignore=shutil.ignore_patterns("__pycache__"))
        cmd = spec["command"] + ["--workload", spec["workloads"][0]["name"],
                                 "--seed", "1", "--seconds", "1", "--trace", "0"]
        p = subprocess.run(cmd, cwd=bare, capture_output=True, text=True, timeout=180)
        if p.returncode == 0 or p.stdout.strip():
            problems.append(f"bare directory: exit {p.returncode}, stdout {p.stdout[:200]!r}")
        else:
            print(f"ok   bare directory: exit {p.returncode}, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for msg in problems:
        print(f"FAIL {msg}")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
