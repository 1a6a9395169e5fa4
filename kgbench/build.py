#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (src/main/scala of the repository) together with the
benchmark harness (kgbench/src) with the Scala compiler that ships in
Spark's jars directory, into .bench_build/kgbench/classes-<key>, where the
key hashes every source file. A build whose key exists is reused.

Usage: python3 kgbench/build.py   (from the repository root)
Prints the classes directory on success; exits non-zero on failure.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent
OUT = ROOT / ".bench_build" / "kgbench"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("kgbench: Spark not found (set SPARK_HOME)")
    return sorted((Path(home) / "jars").glob("*.jar"))


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"kgbench: no program sources at {main.relative_to(ROOT)}")
    return sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def build(quiet=False):
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for j in jars:
        h.update(j.name.encode())
    classes = OUT / f"classes-{h.hexdigest()[:16]}"
    if (classes / ".ok").exists():
        return classes, jars
    compiler = [j for j in jars if j.name.split("-")[0] == "scala"
                and j.name.split("-")[1] in ("compiler", "library", "reflect")]
    if len(compiler) != 3:
        raise SystemExit("kgbench: scala compiler jars not found in Spark's jars")
    tmp = OUT / f"{classes.name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(str(j) for j in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", os.pathsep.join(str(j) for j in jars),
           "-d", str(tmp), f"@{argfile}"]
    res = subprocess.run(cmd, stdout=sys.stderr if not quiet else subprocess.DEVNULL,
                         stderr=sys.stderr)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"kgbench: compilation failed ({res.returncode})")
    for old in OUT.glob("classes-*"):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    tmp.rename(classes)
    (classes / ".ok").write_text("ok\n")
    return classes, jars


if __name__ == "__main__":
    print(build()[0])
