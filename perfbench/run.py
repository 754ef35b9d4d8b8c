#!/usr/bin/env python3
"""Benchmark entry point: build the library and the benchmark from source,
then run one workload (or all of them) in a fresh JVM.

    python3 perfbench/run.py --workload maxflow_smallworld --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all
    python3 perfbench/run.py --record    # re-record the query fingerprints

Run from anywhere inside a checkout of the repository. The last line of
standard output is one JSON object with `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1). The full record of a run, with the spans of a
traced run, is written to perfbench/out/<workload>-trace<0|1>.json.
"""
import argparse
import hashlib
import os
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
OUT = BENCH / "out"
DATA = BENCH / "data" / "sf0.01"
FINGERPRINTS = BENCH / "fingerprints.txt"
WORKLOADS = ["maxflow_smallworld", "queries_iterative", "queries_onepass"]
# fixed, pre-touched driver heap (echoed in the artifact): the heap's share
# of the resident set is then constant, and peak_rss_mb moves with what
# lives outside it (generated classes, code cache, threads, native buffers)
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 900

# JDK 17 module flags Spark needs outside spark-submit (the root build's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an unchanged tree skips sbt."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", BENCH / "project"):
        files += sorted(p for p in d.glob("*") if p.is_file())
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; returns the classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no library sources next to the benchmark (expected {ROOT}/build.sbt and src/main/scala/graft)")
    cp_file, stamp_file = TARGET / "classpath.txt", TARGET / "classpath.stamp"
    stamp = source_stamp()
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    try:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build exceeded {BUILD_TIMEOUT_S} s")
    lines = [l.strip() for l in r.stdout.splitlines()]
    cps = [l for l in lines if l and not l.startswith("[") and os.pathsep in l]
    if r.returncode != 0 or not cps:
        sys.stderr.write(r.stdout[-5000:])
        fail(f"build failed (sbt exit {r.returncode})")
    TARGET.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cps[-1])
    stamp_file.write_text(stamp)
    return cps[-1]


def java(classpath, main, args, log):
    tmp = TARGET / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-cp", classpath, main] + args)
    OUT.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{main} exceeded {RUN_TIMEOUT_S} s (log: {log})")
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="re-record the expected query fingerprints")
    a = ap.parse_args()
    if not a.record and not a.workload:
        ap.error("--workload is required")
    for p in [DATA] + ([] if a.record else [FINGERPRINTS]):
        if not p.exists():
            fail(f"missing {p}")
    classpath = build()
    local_dir = TARGET / "spark-local"
    if a.record:
        rc, out = java(classpath, "perfbench.RecordFingerprints",
                       [str(DATA), str(FINGERPRINTS), str(local_dir)], OUT / "record.log")
        sys.stdout.write(out)
        sys.exit(rc)
    rc_all = 0
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        rc, out = java(classpath, "perfbench.BenchMain", [
            "--workload", w, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", str(DATA), "--out", str(OUT),
            "--fingerprints", str(FINGERPRINTS), "--local-dir", str(local_dir)],
            OUT / f"{w}-trace{a.trace}.log")
        sys.stdout.write(out)
        sys.stdout.flush()
        if rc != 0:
            print(f"perfbench: {w} exited {rc} (log: {OUT / f'{w}-trace{a.trace}.log'})",
                  file=sys.stderr)
            rc_all = rc
    sys.exit(rc_all)


if __name__ == "__main__":
    main()
