#!/usr/bin/env python3
"""Benchmark entry point for graft (see perfbench/README.md).

    python3 perfbench/run.py --workload kernels|delta|queries --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness from source into .bench_build/ (sbt, offline); later runs reuse the
build while the sources are unchanged. Each run starts one JVM, prints the
harness's result line as the last line of stdout and exits 0, or prints no
result and exits non-zero.

    python3 perfbench/run.py --selfcheck       # names, units, failure counting
    python3 perfbench/run.py --record          # re-record expected digests
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"
EXPECTED = BENCH / "expected_queries.json"
WORKLOADS = ("kernels", "delta", "queries")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "src" / "main", ROOT / "project", BENCH / "src", BENCH / "project"):
        files += sorted(p for p in d.rglob("*") if p.is_file() and "target" not in p.parts)
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile program + harness; cache the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not (ROOT / "build.sbt").is_file():
        fail(f"no program sources under {ROOT}; run from the root of a graft checkout")
    stamp, cp_file = OUT / "build.stamp", OUT / "classpath.txt"
    digest = sources_digest()
    if cp_file.is_file() and stamp.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # keep sbt's socket directory and the JVM's perf-data file out of /tmp
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Dsbt.server.forcestart=false"
                       f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip()
    log = OUT / "build.log"
    with open(log, "w") as lf:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=lf, text=True,
                timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    with open(log, "a") as lf:
        lf.write(proc.stdout)
    if proc.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        fail(f"build failed (exit {proc.returncode}); see {log}")
    cp_file.write_text(lines[-1])
    stamp.write_text(digest)
    return lines[-1]


def run_jvm(cp, workload, seed, seconds, trace, extra=()):
    """One harness JVM; returns the parsed result line."""
    work = OUT / "work" / f"{workload}-{os.getpid()}"
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # a fixed, pre-touched heap: the heap never grows or shrinks during a run,
    # so no op pays for page faults on fresh heap memory
    cmd = ["java", "-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", str(work),
            "--trace-out", str(OUT / "trace.json"), *extra]
    if "--record" not in extra:
        cmd += ["--expected", str(EXPECTED)]
    log = OUT / f"last-{workload}.log"
    with open(log, "w") as lf:
        try:
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=lf, text=True,
                                  timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{workload} run timed out after {JVM_TIMEOUT_S}s; see {log}")
        finally:
            # the JVM deletes its work directory itself, unless it was killed
            shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"{workload} run failed (exit {proc.returncode}); see {log}")
    result = json.loads(lines[-1])
    summary = [l for l in log.read_text().splitlines() if " ops=" in l or "failed" in l]
    for l in summary[-8:]:
        print(l, file=sys.stderr)
    return result


def declared():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def selfcheck(cp):
    """Every declared metric is printed with its unit, and a corrupted
    expected digest is counted as a failure instead of crashing or passing."""
    e2e, layers = declared()
    problems = []

    def same(got, want, what):
        units = {k: v["unit"] for k, v in got["metrics"].items()}
        if units != want:
            problems.append(f"{what}: metrics {sorted(units.items())} != declared {sorted(want.items())}")

    for w in WORKLOADS:
        r = run_jvm(cp, w, 1, 1, 0)
        same(r, e2e, f"{w} --trace 0")
        if not r["correct"] or r["failed"]:
            problems.append(f"{w}: clean run reported failures: {r}")
    same(run_jvm(cp, "queries", 1, 3, 1), layers, "--trace 1")
    r = run_jvm(cp, "queries", 1, 1, 0, ["--corrupt-expected"])
    if r["correct"] or r["failed"] < 1 or r["attempted"] < 1:
        problems.append(f"corrupted expected digest was not counted as a failure: {r}")
    for p in problems:
        print(f"selfcheck: {p}", file=sys.stderr)
    print(json.dumps({"selfcheck": "fail" if problems else "pass", "problems": len(problems)}))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    cp = build()
    if a.selfcheck:
        sys.exit(selfcheck(cp))
    if a.record:
        run_jvm(cp, "queries", a.seed, 1, 0, ["--record", str(EXPECTED)])
        print(EXPECTED.read_text())
        return
    if not a.workload:
        ap.error("--workload is required")
    print(json.dumps(run_jvm(cp, a.workload, a.seed, a.seconds, a.trace)))


if __name__ == "__main__":
    main()
