#!/usr/bin/env python3
"""Telemetry-pipeline benchmark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload parse_wide --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --self-test

Builds the program and the benchmark from source with the Scala compiler
that ships in Spark's jar directory (into .bench_build/, once per source
tree), generates the workload's inputs from the seed, measures one
season run in a fresh JVM however long --seconds is, checks the outputs
and prints one JSON result line last.
With --trace 0 the result carries the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SCALA = "2.13.17"
DEFAULT_SEED = 1
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt declares."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    fail("Spark jars not found: set SPARK_HOME")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not main:
        fail("no program sources under src/main/scala: nothing to benchmark")
    if not bench:
        fail("no benchmark sources under perfbench/src")
    return main + bench


def build():
    """Compiles program + benchmark once per distinct source tree."""
    srcs = sources()
    h = hashlib.sha256(SCALA.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    jars = spark_jars()
    compiler = [os.path.join(jars, f"scala-{n}-{SCALA}.jar")
                for n in ("compiler", "library", "reflect")]
    for j in compiler:
        if not os.path.isfile(j):
            fail(f"Scala compiler jar not found: {j}")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log = os.path.join(BUILD, "build.log")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*")] + srcs
    t0 = time.time()
    with open(log, "w") as lf:
        try:
            r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                               timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s (log: {log})")
    if r.returncode != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"build failed (log: {log})")
    os.replace(tmp, out)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def cpus():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    n = min(4, n)
    if not isinstance(n, int) or n < 1:
        fail(f"invalid cpu count {n!r}")
    return n


def run_jvm(classes, workload, seed, seconds, trace, scale=1.0):
    work = os.path.join(BUILD, f"work-{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    log = os.path.join(BUILD, f"last-{workload}.log")
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-Xss8m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(spark_jars(), "*")]),
              "perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--out", out, "--work", work, "--cpus", str(cpus()),
              "--scale", repr(scale)])
    try:
        with open(log, "w") as lf:
            try:
                r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                   timeout=JVM_TIMEOUT_S, cwd=work)
            except subprocess.TimeoutExpired:
                fail(f"{workload} timed out after {JVM_TIMEOUT_S} s (log: {log})", 3)
        if r.returncode != 0 or not os.path.isfile(out):
            with open(log, errors="replace") as lf:
                sys.stderr.write(lf.read()[-4000:])
            fail(f"{workload} exited with {r.returncode} (log: {log})", 3)
        with open(out) as f:
            res = json.load(f)
        # spans and other detail stay next to the log for later reading
        if res.get("spans"):
            with open(os.path.join(BUILD, f"trace-{workload}-{seed}.json"), "w") as f:
                json.dump(res["spans"], f)
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def verdict(res, spec, trace, expected):
    """Builds the printed result: checks, failure counts, chosen metrics."""
    attempted = int(res["attempted"])
    failed = int(res["failed"])
    errors = list(res.get("errors", []))
    sums = res.get("checksums", [])
    # every run of one process must produce identical final tables
    bad = sum(1 for c in sums[1:] if c != sums[0])
    if bad:
        errors.append(f"{bad} runs disagree with the first run's checksums")
    if expected is not None:
        for i, c in enumerate(sums):
            wrong = {k: c.get(k) for k in expected if c.get(k) != expected[k]}
            if wrong:
                bad += 1
                errors.append(f"run {i}: checksum mismatch {wrong} vs recorded "
                              f"{ {k: expected[k] for k in wrong} }")
    failed = min(attempted, failed + bad)
    metrics = dict(res["metrics"])
    metrics["run.error_rate"] = {"value": failed / max(1, attempted), "unit": "ratio"}
    names = spec["per_layer"] if trace else spec["end_to_end"]
    chosen = {}
    for m in names:
        got = metrics.get(m["name"])
        if got is None:
            errors.append(f"metric {m['name']} missing")
            continue
        v = got["value"]
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            errors.append(f"metric {m['name']} is not a finite number: {v!r}")
            continue
        if got["unit"] != m["unit"]:
            errors.append(f"metric {m['name']} has unit {got['unit']}, expected {m['unit']}")
        chosen[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = failed == 0 and not errors and len(chosen) == len(names)
    for e in errors[:20]:
        print(f"perfbench: {e}", file=sys.stderr)
    return {"correct": correct, "attempted": max(1, attempted), "failed": failed,
            "metrics": chosen}


def load_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(path) as f:
        return json.load(f)


def expected_checksums(workload, seed):
    if seed != DEFAULT_SEED:
        return None
    with open(os.path.join(HERE, "expected_checksums.json")) as f:
        return json.load(f).get(workload)


def self_test(spec):
    """Tiny-size run of every workload in both modes: every metric of
    BENCHMARK.json is printed with its unit, the output check passes, and
    a corrupted recorded checksum makes it fail."""
    classes = build()
    ok = True
    for w in [x["name"] for x in spec["workloads"]]:
        for trace in (False, True):
            # the default seed, so that even the untraced run reports checksums
            res = run_jvm(classes, w, DEFAULT_SEED, 2, trace, scale=0.05)
            sums = res.get("checksums") or [{}]
            good = verdict(res, spec, trace, dict(sums[0]))
            names = [m["name"] for m in (spec["per_layer"] if trace else spec["end_to_end"])]
            if not good["correct"] or sorted(good["metrics"]) != sorted(names):
                print(f"self-test FAIL: {w} trace={int(trace)}: {good}", file=sys.stderr)
                ok = False
            print(f"self-test {w}: a recorded checksum is corrupted next; "
                  "the mismatch it reports is expected", file=sys.stderr)
            corrupt = {k: "0:0" for k in sums[0]}
            if not corrupt or verdict(res, spec, trace, corrupt)["correct"]:
                print(f"self-test FAIL: {w}: corrupted checksum not caught", file=sys.stderr)
                ok = False
            print(f"self-test {w} trace={int(trace)}: "
                  f"{'ok' if good['correct'] else 'FAIL'}", file=sys.stderr)
    print(json.dumps({"self_test": "pass" if ok else "fail"}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    spec = load_spec()
    if a.self_test:
        sys.exit(self_test(spec))
    if a.workload is None or a.seed is None or a.seconds is None or a.trace is None:
        ap.error("--workload, --seed, --seconds and --trace are required")
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        fail(f"unknown workload {a.workload!r}; expected one of {names}")
    if not 1 <= a.seconds <= 120:
        fail("--seconds must be between 1 and 120")
    classes = build()
    res = run_jvm(classes, a.workload, a.seed, a.seconds, bool(a.trace))
    out = verdict(res, spec, bool(a.trace), expected_checksums(a.workload, a.seed))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
