#!/usr/bin/env python3
"""Chunk-loop benchmark: one seeded workload through the public API of the
chunk-loop library (graft.chunker, graft.sources), outputs audited.

Run from the repository root:

    python3 chunkbench/run.py --workload adaptive_scan --seed 1 --seconds 10 --trace 0

The first run builds the library and the benchmark from source with sbt
(chunkbench/build.sbt); later runs reuse the build while the sources are
unchanged. With --trace 0 the last stdout line carries the end-to-end
metrics of BENCHMARK.json, with --trace 1 the per-layer ones. The line
before it is the full result with its config stamp; --out FILE appends
that full result to FILE for compare.py. --self-test instead runs the
audit self-test (each audit must reject a chunk written twice and a chunk
missing). Exits non-zero, without a result line, when the library sources
are absent, the build fails or a run breaks; exits 1 after printing a
result whose outputs failed an audit.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_DIRS = [os.path.join(ROOT, "src", "main", "scala", "graft", d) for d in ("chunker", "sources")]
BUILD_INPUTS = LIB_DIRS + [os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                           os.path.join(HERE, "project", "build.properties")]
TARGET = os.path.join(HERE, "target")
# Fixed-size heap (-Xms = -Xmx): G1 growing the heap during the first walks
# made their speed ramp up differently in each run.
HEAP = "2g"
# C1 only, a deliberate departure from the default tiered JIT. With C2 the
# walks keep speeding up for 15 s (jdbc_dml_par) to over a minute
# (fixed_rewrite was still gaining after 60 s), by a different amount in each
# run, longer than a run can spend warming up; under C1 the first measured
# walk is already at speed. The price: warm C2 walks adaptive_scan and
# jdbc_dml_par about a third faster than C1, so these figures are of a C1
# JVM (README.md, "Load and box").
# C1 only also shrinks the code cache from 240 MB to 48 MB. Each chunk's
# queries compile new classes, and at 48 MB the cache filled within a run:
# the JVM then flushed cold compiled code and compiled it again, which made
# some walks 30% slower than others. The flag keeps the default size.
JIT = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# Names a run of this stack may leave in /tmp if it ignored java.io.tmpdir.
TMP_PREFIXES = ("spark", "blockmgr", "hadoop", "derby", "snappy", "libzstd", "liblz4", "jna",
                "hsperfdata", "chunkbench", "sbt")
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def die(msg, code=2):
    print("chunkbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    for base in BUILD_INPUTS:
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def check_sources():
    missing = [os.path.relpath(d, ROOT) for d in BUILD_INPUTS if not os.path.exists(d)]
    if missing:
        die("sources not found: " + ", ".join(missing))


def build():
    digest = source_digest()
    cp_file = os.path.join(TARGET, "classpath.txt")
    digest_file = os.path.join(TARGET, "build.digest")
    if os.path.exists(cp_file) and os.path.exists(digest_file):
        with open(digest_file) as f:
            if f.read() == digest:
                return cp_file, digest
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    # sbt binds a unix socket under java.io.tmpdir, and a socket path may be
    # at most 107 bytes long: given relative to sbt's working directory, the
    # path stays that short however deep the checkout lies.
    tmp = os.path.join(ROOT, ".bench_work", "sbt%d" % os.getpid())
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = opts + " -Djava.io.tmpdir=" + os.path.relpath(tmp, HERE)
    try:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"], cwd=HERE,
                           env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        die("build failed: %s" % e)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(cp_file):
        die("build failed (sbt exit %d)" % r.returncode)
    with open(digest_file, "w") as f:
        f.write(digest)
    return cp_file, digest


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def declared_metrics(trace):
    """(name, unit) of every metric BENCHMARK.json declares for this mode."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    try:
        with open(path) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        die("cannot read BENCHMARK.json: %s" % e)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def tmp_entries():
    try:
        return {n for n in os.listdir("/tmp") if n.lower().startswith(TMP_PREFIXES)}
    except OSError:
        return set()


def run_jvm(cp_file, main, args, work):
    with open(cp_file) as f:
        cp = f.read().strip()
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP] + JIT + ["-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")] + ADD_OPENS + ["-cp", cp, main] + args
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die("run exceeded %d s" % RUN_TIMEOUT_S)
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=3)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append the full result (JSON line) to this file")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        die("--workload is required")
    metrics = [] if a.self_test else declared_metrics(a.trace)
    check_sources()

    work = os.path.join(ROOT, ".bench_work", "%s-s%d-t%d-%d" % (a.workload or "selftest", a.seed, a.trace, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    tmp_before = tmp_entries()
    try:
        cp_file, digest = build()
        if a.self_test:
            code, out = run_jvm(cp_file, "chunkbench.SelfTest", ["--work", work], work)
            sys.stdout.write(out)
            sys.exit(code)
        spans = os.path.join(ROOT, ".bench_out", "spans-%s-s%d.jsonl" % (a.workload, a.seed))
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work] + (["--spans", spans] if a.trace else [])
        code, out = run_jvm(cp_file, "chunkbench.Main", args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("CHUNKBENCH_RESULT ")]
    if not lines:
        sys.stdout.write(out)
        die("run failed (exit %d) without a result" % code, code or 2)
    res = json.loads(lines[-1][len("CHUNKBENCH_RESULT "):])
    leaked = sorted(tmp_entries() - tmp_before)
    if leaked:
        res["correct"] = False
        res["info"]["problems"].append("files left in /tmp: " + ", ".join(leaked))
    missing = [n for n, _ in metrics if n not in res["metrics"]]
    if missing:
        die("run did not measure: " + ", ".join(missing))
    if not res["correct"]:
        res["failed"] = res["attempted"]
    stamp = dict(res["info"].pop("stamp"), workload=a.workload, trace=a.trace,
                 git_commit=git_commit(), source_digest=digest)
    full = {"stamp": stamp, "correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"], "metrics": res["metrics"], "info": res["info"]}
    if a.out:
        with open(a.out, "a") as f:
            f.write(json.dumps(full) + "\n")
    print(json.dumps(full))
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {n: {"value": res["metrics"][n], "unit": u} for n, u in metrics}}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
