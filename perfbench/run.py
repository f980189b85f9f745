#!/usr/bin/env python3
"""graft's end-to-end benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds graft's library and
the benchmark's Scala code from source (sbt, offline) into perfbench/target;
later runs reuse that build while the sources are unchanged.

A run starts one JVM (perfbench.Main, Spark local[4]) with its own
java.io.tmpdir and SPARK_GRAFT_SCRATCH under .perfbench/run-<pid>, so no
build-once index survives between runs; the directory is removed at exit.
After the JVM ends, the batch workloads' step outputs are compared with
graft's DuckDB oracle SQL by the rules of tools/crosscheck.py.

The last line of stdout is the result: {"correct", "attempted", "failed",
"metrics"}, with the end-to-end metrics of BENCHMARK.json when --trace 0 and
the per-layer ones when --trace 1. The line before it carries the context:
input sizes, sample counts, graft.Bench's ambient controls and any errors.
The exit code is 0 only when every operation and every check succeeded.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

BENCH = "perfbench"
# Input sizes per workload (gen.generate's scale, docs, vecs, replicas):
# 12k lineitem rows keep a timed medallion pass a few seconds on four cores;
# the session corpus is 2k docs and 2k vectors. --smoke shrinks them for the
# smoke test.
SIZES = {
    "medallion_etl": (0.002, 0, 0, 1),
    "search_session": (0.0, 2000, 2000, 1),
}
SMOKE_SIZES = {
    "medallion_etl": (0.001, 0, 0, 1),
    "search_session": (0.0, 400, 200, 1),
}
SETUP_REPS = 3
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# The JVM's set-up (session, warm-up passes or index builds) and checks, on
# top of the timed window.
JVM_ALLOWANCE_S = 120
# graft's default driver heap ceiling (build.sbt). The heap starts at 2 GiB,
# touched up front, so the collector's run-to-run choice of heap size and
# first-touch page faults stay out of the timings; memory is reported as the
# live set (live_mem_mb), which the heap size does not move.
JVM_HEAP = ["-Xms2g", "-Xmx8g", "-XX:+AlwaysPreTouch"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    for top in ("src/main/scala", f"{BENCH}/src", f"{BENCH}/build.sbt", f"{BENCH}/project/build.properties"):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless perfbench/target holds a build of these
    sources; returns the runtime classpath."""
    stamp = f"{BENCH}/target/perfbench.stamp"
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            built, cp = fh.read().split("\n", 1)
        if built == digest:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    out = subprocess.run(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                         capture_output=True, text=True, timeout=840)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    cp = [l for l in out.stdout.splitlines() if not l.startswith("[")][-1].strip()
    with open(stamp, "w") as fh:
        fh.write(digest + "\n" + cp)
    return cp


def oracle_failures(result, inp, work):
    """Mismatches of the checked step outputs against DuckDB, as
    tools/crosscheck.py reports them (MISS lines are steps the JVM already
    counted as failed)."""
    if not result["oracle_queries"]:
        return 0, []
    sys.path.insert(0, os.path.abspath("tools"))
    import crosscheck
    os.environ.update(CC_SPILL=f"{work}/duckdb", CC_MEM="2GB", CC_THREADS="2")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        crosscheck.main(inp, result["oracle_output"], set(result["oracle_queries"]))
    bad = [l for l in buf.getvalue().splitlines()
           if l.startswith("[") and not l.startswith(("[ OK ]", "[MISS]"))]
    return len(bad), bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--smoke", type=int, choices=(0, 1), default=0,
                    help="tiny inputs, for the smoke test")
    a = ap.parse_args()
    if a.workload not in SIZES:
        fail(f"unknown workload {a.workload}; one of {', '.join(SIZES)}")
    if not (os.path.isfile("BENCHMARK.json") and os.path.isdir("src/main/scala/graft")
            and os.path.isdir("tools")):
        fail("run from the root of a graft checkout")
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    cp = build()

    work = os.path.abspath(f".perfbench/run-{os.getpid()}")
    try:
        for d in ("tmp", "scratch", "spark-local"):
            os.makedirs(f"{work}/{d}")
        # set-up part 1: generate the seeded input several times, keep the last
        gen_s = []
        for r in range(SETUP_REPS):
            t = time.perf_counter()
            rows = gen.generate(f"{work}/in{r}", a.seed, *(SMOKE_SIZES if a.smoke else SIZES)[a.workload])
            gen_s.append(time.perf_counter() - t)
        inp = f"{work}/in{SETUP_REPS - 1}"
        inputs = {f"{t}.rows": n for t, n in rows.items() if n}
        inputs["bytes"] = sum(os.path.getsize(f"{inp}/{f}") for f in os.listdir(inp))
        t0_ms = int(time.time() * 1000)
        env = dict(os.environ, SPARK_GRAFT_SCRATCH=f"{work}/scratch")
        cmd = ["java", *JAVA_OPENS, *JVM_HEAP, f"-Djava.io.tmpdir={work}/tmp",
               "-Dspark.ui.enabled=false", f"-Dspark.local.dir={work}/spark-local",
               f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}",
               "-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace), "--input", inp,
               "--work", work, "--t0-ms", str(t0_ms)]
        with open(f"{work}/jvm.log", "w") as log:
            try:
                code = subprocess.run(cmd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                      timeout=a.seconds + JVM_ALLOWANCE_S).returncode
            except subprocess.TimeoutExpired:
                code = "a timeout"
        if code != 0 or not os.path.exists(f"{work}/result.json"):
            with open(f"{work}/jvm.log") as fh:
                sys.stderr.write(fh.read()[-6000:])
            fail(f"benchmark JVM ended with {code}")
        with open(f"{work}/result.json") as fh:
            result = json.load(fh)
        n_bad, bad = oracle_failures(result, inp, work)
        failed = result["failed"] + n_bad
        if a.trace:
            os.makedirs(".perfbench/traces", exist_ok=True)
            trace = f".perfbench/traces/{a.workload}-seed{a.seed}.spans.jsonl"
            shutil.copyfile(f"{work}/spans.jsonl", trace)
        result["metrics"]["setup_s"] += statistics.median(gen_s)
        kind = "per_layer" if a.trace else "end_to_end"
        source = result["per_layer" if a.trace else "metrics"]
        # a layer this workload does not exercise reads 0
        metrics = {m["name"]: {"value": source.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec[kind]}
        context = {"inputs": inputs, **{k: result[k] for k in ("samples", "latency", "controls")}}
        context["not_exercised"] = [m["name"] for m in spec[kind] if m["name"] not in source]
        context["errors"] = result["errors"] + bad
        if a.trace:
            context["spans"] = trace
        print(json.dumps({"context": context}))
        print(json.dumps({"correct": failed == 0, "attempted": result["attempted"],
                          "failed": failed, "metrics": metrics}))
        sys.exit(0 if failed == 0 else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(".perfbench")


if __name__ == "__main__":
    main()

