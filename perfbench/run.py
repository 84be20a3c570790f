#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload uba_reports --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Builds the engine and the benchmark's own
Scala sources with the Scala compiler in the Spark distribution (cached
under .bench_build/ by source hash), generates the workload's inputs from
the seed, runs the workload in one JVM, checks every output, and prints the
metrics. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones (and the span
file is written under .bench_build/traces/). See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402
import report  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")

CORES = 4
DEADLINE_S = 170  # every JVM of a run ends within this many seconds

WORKLOADS = {
    # exec- and io-heavy reference reports over one events table
    "uba_reports": {
        "kind": "batch", "events": 100000, "docs": 0, "vecs": 0,
        "queries": ["hot_items_topn", "order_timeout", "tx_unmatched_pays",
                    "cohort_ltv", "session_paths", "rfm_segments"]},
    # construction-heavy LLM-data-pipeline queries (jobs and ops layers)
    "curation": {
        "kind": "batch", "events": 10000, "docs": 500, "vecs": 200,
        "queries": ["ann_ivf_pq_retrained", "bm25_search",
                    "ngram_jaccard_prefix", "item_kcore"]},
    # four reference jobs as concurrent streaming queries: a backlog of
    # rate x drain_s events drained in `slices` slices, then `--seconds`
    # of open-loop traffic at `rate` events per second
    "uba_stream": {
        "kind": "stream", "rate": 45, "drain_s": 44, "slices": 3},
}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Jars of the Spark distribution: $SPARK_HOME's, else those of the
    first spark-submit on the PATH that ships the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(
            os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for h in homes:
        if h and glob.glob(os.path.join(h, "jars", "scala-compiler-*.jar")):
            return os.path.join(h, "jars")
    fail("no Spark distribution with a Scala compiler: set SPARK_HOME")


def build():
    """Compiles src/main/scala and perfbench/scala; returns the classpath."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not srcs or not os.path.exists(os.path.join(ROOT, "scripts",
                                                   "check_oracle.py")):
        fail("run from the root of a checkout: src/main/scala and "
             "scripts/check_oracle.py are needed")
    jars_dir = spark_jars()
    h = hashlib.sha256()
    for f in srcs + own:
        h.update(f.encode())
        with open(f, "rb") as src:
            h.update(src.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    jars = os.path.join(jars_dir, "*")
    if not os.path.exists(os.path.join(out, ".done")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs + own))
        scalac = ":".join(glob.glob(os.path.join(jars_dir, f"scala-{j}-*.jar"))[0]
                          for j in ("compiler", "library", "reflect"))
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", scalac,
               "scala.tools.nsc.Main",
               "-nowarn", "-d", out, "-cp", jars, "@" + argfile]
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=800)
        if p.returncode != 0:
            fail("build failed:\n" + p.stdout[-3000:] + p.stderr[-3000:])
        open(os.path.join(out, ".done"), "w").close()
    return out + ":" + jars


def cached(d, make):
    """Runs make(d) once; later calls reuse the directory."""
    if not os.path.exists(os.path.join(d, ".done")):
        shutil.rmtree(d, ignore_errors=True)
        make(d)
        open(os.path.join(d, ".done"), "w").close()
    return d


def make_tables(w, seed):
    def make(d):
        gen.generate(d, seed, w["events"], w["docs"], w["vecs"])
        bad = gen.self_check(d)
        if bad:
            fail("generator self-check: " + "; ".join(bad))
    return make


def run_jvm(cp, run_dir, args, deadline):
    """Runs the harness in a fresh JVM with its own scratch space under
    `run_dir`; returns its result.json, or None if it failed."""
    work = os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"))
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd = (["java"] + opens + ["-Xmx3g", "-XX:-UsePerfData",
                               f"-Djava.io.tmpdir={work}/tmp",
                               "-cp", cp, "perfbench.Harness",
                               "--out", run_dir, "--work", work] + args)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = "a timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    try:
        with open(os.path.join(run_dir, "result.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        with open(log) as f:
            print(f"perfbench: JVM ended with {code}:\n{f.read()[-3000:]}",
                  file=sys.stderr)
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()
    w = WORKLOADS[a.workload]
    cp = build()
    deadline = time.time() + DEADLINE_S

    def harness(trace, cores):
        return ["--workload", a.workload, "--seconds", str(a.seconds),
                "--trace", str(trace), "--cores", str(cores)] + extra

    if w["kind"] == "batch":
        data = cached(os.path.join(BUILD, "data", f"{a.workload}-{a.seed}"),
                      make_tables(w, a.seed))
        canary = cached(os.path.join(BUILD, "data", "canary"),
                        lambda d: gen.generate(d, 0, docs=5000))
        extra = ["--data", data, "--queries", ",".join(w["queries"]),
                 "--canary", os.path.join(canary, "documents.parquet")]
    else:
        key = f"{a.workload}-{a.seed}-{w['rate']}x{w['drain_s']}+{a.seconds:g}"
        data = cached(os.path.join(BUILD, "data", key),
                      lambda d: gen.write_stream(d, a.seed, w["rate"],
                                                 w["drain_s"], a.seconds))
        extra = ["--data", data, "--slices", str(w["slices"])]
    runs = os.path.join(BUILD, "runs", str(os.getpid()))
    try:
        r = run_jvm(cp, os.path.join(runs, "main"), harness(a.trace, CORES),
                    deadline)
        if r is None:
            fail("the workload did not finish", 1)
        single = None
        if a.trace and w["kind"] == "stream":
            # the same drain on local[1]: the single-threaded baseline
            one = run_jvm(cp, os.path.join(runs, "1core"),
                          harness(0, 1) + ["--drain-only", "1"], deadline)
            if one is None:
                fail("the single-core drain did not finish", 1)
            single = one
        out = report.evaluate(a.workload, w, r, data,
                              os.path.join(runs, "main"), ROOT, CORES,
                              traced=bool(a.trace), single_core=single)
    finally:
        shutil.rmtree(runs, ignore_errors=True)
    spans = out.pop("spans")
    if a.trace:
        trace_dir = os.path.join(BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{a.workload}-{a.seed}.json")
        with open(path, "w") as f:
            json.dump(spans, f)
        print(f"spans written to {os.path.relpath(path, ROOT)}")
    for line in out.pop("lines"):
        print(line)
    print(json.dumps(out))


if __name__ == "__main__":
    # a terminated run still stops its JVMs (the finally blocks above)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
