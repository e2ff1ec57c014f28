#!/usr/bin/env python3
"""Benchmark of the paper's ETL pipeline and the query library.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the
program and the benchmark's own JVM harness into `.bench_build/`; later
runs reuse the build while the sources are unchanged. Each run
generates its inputs from the seed, starts one JVM that sets up a Spark
session (`local[<cpus>]`), runs one untimed warm-up pass and then timed
passes for `--seconds`, checks the outputs, and prints every metric by
name and unit. The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`; with `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones
(see perfbench/METRICS.md). A full artifact, with the spans of a traced
run, goes to `.bench_build/perfbench/artifacts/`.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_TIMEOUT_S = 150

# One pass of `query_mix` runs these queries, in an order the seed
# shuffles: the relational and sketch family, the curation operators
# and real Structured Streaming drains. Each family keeps its
# cheapest-to-warm members that still reach its modules, because a run
# must fit its cold set-up, its timed passes and its checks in under a
# minute (see METRICS.md for the queries left out).
MIX = {
    "relational": ["q1_agg", "j1_fact_dims", "j4_asof_join", "an38_hll_rollup"],
    "curation": ["d2_minhash_lsh", "t9_tfidf", "an15_pagerank"],
    "streaming": ["e12_stream_dedup"],
}
WORKLOADS = ["etl_articles", "query_mix"]
ETL_ARTICLES = 2000
TABLE_SF = 0.01
MODULES = ["CoreRelational", "FilterProject", "ScalarFuncs", "EventQueries",
           "StarSchemaQueries", "TextPipeline", "SourceQueries",
           "CurationQueries", "ScaleOps", "AdvancedOps"]

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("query_p50_s", "s"),
              ("peak_rss_mb", "MB")]
ETL_LAYERS = [("etl.ingest_s", "s"), ("etl.clean_s", "s"), ("etl.star_s", "s"),
              ("etl.write_csv_s", "s"), ("etl.write_insert_s", "s"),
              ("etl.write_jsonl_s", "s"), ("etl.input_scans", "ratio"),
              ("etl.jobs", "count"), ("etl.out_bytes_per_in_byte", "ratio")]
STREAM_LAYERS = [("stream.batches", "count"), ("stream.trigger_ms", "ms"),
                 ("stream.commit_ms", "ms"), ("stream.state_commit_ms", "ms"),
                 ("stream.first_progress_s", "s")]
SPARK_LAYERS = [("spark.jobs", "count"), ("spark.tasks", "count"),
                ("spark.empty_task_frac", "ratio"), ("spark.task_s", "s"),
                ("spark.cpu_s", "s"), ("spark.gc_s", "s"),
                ("spark.busy_frac", "ratio"), ("spark.skew", "ratio"),
                ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"),
                ("spark.peak_exec_mem_mb", "MB"), ("spark.input_mb", "MB"),
                ("spark.output_mb", "MB"), ("spark.failed_tasks", "count"),
                ("spark.rdds_left", "count")]
TRACE_LAYERS = [("trace.pass_s", "s"), ("trace.remainder_s", "s"),
                ("trace.untraced_pass_s", "s"), ("trace.overhead_s", "s")]


def per_layer():
    """Every per-layer metric as (name, unit), in reporting order."""
    queries = [(f"q.{q}_s", "s") for family in MIX.values() for q in family]
    modules = [(f"module.{m}_s", "s") for m in MODULES]
    return (ETL_LAYERS + queries + modules + STREAM_LAYERS + SPARK_LAYERS
            + TRACE_LAYERS)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME, else the one
    bundled with the pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            pass
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark distribution with a Scala compiler (SPARK_HOME={home})")
    return os.path.join(jars, "*")


def build():
    """Compile the program's main sources and the harness with the Scala
    compiler that ships with Spark; return the runtime classpath."""
    main_srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                                 recursive=True))
    if not main_srcs:
        fail(f"no program sources under {ROOT}/src/main/scala")
    harness_srcs = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    resources = os.path.join(ROOT, "src/main/resources")
    jars = spark_jars()
    digest = hashlib.sha1()
    for path in main_srcs + harness_srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    out = os.path.join(BUILD, "classes-" + digest.hexdigest()[:16])
    classpath = os.pathsep.join([os.path.join(out, "harness"),
                                 os.path.join(out, "main"), resources, jars])
    if os.path.exists(os.path.join(out, "done")):
        return classpath
    shutil.rmtree(out, ignore_errors=True)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    scalac = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
              "scala.tools.nsc.Main", "-nowarn"]
    for dest, cp, srcs in ((os.path.join(out, "main"), jars, main_srcs),
                           (os.path.join(out, "harness"),
                            os.pathsep.join([os.path.join(out, "main"), jars]),
                            harness_srcs)):
        os.makedirs(dest)
        r = subprocess.run(scalac + ["-classpath", cp, "-d", dest] + srcs,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            print(r.stdout[-4000:], file=sys.stderr)
            fail("build failed")
    open(os.path.join(out, "done"), "w").close()
    return classpath


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def run_jvm(classpath, args, run_dir, cores, deadline):
    env = dict(os.environ)
    env.update({"SPARK_GRAFT_CPUS": str(cores),
                "SPARK_GRAFT_STREAM_SCRATCH": os.path.join(run_dir, "stream"),
                "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local")})
    for d in ("stream", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    # a fixed heap keeps heap sizing out of peak_rss_mb; -XX:-UsePerfData
    # keeps the JVM from writing /tmp/hsperfdata_*
    cmd = ["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xmn1g", "-Xss4m",
           f"-Djava.io.tmpdir={run_dir}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness"] + args
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, cwd=run_dir)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path, errors="replace") as f:
            print(f.read()[-4000:], file=sys.stderr)
        fail(f"harness JVM exited with {rc}")


def layer_values(result, corpus_bytes):
    """Per traced pass: {metric: value} from the listeners' counters and
    the self time of the pass's spans, summed per layer. Only traced
    passes have spans; each has one root span."""
    spans = result["spans"]
    self_s = stats.self_times(spans)
    roots = [s for s in spans if s["parent"] < 0]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = []
    traced = [p for p in result["passes"] if p["traced"]]
    for p, root in zip(traced, roots):
        vals = dict(p["layers"])
        stack = list(children.get(root["id"], []))
        while stack:
            s = stack.pop()
            key = f"{s['layer']}_s"
            vals[key] = vals.get(key, 0.0) + self_s[s["id"]]
            if s["name"].startswith("q."):
                vals[f"{s['name']}_s"] = (s["end_ns"] - s["start_ns"]) / 1e9
            stack.extend(children.get(s["id"], []))
        vals["trace.remainder_s"] = self_s[root["id"]]
        vals["trace.pass_s"] = (root["end_ns"] - root["start_ns"]) / 1e9
        if corpus_bytes:
            vals["etl.input_scans"] = vals.pop("etl.input_bytes", 0.0) / corpus_bytes
            vals["etl.out_bytes_per_in_byte"] = (
                checks.tree_bytes(p["etl_out"]) / corpus_bytes)
        out.append(vals)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    with open("/proc/stat") as f:
        ticks0 = stats.cpu_ticks(f.read())
    classpath = build()
    deadline = time.monotonic() + JVM_TIMEOUT_S
    cores = len(os.sched_getaffinity(0))

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    g0 = time.monotonic()
    corpus = None
    if a.workload == "etl_articles":
        import gen_articles
        corpus = gen_articles.write(data, a.seed, ETL_ARTICLES)
        ops = []
        data = os.path.join(data, "corpus")
    else:
        import gen_tables
        gen_tables.write(data, a.seed, TABLE_SF)
        ops = [q for family in MIX.values() for q in family]
        random.Random(a.seed).shuffle(ops)
    gen_s = time.monotonic() - g0

    result_path = os.path.join(run_dir, "result.json")
    run_jvm(classpath, ["--workload", a.workload, "--data", data,
                        "--out", os.path.join(run_dir, "out"),
                        "--result", result_path, "--seconds", str(a.seconds),
                        "--trace", str(a.trace), "--cores", str(cores),
                        "--ops", ",".join(ops)], run_dir, cores, deadline)
    with open(result_path) as f:
        result = json.load(f)

    # operations and their failures: every warm-up and timed execution
    # is attempted; one fails if it threw or its output check failed
    failures = []
    executions = [("warm-up", result["warmup"])] + [
        (f"pass {i}", p) for i, p in enumerate(result["passes"])]
    attempted = 0
    for label, p in executions:
        for op in p["ops"]:
            attempted += 1
            if op["error"]:
                failures.append(f"{op['name']} ({label}): {op['error']}")
            elif corpus is not None:
                bad = checks.etl_mismatches(p["etl_out"], p["etl_counts"],
                                            corpus["tables"])
                if bad:
                    failures.append(f"EtlMain ({label}): " + "; ".join(bad))
    if corpus is None:
        ok_ops = [op["name"] for op in result["warmup"]["ops"] if not op["error"]]
        bad = checks.oracle_mismatches(data, os.path.join(run_dir, "out", "results"),
                                       result["oracle_sql"], ok_ops)
        failures += [f"{name} (oracle): {why}" for name, why in sorted(bad.items())]
    failed = len(failures)

    untraced = [p for p in result["passes"] if not p["traced"]]
    samples = [op["s"] for p in untraced for op in p["ops"]]
    pass_s = statistics.median([p["wall_s"] for p in untraced])
    e2e = {
        "setup_s": result["session_s"] + result["warmup_s"],
        "pass_s": pass_s,
        "query_p50_s": statistics.median(samples),
        "peak_rss_mb": result["vm_hwm_kb"] / 1024.0,
    }
    extra = {"failed_frac": (failed / attempted, "ratio")}
    tail = stats.p90(samples)
    if tail is not None:
        extra["query_p90_s"] = (tail, "s")
    if corpus is not None:
        extra["articles_per_s"] = (corpus["articles"] / statistics.median(samples), "1/s")

    layers = {}
    if a.trace:
        per_pass = layer_values(result, corpus["bytes"] if corpus else 0)
        for name, _ in per_layer():
            layers[name] = statistics.median([v.get(name, 0.0) for v in per_pass])
        layers["trace.untraced_pass_s"] = pass_s
        layers["trace.overhead_s"] = layers["trace.pass_s"] - pass_s

    with open("/proc/stat") as f:
        ticks1 = stats.cpu_ticks(f.read())
    host = {"cores": cores, "steal_share": stats.steal_share(ticks0, ticks1),
            "calib_start_s": result["calib_start_s"],
            "calib_end_s": result["calib_end_s"], "gen_s": gen_s,
            "loadavg": os.getloadavg()}
    units = dict(END_TO_END + per_layer())
    metrics = ({k: {"value": v, "unit": units[k]} for k, v in layers.items()}
               if a.trace else
               {k: {"value": v, "unit": units[k]} for k, v in e2e.items()})

    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "ops": ops, "corpus": corpus, "host": host,
        "end_to_end": e2e, "extra": {k: v for k, (v, _) in extra.items()},
        "layers": layers, "failures": failures, "attempted": attempted,
        "samples": len(samples), "result": result}
    os.makedirs(os.path.join(BUILD, "artifacts"), exist_ok=True)
    with open(os.path.join(BUILD, "artifacts",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(artifact, f)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(f"workload {a.workload} seed {a.seed}: {len(result['passes'])} passes, "
          f"{len(samples)} timed operations, {cores} cores")
    if corpus is not None:
        print(f"corpus: {corpus['articles']} articles, {corpus['rows']} rows, "
              f"{corpus['bytes']} bytes in {len(corpus['files'])} files")
    print(f"host: steal {host['steal_share']:.4f} of capacity, calibration "
          f"{host['calib_start_s']:.3f} s -> {host['calib_end_s']:.3f} s")
    for name, v in e2e.items():
        print(f"{name} = {v:.6g} {units[name]}")
    for name, (v, unit) in extra.items():
        print(f"{name} = {v:.6g} {unit}")
    if "query_p90_s" not in extra:
        print(f"query_p90_s: not reported, fewer than 10 of {len(samples)} samples beyond it")
    for name, v in layers.items():
        print(f"{name} = {v:.6g} {units[name]}")
    for f in failures:
        print(f"FAILED {f}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
