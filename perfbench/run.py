#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run compiles the engine
(src/main/scala) and the harness (perfbench/scala) with the Scala compiler
that ships in Spark's jars, into .bench_build/. Seeded inputs are cached
there per workload and seed. The JVM runs the workload from one
closed-loop client thread at local[nproc]; this script then checks the
outputs and prints a report line and, last, the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402

WORKLOADS = ("pipeline", "neardup", "index_lifecycle", "stream_ingest")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_ms": "ms",
    "stored_bytes_ratio": "ratio",
    "retained_heap_mb": "MiB",
}

# per-layer metrics every workload reports; values are per op
PER_LAYER = {
    "driver.jobs": "count", "driver.stages": "count", "driver.only_ms": "ms",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms", "plans.planning_ms": "ms",
    "plans.codegen_compiles": "count", "plans.codegen_ms": "ms",
    "operators.tasks": "count", "operators.task_ms": "ms", "operators.cpu_ms": "ms",
    "operators.deser_ms": "ms", "operators.core_util": "ratio",
    "operators.shuffle_read_bytes": "bytes", "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes", "operators.failed_tasks": "count",
    "fs.list_calls": "count", "fs.status_calls": "count", "fs.opens": "count",
    "fs.creates": "count", "fs.renames": "count", "fs.deletes": "count",
    "fs.bytes_read": "bytes", "fs.bytes_written": "bytes",
    "jvm.gc_ms": "ms", "jvm.jit_ms": "ms", "jvm.code_cache_mb": "MiB",
    "llm.live_deltas": "count", "llm.pairs_out": "count",
    "streaming.batches": "count", "streaming.data_batch_ratio": "ratio",
    "streaming.state_rows": "count", "streaming.state_memory_bytes": "bytes",
    "streaming.late_rows_dropped": "count",
    "trace.overhead_s": "s",
}

# per-layer times of layers only some workloads run: reported in the
# report line, where a workload that does not run the layer leaves them out
LAYER_ONLY = {
    "llm.probe_ms": "ms", "llm.fold_ms": "ms", "llm.append_ms": "ms", "llm.search_ms": "ms",
    "llm.forget_ms": "ms", "llm.compact_ms": "ms", "llm.vacuum_ms": "ms",
    "llm.minhash_ms": "ms", "llm.simhash_ms": "ms", "llm.ngram_ms": "ms",
    "llm.containment_ms": "ms", "llm.tfidf_ms": "ms",
    "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.latest_offset_ms": "ms",
    "streaming.get_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.state_commit_ms": "ms",
}
LAYER_OF = {"pipeline": (), "neardup": ("llm.",), "index_lifecycle": ("llm.",),
            "stream_ingest": ("streaming.",)}

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

RUN_TIMEOUT_S = 170
KEEP_SEEDS = 3


def fail(msg):
    print(f"[bench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no Spark found: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"{jars} holds no scala-compiler jar")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources(root):
    found = sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))
    if not found:
        fail(f"no Scala sources under {root}")
    return found


def scalac(jars, classpath, out, files, log):
    os.makedirs(out, exist_ok=True)
    # -UsePerfData: the JVM would otherwise write its perf file to the system temp dir
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    cmd += (["-cp", classpath] if classpath else []) + files
    with open(log, "w") as f:
        r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"compile failed ({out})")


def build(build_dir, bench_dir, jars):
    """Compile the engine and the harness unless the sources are unchanged."""
    engine = sources(os.path.join("src", "main", "scala"))
    harness = sources(os.path.join(bench_dir, "scala"))
    h = hashlib.sha256()
    for f in engine + harness:
        h.update(f.encode())
        h.update(open(f, "rb").read())
    h.update(os.path.basename(glob.glob(os.path.join(jars, "spark-core_*.jar"))[0]).encode())
    stamp = os.path.join(build_dir, "classes.sha256")
    classes = os.path.join(build_dir, "classes")
    harness_out = os.path.join(build_dir, "harness")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes, harness_out
    for d in (classes, harness_out):
        shutil.rmtree(d, ignore_errors=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    t = time.time()
    scalac(jars, None, classes, engine, os.path.join(build_dir, "compile-engine.log"))
    scalac(jars, classes, harness_out, harness, os.path.join(build_dir, "compile-harness.log"))
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    print(f"[bench] built in {time.time() - t:.1f}s", file=sys.stderr)
    return classes, harness_out


def heap():
    """Half of MemTotal, clamped to 2-8 GiB."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def data_dir(build_dir, workload, scale, seed):
    """Seeded input cache, keyed by the build too (the generators are part
    of it); the few most recently used entries are kept."""
    root = os.path.join(build_dir, "data")
    build = open(os.path.join(build_dir, "classes.sha256")).read()[:12]
    d = os.path.join(root, f"{workload}-{scale}-{build}-seed{seed}")
    os.makedirs(root, exist_ok=True)
    prefix = f"{workload}-{scale}-"
    old = sorted((p for p in glob.glob(os.path.join(root, prefix + "*")) if p != d),
                 key=os.path.getmtime)
    for p in old[:max(0, len(old) - (KEEP_SEEDS - 1))]:
        shutil.rmtree(p, ignore_errors=True)
    if os.path.isdir(d):
        os.utime(d)
    return d


def run_jvm(args, build_dir, classes, harness, jars, data, work):
    # Spark's scratch space and the native libraries it unpacks: fresh per run
    tmp = os.path.join(build_dir, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    spans = os.path.join(build_dir, "traces", f"{args.workload}-seed{args.seed}.spans.json")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    mem = heap()
    cmd = [java(), f"-Xmx{mem}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.driver.host=localhost"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if args.trace:
        cmd.append("-Dspark.hadoop.fs.file.impl=graftbench.CountingLocalFs")
    cmd += ["-cp", os.pathsep.join([harness, classes, os.path.join(jars, "*")]),
            "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--scale", args.scale,
            "--data", data, "--work", work, "--out", out, "--spans", spans]
    log = os.path.join(build_dir, f"{args.workload}.log")
    launched = time.time()
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=tmp)
        try:
            code = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S}s (log: {log})")
    if code != 0 or not os.path.exists(out):
        sys.stderr.write(open(log, errors="replace").read()[-6000:])
        fail(f"JVM exited with {code} (log: {log})")
    with open(out) as f:
        res = json.load(f)
    res["launched_s"] = launched
    return res


def tail(values):
    """Highest percentile with at least 10 samples beyond it: (value, pct)."""
    v = sorted(values)
    if len(v) < 20:
        return None, None
    return v[len(v) - 11], 100.0 * (len(v) - 10) / len(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full")
    args = ap.parse_args()

    bench_dir = os.path.relpath(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isdir(os.path.join("src", "main", "scala")):
        fail("run from the root of a graft checkout (src/main/scala not found)")
    build_dir = os.path.abspath(".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars()
    classes, harness = build(build_dir, bench_dir, jars)
    data = data_dir(build_dir, args.workload, args.scale, args.seed)
    work = os.path.join(build_dir, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = run_jvm(args, build_dir, classes, harness, jars, data, work)

    problems = checks.run(res, data)
    shutil.rmtree(work, ignore_errors=True)
    ops = res["ops"]
    failed_ids = {o["id"] for o in ops if not o["ok"] or o["error"]} | set(problems)
    for op_id, why in sorted(problems.items()):
        print(f"[bench] op {op_id} output check failed: {why}", file=sys.stderr)
    attempted = len(ops)
    failed = len(failed_ids)

    untraced = [r["ms"] / 1000 for r in res["rounds"] if not r["traced"]]
    traced = [r["ms"] / 1000 for r in res["rounds"] if r["traced"]]
    lat = [o["ms"] for o in ops if not o["traced"]]
    tail_ms, tail_pct = tail(lat)
    e2e = {
        "setup_s": res["jvm_start_ms"] / 1000 - res["launched_s"] + res["setup_ms"] / 1000,
        "wall_s": statistics.median(untraced),
        "op_p50_ms": statistics.median(lat),
        "stored_bytes_ratio": res["stored_bytes"] / max(1, res["input_bytes"]),
        "retained_heap_mb": res["heap_mb"],
    }
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": res["cores"], "inputs": res["inputs"],
        "error_rate": {"value": failed / attempted, "unit": "ratio"},
        "op_samples": len(lat), "rounds": len(res["rounds"]),
        "ops_by_name": ops_by_name(ops),
        "input_bytes": res["input_bytes"], "stored_bytes": res["stored_bytes"],
        "gen_s": res["gen_ms"] / 1000, "warmup_s": res["warmup_ms"] / 1000,
    }
    if args.trace:
        layers = dict(res["layers"])
        # the first round is left out: it runs slower than later ones
        later = [r["ms"] / 1000 for r in res["rounds"][1:] if not r["traced"]]
        layers["trace.overhead_s"] = statistics.median(traced) - statistics.median(later)
        layers["llm.pairs_out"] = pairs_out(res)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        report["layers"] = dict(metrics)
        for k, u in LAYER_ONLY.items():
            if k.startswith(LAYER_OF[args.workload]):
                report["layers"][k] = {"value": layers[k], "unit": u}
        if args.workload == "index_lifecycle":
            report["llm.fold_ms_by_depth"] = res["fold_ms_by_depth"]
        report["wall_s_untraced"] = statistics.median(untraced)
        report["wall_s_traced"] = statistics.median(traced)
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        report["metrics"] = dict(metrics)
        # reported only when at least 20 ops ran, so not in the result line
        if tail_ms is not None:
            report["metrics"]["op_tail_ms"] = {"value": tail_ms, "unit": "ms"}
            report["op_tail_pct"] = tail_pct
    print(json.dumps(report))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def ops_by_name(ops):
    by = {}
    for o in ops:
        by.setdefault(o["name"], []).append(o["ms"])
    return {k: {"n": len(v), "p50_ms": statistics.median(v)} for k, v in by.items()}


def pairs_out(res):
    """Pairs returned per op by the similarity kernels and probes."""
    n = sum(len(c.get("pairs", [])) for c in res["checks"]) + sum(
        c.get("rows", 0) for c in res["checks"] if c["kind"] == "neardup")
    return n / max(1, len(res["ops"]))


if __name__ == "__main__":
    main()
