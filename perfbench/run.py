#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--cores <n>]

Run from the root of a checkout. It builds the engine and the benchmark
program (perfbench/build.sbt) once per source state, generates the
workload's corpus from the seed (perfbench/gen.py), runs the program in
one JVM, checks every key's result against DuckDB running the engine's
own oracle SQL, and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. Everything it writes lives under `.bench_build/` (or
$CARGO_TARGET_DIR) in the checkout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

# Each workload: its keys (run in this order), corpus copies (x10 for
# scan), and whether its fixture root is emptied before every pass.
# README.md gives the rationale for each list.
WORKLOADS = {
    "scan_x10": {
        "copies": 10, "cold": False,
        "keys": ["wc_wordcount", "q6_scanagg", "q44_grouptopk", "ev_asof_native",
                 "ev_interval_native"],
    },
    "rounds_sf0.1": {
        "copies": 1, "cold": False,
        "keys": ["wc_cc", "wc_lpa"],
    },
    "ingest_cold_sf0.1": {
        "copies": 1, "cold": True,
        "keys": ["src_csv", "src_jsonl", "src_warc", "q37_zorder", "wc_files", "mm_frames"],
    },
}

END_TO_END = {"wall_s": "s", "setup_s": "s", "cpu_s": "s", "heap_retained_mb": "MB"}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# No kept key reads the graph-ANN beam (only ann_graph_search and
# ann_graph_search_pq do), so it is pinned at the engine's floor for a
# 2 000-vector corpus (3 x degree 16). Unpinned, Dials.init runs the
# beam-calibration probe, ~30 s per fresh corpus, which every seed is.
PINNED_DIALS = {"SPARK_GRAFT_GRAPH_BEAM": "48"}

HEAP = "3g"
RUN_LIMIT_S = 170  # a run must end within 180 s; keep a margin


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.abspath(os.path.join(ROOT, d))


def source_stamp():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for dp, dn, fn in os.walk(r):
            dn.sort()
            files += [os.path.join(dp, f) for f in sorted(fn)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def oracle_cache():
    return os.path.join(build_dir(), "oracle")


def ensure_build(bdir):
    """Compile engine + benchmark program with sbt once per source state; returns
    the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: the engine's {need} is missing from {ROOT}")
    stamp = source_stamp()
    cp_file = os.path.join(bdir, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("perfbench: building engine and benchmark program with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        log(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = lines[-1].strip()
    os.makedirs(bdir, exist_ok=True)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


def ensure_corpus(bdir, workload, seed):
    """The workload's corpus for this seed (generated once per seed; older
    seeds' corpora are removed). Returns (dir, {table: [rows, bytes]}, digest)."""
    spec = WORKLOADS[workload]
    wdir = os.path.join(bdir, "data", workload)
    ddir = os.path.join(wdir, f"seed-{seed}")
    meta = os.path.join(ddir, "_corpus.json")
    if not os.path.exists(meta):
        if os.path.isdir(wdir):
            for old in os.listdir(wdir):
                shutil.rmtree(os.path.join(wdir, old), ignore_errors=True)
        base = gen.base_corpus(os.path.join(bdir, "data", "base"))
        sizes = gen.salted_corpus(base, ddir, seed, spec["copies"])
        digest = oracle.input_digest(ddir, gen.TABLES)
        with open(meta, "w") as f:
            json.dump({"tables": sizes, "digest": digest}, f)
    with open(meta) as f:
        m = json.load(f)
    return ddir, m["tables"], m["digest"]


def run_jvm(classpath, workload, data, digest, out, work, seconds, cores, trace, deadline):
    """Run the benchmark JVM. While its check pass runs, compute (and
    cache) the DuckDB oracle results for the workload's keys; the JVM
    starts its timed passes only after that. Returns the JVM's result."""
    spec = WORKLOADS[workload]
    for d in ("tmp", "spark-local"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
        os.makedirs(os.path.join(work, d))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    sql_file, done_file = os.path.join(out, "oracle_sql.json"), os.path.join(out, "oracle.done")
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens +
           # a fixed-size heap, as a deployed engine runs: grown from the
           # default initial size, the heap's early passes ran ~1.5x slower
           # and drifted from pass to pass while the young generation grew
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UnlockDiagnosticVMOptions",
            "-XX:GCLockerRetryAllocationCount=64",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graftbench.Main",
            "--data", data, "--out", out, "--keys", ",".join(spec["keys"]),
            "--seconds", str(seconds), "--cores", str(cores), "--trace", str(trace),
            "--cold", "1" if spec["cold"] else "0",
            "--oracle-wait", done_file,
            "--local-dir", os.path.join(work, "spark-local")])
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(PINNED_DIALS)
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            while p.poll() is None and not os.path.exists(sql_file) and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(sql_file):
                t0 = time.time()
                with open(sql_file) as f:
                    sqls = json.load(f)
                for sql in sqls.values():
                    try:
                        oracle.expected(sql, data, digest, oracle_cache(), cores)
                    except Exception:  # reported by the check of that key
                        pass
                log(f"perfbench: oracle {time.time() - t0:.1f} s")
            open(done_file, "w").close()
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit("perfbench: the benchmark JVM exceeded the run time limit")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    res = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res):
        with open(os.path.join(out, "jvm.log")) as f:
            log(f.read()[-4000:])
        raise SystemExit(f"perfbench: the benchmark JVM failed (exit {rc})")
    with open(res) as f:
        return json.load(f)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def per_key(passes, field):
    """{key: median of field over the given passes}, successful runs only."""
    keys = passes[0]["keys"].keys() if passes else []
    return {k: med([float(p["keys"][k][field]) for p in passes if p["keys"][k]["ok"]])
            for k in keys}


# Per-layer metrics summed over a traced pass's keys (per-key medians
# over traced passes), with their units.
LAYER_SUMS = {
    "operators.build_s": "s", "operators.build_jobs": "count", "spark.catalyst.plan_s": "s",
    "spark.exec_s": "s", "spark.scheduler.jobs": "count", "spark.scheduler.stages": "count",
    "spark.scheduler.tasks": "count", "spark.scheduler.delay_s": "s", "spark.executor.run_s": "s",
    "spark.executor.cpu_s": "s", "spark.executor.gc_s": "s", "spark.shuffle.write_bytes": "B",
    "spark.shuffle.read_bytes": "B", "spark.shuffle.fetch_wait_s": "s",
    "spark.memory.spill_bytes": "B", "spark.plan.exchanges": "count",
    "spark.plan.broadcasts": "count", "sources.input_bytes": "B",
    "sources.input_records": "count", "sinks.output_bytes": "B", "sinks.output_records": "count",
    "sinks.write_s": "s", "plans.native_nodes": "count", "Pin.persisted_left": "count",
    "Pin.storage_bytes_left": "B", "Cleanup.release_s": "s", "spark.tasks.failed": "count"}
# Per-layer metrics derived from the sums or from the set-up, with units.
LAYER_DERIVED = {
    "spark.scheduler.empty_task_share": "ratio", "spark.executor.busy_share": "ratio",
    "spark.stage.skew": "ratio", "spark.memory.peak_exec_bytes": "B", "Dials.init_s": "s",
    "trace.overhead_s": "s", "trace.coverage": "ratio"}


def layer_metrics(res, cores):
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    keys = list(traced[0]["keys"].keys())

    def msum(field, passes=traced):
        return sum(per_key(passes, field).values())

    m = {name: msum(name) for name in LAYER_SUMS}
    tasks = msum("spark.scheduler.tasks")
    m["spark.scheduler.empty_task_share"] = msum("spark.scheduler.empty_tasks") / tasks if tasks else 0.0
    wall_traced = msum("wall_s")
    m["spark.executor.busy_share"] = m["spark.executor.run_s"] / (wall_traced * cores) if wall_traced else 0.0
    w = msum("spark.stage.skew_weight")
    m["spark.stage.skew"] = msum("spark.stage.skew_weighted") / w if w else 1.0
    m["spark.memory.peak_exec_bytes"] = max(
        (float(p["keys"][k]["spark.memory.peak_exec_bytes"]) for p in traced for k in keys), default=0.0)
    m["Dials.init_s"] = res["setup"]["dials_init_s"]
    m["trace.overhead_s"] = wall_traced - msum("wall_s", plain)
    span = msum("key_span_s")
    m["trace.coverage"] = msum("children_s") / span if span else 0.0
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 1)
    a = ap.parse_args(argv)
    deadline = time.time() + RUN_LIMIT_S

    bdir = build_dir()
    classpath = ensure_build(bdir)
    deadline = max(deadline, time.time() + RUN_LIMIT_S)  # a first build gets its own budget
    t0 = time.time()
    data, tables, digest = ensure_corpus(bdir, a.workload, a.seed)
    log(f"perfbench: corpus {time.time() - t0:.1f} s")
    out = os.path.join(bdir, "runs", a.workload)
    work = os.path.join(bdir, "work", a.workload)
    t0 = time.time()
    res = run_jvm(classpath, a.workload, data, digest, out, work, a.seconds,
                  a.cores, a.trace, deadline)
    log(f"perfbench: jvm {time.time() - t0:.1f} s")

    # correctness: every key's result against the DuckDB oracle
    with open(os.path.join(out, "oracle_sql.json")) as f:
        sqls = json.load(f)
    errors = dict(res["errors"])
    for p in res["passes"]:
        for k, row in p["keys"].items():
            if not row["ok"]:
                errors.setdefault(k, "threw in a timed pass")
    for k in res["keys"]:
        if k in errors:
            continue
        if k not in sqls:
            errors[k] = "no oracle SQL"
            continue
        ok, why = oracle.check(os.path.join(out, "results", k), sqls[k], data, digest,
                               oracle_cache(), a.cores)
        if not ok:
            errors[k] = why
    timed = [p for p in res["passes"] if not p["traced"]]
    execs = {k: 1 + sum(1 for p in res["passes"] if k in p["keys"]) for k in res["keys"]}
    attempted = sum(execs.values())
    failed = sum(execs[k] for k in errors)
    for k, why in errors.items():
        log(f"perfbench: {k} FAILED: {why}")

    if a.trace:
        # with no successful key there is no traced pass to read
        metrics = (layer_metrics(res, a.cores) if any(p["traced"] for p in res["passes"])
                   else {k: 0.0 for k in {**LAYER_SUMS, **LAYER_DERIVED}})
        units = {**LAYER_SUMS, **LAYER_DERIVED}
        out_metrics = {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
    else:
        wall = sum(per_key(timed, "wall_s").values())
        cpu = sum(per_key(timed, "cpu_s").values())
        s = res["setup"]
        setup = s["boot_s"] + s["session_s"] + s["dials_init_s"] + s["warmup_s"]
        vals = {"wall_s": wall, "setup_s": setup, "cpu_s": cpu,
                "heap_retained_mb": float(res["heap_retained_mb"])}
        out_metrics = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}

    summary = {"workload": a.workload, "seed": a.seed, "cores": a.cores,
               "shuffle_partitions": res["shuffle_partitions"], "passes": len(res["passes"]),
               "error_rate": {"value": failed / attempted, "unit": "ratio"},
               "tables": tables,
               "per_key_wall_s": per_key(timed, "wall_s")}
    print(json.dumps(summary))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))
    return 0


if __name__ == "__main__":
    code = main()
    # skip interpreter teardown: DuckDB's and Arrow's native thread pools
    # can abort the process while they are torn down (observed as
    # "terminate called without an active exception" after a complete
    # run); every child process has been waited for by now
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(code)
