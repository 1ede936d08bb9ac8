#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. The first call builds the engine together
with the benchmark JVM code (sbt, offline) into `.bench_build/`; later
calls reuse that build until a source file changes. Each run generates
its inputs from the seed into an empty run directory, runs the workload
in a fresh JVM (Spark local[4]), checks the outputs, deletes the run
directory, and prints two lines: a stamped full record, then the result
line `{"correct", "attempted", "failed", "metrics"}`.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN = os.path.join(BUILD, "run")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep perfbench/ free of __pycache__

CORES = 4
HEAP = "3g"
# The lane workloads read fixed tables, as the project's fixtures are fixed:
# each run generates them from the fixtures' seed, whatever --seed says.
TABLE_SF = 0.01
TABLE_SEED = 42
CORPUS_DOCS = 10_000
BUILD_TIMEOUT_S = 840
JVM_TIMEOUT_S = 160
# the workloads outside BENCHMARK.json are longer (iterative_lanes: minutes)
MANUAL_JVM_TIMEOUT_S = 1200

WORKLOADS = ("tick_stream", "etl_lanes", "iterative_lanes", "dedup_corpus")
BENCHMARK_WORKLOADS = ("tick_stream", "dedup_corpus")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
}

DEDUP_LANES = ["x2_dedup_e2e", "x9_curation_e2e"]

PER_LAYER = {
    "queries.build_s": "s", "queries.build_jobs": "count", "plans.plan_s": "s",
    "spark.jobs": "count", "spark.sql_execs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.driver_gap_s": "s", "spark.storage_mb_peak": "MB",
    "spark.retained_storage_mb": "MB", "spark.gc_s": "s", "spark.scan_rows": "count",
    "spark.scan_bytes": "B", "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B", "spark.shuffle_fetch_wait_s": "s",
    "spark.task_s": "s", "spark.cpu_s": "s", "spark.spill_bytes": "B",
    "spark.busy_share": "share", "jvm.retained_heap_mb": "MB",
    "ops.minhash_s": "s", "ops.lsh_candidates_s": "s", "ops.candidate_pairs": "count",
    "ops.candidate_useful_share": "share",
    "sources.ticks_per_s": "1/s", "sources.ingest_backlog_max": "count",
    "sources.publish_calls": "count", "sources.publish_failed": "count",
    "sources.publish_ms_p50": "ms", "sources.publish_ms_p99": "ms",
    "gen.late_ms_p99": "ms",
    "streaming.batches": "count", "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms", "streaming.planning_ms_p50": "ms",
    "streaming.offsets_ms_p50": "ms", "streaming.wal_ms_p50": "ms",
    "streaming.rows_per_batch_p50": "count", "streaming.state_rows": "count",
    "self.queries_s": "s", "self.plans_s": "s", "self.spark_s": "s",
    "self.gen_s": "s", "self.sources_s": "s", "self.streaming_s": "s",
    "trace.overhead_share": "share",
}
for _lane in DEDUP_LANES:
    PER_LAYER[f"lane.{_lane}.wall_s"] = "s"


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "src", "test", "scala", "graft", "sources",
                          "LoopbackAmqpBroker.scala")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_digest():
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Classpath of the benchmark JVM, building first if sources changed."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log("building engine + benchmark (sbt, offline)")
    t = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=sbt_env(), capture_output=True, text=True,
                       timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1] and "classes" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("build failed")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    log(f"built in {time.time() - t:.1f} s")
    return classpath


def java_cmd(classpath, main, args, tmp):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false"] + opens +
            ["-cp", classpath, main] + [str(a) for a in args])


def commit_id():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()[:12]
    except OSError:
        pass
    return "src-" + source_digest()[:12]


def next_run_index():
    path = os.path.join(BUILD, "run_index")
    n = 0
    if os.path.exists(path):
        with open(path) as f:
            n = int(f.read().strip() or 0)
    with open(path, "w") as f:
        f.write(str(n + 1))
    return n


def run(args):
    classpath = build()
    run_index = next_run_index()
    shutil.rmtree(RUN, ignore_errors=True)
    data, out, tmp = (os.path.join(RUN, d) for d in ("data", "out", "tmp"))
    for d in (data, out, tmp):
        os.makedirs(d)
    t0_ms = int(time.time() * 1000)
    try:
        if args.workload in ("etl_lanes", "iterative_lanes"):
            import gen
            gen.tables(data, TABLE_SF, TABLE_SEED)
        elif args.workload == "dedup_corpus":
            import gen
            gen.corpus(data, CORPUS_DOCS, args.seed)
        cmd = java_cmd(classpath, "perfbench.Main",
                       [args.workload, args.seed, args.seconds, args.trace, data, out,
                        t0_ms, CORES], tmp)
        t_jvm = time.time()
        timeout = JVM_TIMEOUT_S if args.workload in BENCHMARK_WORKLOADS else MANUAL_JVM_TIMEOUT_S
        proc = subprocess.run(cmd, cwd=RUN, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=timeout)
        log(f"inputs {t_jvm - t0_ms / 1000:.1f} s, JVM {time.time() - t_jvm:.1f} s")
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
        if proc.returncode != 0:
            res["errors"].append(f"benchmark JVM exited {proc.returncode}")
            res["failed"] += 1
        if res["oracle"]:
            import check
            t_check = time.time()
            results = check.check_lanes(data, os.path.join(out, "lanes"), res["oracle"], tmp)
            bad = {k: v for k, v in results.items() if v}
            res["attempted"] += len(results)
            res["failed"] += len(bad)
            res["errors"] += [f"{k} output check: {v}" for k, v in sorted(bad.items())]
            res["info"]["lanes_checked"] = len(results)
            log(f"output checks {time.time() - t_check:.1f} s")
        if args.trace == 1 and os.path.exists(os.path.join(out, "spans.jsonl")):
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(out, "spans.jsonl"),
                        os.path.join(traces, f"{args.workload}.spans.jsonl"))
    finally:
        shutil.rmtree(RUN, ignore_errors=True)
    return res, run_index


def benchmark_json_agrees():
    """BENCHMARK.json names exactly the metrics this script prints."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ok = True
    for key, ours in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        theirs = {m["name"]: m["unit"] for m in spec[key]}
        if theirs != ours:
            ok = False
            log(f"BENCHMARK.json {key} differs from run.py: "
                f"{sorted(set(theirs.items()) ^ set(ours.items()))}")
    names = tuple(w["name"] for w in spec["workloads"])
    if names != BENCHMARK_WORKLOADS:
        ok = False
        log(f"BENCHMARK.json workloads {names} != {BENCHMARK_WORKLOADS}")
    print(("ok  " if ok else "FAIL") + " BENCHMARK.json agrees with run.py")
    return ok


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    args = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("engine sources (src/main/scala/graft) not found: run from a repository checkout")
        return 2
    if args.selftest:
        if not benchmark_json_agrees():
            return 1
        tmp = os.path.join(BUILD, "selftest")
        os.makedirs(tmp, exist_ok=True)
        return subprocess.run(java_cmd(build(), "perfbench.SelfTest", [], tmp)).returncode
    if not args.workload:
        p.error("--workload is required")

    res, run_index = run(args)
    wanted = PER_LAYER if args.trace else END_TO_END
    got = res["layers"] if args.trace else res["metrics"]
    missing = [] if args.trace else [k for k in wanted if k not in got]
    metrics = {k: {"value": got.get(k, 0.0), "unit": u} for k, u in wanted.items()}
    failed = res["failed"] + len(missing)
    record = {
        "stamp": {"commit": commit_id(),
                  "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                  "host": platform.node(), "nproc": os.cpu_count(),
                  "spark_cores": CORES, "max_heap_mb": res["info"].get("max_heap_mb"),
                  "seed": args.seed, "workload": args.workload,
                  "traced": bool(args.trace), "run_index": run_index},
        "failed_share": failed / max(1, res["attempted"]),
        "end_to_end": res["metrics"], "layers": res["layers"], "info": res["info"],
        "errors": res["errors"] + [f"metric {k} not measured" for k in missing],
    }
    line = json.dumps(record, sort_keys=False)
    with open(os.path.join(BUILD, "results.jsonl"), "a") as f:
        f.write(line + "\n")
    print(line)
    print(json.dumps({"correct": failed == 0, "attempted": max(1, res["attempted"]),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
