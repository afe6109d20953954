#!/usr/bin/env python3
"""Graph engine benchmark: one closed-loop workload per run.

    python3 graphbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) and generates the input tables; later
runs reuse both from `.bench_build/`. Each run then starts one JVM
(`graphbench.Harness`) with its own `java.io.tmpdir` and `spark.local.dir`,
so no run sees another run's materialized views or checkpoints, checks every
collected result against the DuckDB oracle, and prints one JSON object as
its last stdout line. `--trace 0` reports the end-to-end metrics and
`--trace 1` the per-layer metrics and the tracing overhead; the metric
definitions are in `graphbench/README.md`.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
WORKLOADS = ["cypher_read", "graph_analytics", "graph_write"]
SF = 0.01  # scale factor of the generated tables
# Median time of one HostProbe.seconds() on the 4-vCPU host the benchmark
# was tuned on, while that host ran at its usual speed.
REF_PROBE_S = 0.011
DEADLINE_S = 170
sys.path.insert(0, HERE)


def run_child(cmd, timeout, **kw):
    """Runs a child in its own process group and returns its exit code, or
    "timeout". The whole group is killed on timeout, and when this script
    is terminated, so no process outlives the run."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)
    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return "timeout"
    finally:
        for s, h in old.items():
            signal.signal(s, h)


def log(msg):
    print(f"[graphbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def sources():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def digest_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


# The generated tables are cached under a digest of datagen.py, and the oracle
# answers under the tables' directory name plus a digest of oracle.py, so a
# change to either file regenerates what depends on it.
DATA_DIGEST = digest_of([os.path.join(HERE, "datagen.py")])
ORACLE_DIGEST = digest_of([os.path.join(HERE, "oracle.py")])


def build(deadline):
    """Compiles engine + harness unless the sources are unchanged since the
    last build. Returns the source digest, which stamps every result."""
    digest = digest_of(sources())
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return digest
    log("building engine and harness (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + " -Dsbt.offline=true"
    os.makedirs(BUILD, exist_ok=True)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], deadline - time.time(),
                       cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"sbt compile failed ({rc})")
    with open(stamp, "w") as f:
        f.write(digest)
    return digest


def dataset(sf):
    import datagen
    d = os.path.join(BUILD, "data", f"sf{sf}-{DATA_DIGEST}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        log(f"generating input tables at sf{sf}")
        tmp = f"{d}.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.generate(tmp, sf)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(os.path.dirname(d), exist_ok=True)
        os.replace(tmp, d)
    return d


def host():
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    # the repository's Tier-1 heap rule: half of MemTotal, clamped to [2, 8] GiB
    heap_g = min(8, max(2, mem_kb // 2097152))
    return {"nproc": os.cpu_count(), "mem_total_kb": mem_kb, "loadavg_before": " ".join(load),
            "heap_g": heap_g}


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return home


OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
         "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
         "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def run_jvm(args, data, run_dir, info, deadline):
    spark_home = spark_jars()
    # C1 only: with C2, compiler threads take 1.5-2 of 4 cores through a
    # whole run and the timed passes measure how far compilation got.
    # ParallelGC with a fixed heap: no concurrent GC threads, no resizing.
    cmd = ["java", f"-Xms{info['heap_g']}g", f"-Xmx{info['heap_g']}g", "-Xss16m",
           "-XX:TieredStopAtLevel=1", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}:{os.path.join(spark_home, 'jars', '*')}", "graphbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", data, "--out", run_dir]
    env = dict(os.environ, SPARK_HOME=spark_home)
    env.pop("SPARK_LOCAL_DIRS", None)  # would override the per-run spark.local.dir
    os.makedirs(os.path.join(run_dir, "tmp"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        rc = run_child(cmd, deadline - time.time(), stdout=out, stderr=subprocess.STDOUT, env=env)
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness JVM exited with {rc}")


def percentile(xs, q):
    """Harrell-Davis estimate of the q-quantile: a weighted mean of all order
    statistics, the weights being the Beta((n+1)q, (n+1)(1-q)) mass of each
    rank's cell. A workload mixes a few statements of distinct latency, so a
    single order statistic would follow one statement's noise."""
    s = sorted(xs)
    n = len(s)
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    steps = 64 * n  # midpoint rule over (0, 1), 64 steps per rank

    def pdf(x):
        return math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x) - log_beta)
    w = [0.0] * n
    for j in range(steps):
        w[j * n // steps] += pdf((j + 0.5) / steps)
    return sum(wi * x for wi, x in zip(w, s)) / sum(w)


def host_factor(probes):
    """How much slower than REF_PROBE_S the host ran during the timed passes:
    the median of the HostProbe times taken there, over REF_PROBE_S. The
    probes taken during set-up are not used: there they compete with the
    run's own start-up threads (compilation, GC), which the engine causes."""
    return statistics.median(probes) / REF_PROBE_S


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def zero_row_allowed():
    """Statements whose empty result is the expected answer, from the list
    the repository's own oracle gate (tools/selfcheck.py) uses."""
    path = os.path.join(ROOT, "tools", "zero_row_allowlist.txt")
    if not os.path.exists(path):
        return set()
    with open(path) as f:
        return {line.strip() for line in f if line.strip() and not line.startswith("#")}


def check(run_dir, data, execs):
    """Compares each distinct result with the oracle. Returns the ids of the
    executions that threw, mismatched or returned no rows (unless the
    statement is allowed an empty result), a reason per failing statement,
    and the statements whose result had no rows."""
    import oracle
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    orc = oracle.Oracle(data, os.path.join(BUILD, "oracle", f"{os.path.basename(data)}-{ORACLE_DIGEST}"))
    allowed = zero_row_allowed()
    verdict, reasons, bad, zero_row = {}, {}, set(), set()
    for e in execs:
        if e["error"] is not None:
            bad.add(e["exec"])
            reasons.setdefault(e["stmt"], e["error"])
            continue
        rid = e["result"]
        if rid not in verdict:
            sql = sqls.get(e["stmt"])
            if sql is None:
                verdict[rid] = "no oracle SQL"
            else:
                with open(os.path.join(run_dir, "results", f"{rid}.json")) as f:
                    got = json.load(f)
                verdict[rid] = oracle.compare(got, orc.expected(sql))
                if not got["rows"]:
                    zero_row.add(e["stmt"])
                    if verdict[rid] is None and e["stmt"] not in allowed:
                        verdict[rid] = "zero rows on both sides (not in tools/zero_row_allowlist.txt)"
        if verdict[rid] is not None:
            bad.add(e["exec"])
            reasons.setdefault(e["stmt"], verdict[rid])
    return bad, reasons, sorted(zero_row)


def cpu_per_statement(es):
    """Process CPU seconds per completed statement."""
    return sum(e["cpu_s"] for e in es) / max(1, sum(1 for e in es if e["error"] is None))


def statements_per_s(es):
    """Statements completed per second of summed execution wall time."""
    return sum(1 for e in es if e["error"] is None) / sum(e["wall_s"] for e in es)


def end_to_end(timed, run, h):
    """Times at the reference host speed: each measured time divided by the
    run's host factor."""
    walls = [e["wall_s"] for e in timed]
    return {
        "statements_per_s": (statements_per_s(timed) * h, "1/s"),
        "latency_p50_s": (percentile(walls, 0.5) / h, "s"),
        "latency_p90_s": (percentile(walls, 0.9) / h, "s"),
        "heap_live_peak_mb": (run["heap_live_peak_mb"], "MB"),
        "setup_s": (run["setup_s"] / h, "s"),
    }


def per_layer(timed, run, h):
    tr = [e for e in timed if e["traced"]]
    un = [e for e in timed if not e["traced"]]
    f = lambda k: mean([e[k] for e in tr])
    wall = sum(e["wall_s"] for e in tr)
    return {
        "process.cpu_s_per_statement": (cpu_per_statement(un), "s"),
        "build.wall_s": (f("build_s"), "s"),
        "build.jobs": (f("build_jobs"), "count"),
        "catalyst.analysis_s": (f("analysis_s"), "s"),
        "catalyst.optimization_s": (f("optimization_s"), "s"),
        "catalyst.planning_s": (f("planning_s"), "s"),
        "exec.jobs": (f("jobs"), "count"),
        "exec.stages": (f("stages"), "count"),
        "exec.tasks": (f("tasks"), "count"),
        "exec.driver_only_s": (f("driver_only_s"), "s"),
        "exec.task_run_s": (f("task_run_s"), "s"),
        "exec.task_cpu_s": (f("task_cpu_s"), "s"),
        "exec.core_busy_ratio": (sum(e["task_run_s"] for e in tr) / (run["cores"] * wall), "ratio"),
        "exec.shuffle_read_bytes": (f("shuffle_read_bytes"), "bytes"),
        "exec.shuffle_write_bytes": (f("shuffle_write_bytes"), "bytes"),
        "exec.spill_bytes": (f("spill_bytes"), "bytes"),
        "exec.input_bytes": (f("input_bytes"), "bytes"),
        "algo.single_task_stage_s": (f("single_task_stage_s"), "s"),
        "model.load_s": (run["load_s"], "s"),
        "model.setup_mv_builds": (run["setup_mv_builds"], "count"),
        "model.setup_mv_bytes": (run["setup_mv_bytes"], "bytes"),
        "model.mv_builds": (f("mv_builds"), "count"),
        "model.mv_bytes": (f("mv_bytes"), "bytes"),
        "jvm.gc_s": (f("gc_s"), "s"),
        "jvm.jit_s": (f("jit_s"), "s"),
        "result.rows": (f("rows"), "count"),
        "host.probe_ms": (h * REF_PROBE_S * 1e3, "ms"),
        "trace.overhead_statements_per_s": (statements_per_s(un) - statements_per_s(tr), "1/s"),
        "trace.overhead_cpu_s_per_statement": (cpu_per_statement(tr) - cpu_per_statement(un), "s"),
    }


def main():
    start = time.time()
    deadline = start + DEADLINE_S
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.exists(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}; run from a full checkout")
    info = host()
    digest = build(start + 900)
    deadline = max(deadline, time.time() + 120)
    data = dataset(SF)

    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        run_jvm(args, data, run_dir, info, deadline)
        with open(os.path.join(run_dir, "run.json")) as f:
            run = json.load(f)
        with open(os.path.join(run_dir, "execs.jsonl")) as f:
            execs = [json.loads(line) for line in f]
        bad, reasons, zero_row = check(run_dir, data, execs)
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(spans, os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    timed = [e for e in execs if e["phase"] == "timed"]
    failed = sum(1 for e in timed if e["exec"] in bad)
    warm_failed = sorted({e["stmt"] for e in execs if e["phase"] == "warmup" and e["exec"] in bad})
    samples = len([e for e in timed if not e["traced"]])
    h = host_factor([e["probe_s"] for e in timed])
    git = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    stamp = {"workload": args.workload, "seed": args.seed, "sf": SF, "source_digest": digest,
             "data_digest": DATA_DIGEST, "oracle_digest": ORACLE_DIGEST,
             "commit": git.stdout.strip() if git.returncode == 0 else None,
             "nproc": info["nproc"], "mem_total_kb": info["mem_total_kb"],
             "loadavg_before": info["loadavg_before"], "heap_g": info["heap_g"],
             "statements": len({e["stmt"] for e in execs}), "passes": run["passes"],
             "latency_samples": samples, "p90_has_10_beyond": samples >= 100,
             "error_rate": failed / len(timed), "failed_statements": reasons,
             "warmup_failed": warm_failed, "zero_row_results": zero_row,
             "host_factor": h}
    show = lambda ms: "  ".join(f"{k}={v:.6g}{u if u in ('s', 'MB') else ' ' + u}" for k, (v, u) in ms.items())
    if args.trace:
        metrics = per_layer(timed, run, h)
    else:
        metrics = end_to_end(timed, run, h)
        stamp["as_measured"] = {k: v for k, (v, _) in end_to_end(timed, run, 1).items()}
    print(json.dumps(stamp, sort_keys=True))
    print(show(metrics) + f"  error_rate={failed / len(timed):.4f} ({failed}/{len(timed)})")
    print(json.dumps({"correct": failed == 0, "attempted": len(timed), "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
