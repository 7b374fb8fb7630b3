#!/usr/bin/env python3
"""Benchmark of the graft engine on the reference's own AMPLab job.

Run from the root of a checkout:

    python3 perfbench/run.py --workload uv_query --seed 1 --seconds 10 --trace 0

It builds the engine and the harness from the checkout's sources (sbt,
offline), generates the seeded input, runs the harness JVM and prints one
JSON object as its last stdout line. See perfbench/README.md for the
workloads and the metrics.
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
WORK = os.path.join(HERE, ".work")

# uservisits lines per data set; rankings gets a quarter of that
UV_ROWS = 250_000
# data sets kept in the cache, each about 20 MB; more than the seeds a
# set of ten runs uses, so that a second set finds them all
KEEP_DATA = 12
HEAP = "2g"
# seconds a run may take after the build; a run must end within 180 s
RUN_BUDGET_S = 170

WORKLOADS = {
    "uv_query": "AMPLab scan 1a, aggregate 2a declared, aggregate 2a through the user mapper",
    "uv_etl": "uservisits CSV to parquet through graft.sinks.Sinks, then 2a on the parquet",
}
DROPPED = {
    "ref_entries": "its sf0.1 parquet fixtures live outside the checkout, which the "
                   "benchmark may not read, and a cold pass plus warm passes do not fit "
                   "the per-run time budget",
    "heavy_entries": "same fixtures; a warm pass alone takes about 40 s and the cold pass "
                     "over a minute, beyond the per-run time budget",
}

# end-to-end metrics with a bound, reported in the result line
END_TO_END = [
    ("setup_s", "s"), ("pass_s", "s"), ("query_s_p50", "s"),
    ("rows_per_s", "rows/s"), ("heap_live_mb", "MB"),
]
# printed by name beside them but not bounded: the samples a run can
# afford put the tail percentile near the median, peak RSS follows the
# JVM's heap sizing and moves by a quarter between runs of the same code,
# and the error rate is 0 on a correct run and goes out as failed/attempted
UNBOUNDED = [("query_s_tail", "s"), ("peak_rss_mb", "MB"), ("error_rate", "ratio")]

PER_LAYER = [
    ("session.start_s", "s"),
    ("sources.load_s", "s"), ("sources.load_jobs", "count"), ("sources.rows_read", "rows"),
    ("sources.bytes_read", "bytes"), ("sources.files_read", "count"),
    ("sources.rows_dropped", "rows"),
    ("operators.build_s", "s"), ("operators.build_jobs", "count"),
    ("operators.build_tasks", "count"),
    ("plans.analysis_s", "s"), ("plans.optimization_s", "s"), ("plans.planning_s", "s"),
    ("plans.scan_nodes", "count"), ("plans.exchange_nodes", "count"),
    ("plans.broadcast_nodes", "count"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_busy_s", "s"), ("exec.task_wait_s", "s"), ("exec.core_util", "ratio"),
    ("exec.shuffle_write_mb", "MB"), ("exec.spill_mb", "MB"), ("exec.gc_s", "s"),
    ("exec.failed_tasks", "count"),
    ("sinks.write_s", "s"), ("sinks.rows_written", "rows"), ("sinks.bytes_written", "bytes"),
    ("sinks.files_written", "count"), ("sinks.bytes_per_input_byte", "ratio"),
    ("trace.overhead_s", "s"),
]
# counts that must repeat exactly between runs of the same code
STRUCTURE = [
    "sources.load_jobs", "operators.build_jobs", "exec.jobs", "exec.stages",
    "plans.scan_nodes", "plans.exchange_nodes", "plans.broadcast_nodes", "sources.rows_read",
]

JAVA_OPTS = [
    # Spark 4 on JDK 17 outside spark-submit needs these module opens
    *[a for p in (
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")],
    "-Dspark.ui.enabled=false",
    "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
]


class BenchError(Exception):
    pass


def log(*msg):
    print("[perfbench]", *msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs)


def tail_pick(samples, beyond=10):
    """Highest nearest-rank percentile with at least `beyond` samples above it.

    Returns (percentile, value, samples beyond), or None when there are too
    few samples for any percentile to have `beyond` samples above it.
    """
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        return None
    rank = n - beyond  # 1-based nearest rank
    return 100.0 * rank / n, xs[rank - 1], sum(1 for x in xs if x > xs[rank - 1])


def task_cores(nproc):
    """Spark task threads for a host with `nproc` CPUs: half of them.

    The JVM runs JIT compiler, GC and Spark's own threads beside the
    tasks, and a shared host takes CPUs away at times. With a task thread
    on every CPU, each CPU the host takes stalls a task. Over the same
    stretch on a 4-CPU host, pass times of the same code spanned 1.3-2.5 s
    at local[4] and 1.7-2.2 s at local[2].
    """
    return max(1, nproc // 2)


# --------------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(d, f) for d in (ROOT, HERE)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Builds engine and harness when their sources changed; returns the classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building engine and harness with sbt")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g",
        # sbt's own scratch files stay inside the checkout too
        "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"), "-XX:-UsePerfData"]))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        stdin=subprocess.DEVNULL, timeout=840)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise BenchError(f"sbt build failed with code {proc.returncode}")
    lines = [ln for ln in proc.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if not lines:
        raise BenchError("sbt printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java(cp, main, args, deadline, heap=HEAP):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the heap is committed up front: a heap that grows during the first
    # passes slows them for several passes more, which the warm-up would
    # have to cover
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
           *JAVA_OPTS, "-cp", cp, main, *args]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise BenchError(f"{main} timed out")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        sys.stderr.write(out[-6000:])
        raise BenchError(f"{main} exited with code {proc.returncode}")
    return out


# ---------------------------------------------------------------------- data

def ensure_data(cp, seed, rows, deadline):
    base = os.path.join(WORK, "data")
    os.makedirs(base, exist_ok=True)
    # the key names the generator's source too, so a changed generator
    # never reuses data written by an older one
    with open(os.path.join(HERE, "src", "main", "scala", "perfbench", "UvGen.scala"), "rb") as f:
        gen = hashlib.sha256(f.read()).hexdigest()[:12]
    path = os.path.join(base, f"uv-{seed}-{rows}-{gen}")
    if os.path.exists(os.path.join(path, "expected.json")):
        os.utime(path)
        return path
    kept = sorted((os.path.join(base, d) for d in os.listdir(base)), key=os.path.getmtime)
    for old in kept[:max(0, len(kept) - KEEP_DATA + 1)]:
        shutil.rmtree(old, ignore_errors=True)
    t0 = time.time()
    java(cp, "perfbench.UvGen", [str(seed), str(rows), path], deadline, heap="1g")
    log(f"generated seed {seed}, {rows} uservisits rows in {time.time() - t0:.1f} s")
    return path


# ----------------------------------------------------------------------- run

def harness(cp, workload, data, seconds, trace, cores, deadline):
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    java(cp, "perfbench.Harness", [
        "--workload", workload, "--data", data, "--work", work,
        "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores), "--out", out],
        deadline)
    with open(out) as f:
        res = json.load(f)
    if trace:
        shutil.copy(os.path.join(work, "spans.json"), os.path.join(WORK, f"spans-{workload}.json"))
    return res


def layer_medians(res):
    layers = res["layers"]
    keys = layers[0].keys()
    return {k: median([p[k] for p in layers]) for k in keys}


def end_to_end(res):
    walls = res["pass_walls"]
    per_query = res["query_walls"]
    pooled = [w for ws in per_query.values() for w in ws]
    pass_s = median(walls)
    values = {
        "setup_s": res["setup_s"],
        "pass_s": pass_s,
        "query_s_p50": median([median(ws) for ws in per_query.values()]),
        "rows_per_s": res["rows_per_pass"] / pass_s,
        "peak_rss_mb": res["peak_rss_mb"],
        "heap_live_mb": res["heap_live_mb"],
        "error_rate": res["failed"] / res["attempted"],
    }
    notes = {
        "setup_s": f"session ready {res['ready_s']:.3f} s after process start, "
                   f"cold pass {res['cold_pass_s']:.3f} s",
        "pass_s": f"median of {len(walls)} warm passes",
        "query_s_p50": "median over the queries of each one's median: " + ", ".join(
            f"{k} {median(ws):.4f} s" for k, ws in per_query.items()),
        "rows_per_s": f"{res['rows_per_pass']} input rows, "
                      f"{res['input_bytes_per_pass'] / 2**20:.1f} MiB read per pass",
        "peak_rss_mb": "VmHWM of the measuring process at exit",
        "heap_live_mb": "heap in use after a full collection at exit",
        "error_rate": f"{res['failed']} of {res['attempted']} query executions and checks",
    }
    tail = tail_pick(pooled)
    if tail is None:
        values["query_s_tail"] = float("nan")
        notes["query_s_tail"] = f"undefined: {len(pooled)} samples"
    else:
        pct, values["query_s_tail"], beyond = tail
        notes["query_s_tail"] = f"p{pct:.1f}, {beyond} of {len(pooled)} samples beyond"
    return values, notes


def per_layer(res):
    m = layer_medians(res)
    m["session.start_s"] = res["session_start_s"]
    m["sources.rows_dropped"] = float(res["rows_dropped"])
    m["sinks.files_written"] = float(res["files_written"])
    m["sinks.bytes_per_input_byte"] = m["sinks.bytes_written"] / res["input_bytes_per_pass"]
    m["trace.overhead_s"] = median(res["traced_pass_walls"]) - median(res["pass_walls"])
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # on SIGTERM, unwind so that the child JVM is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("no engine sources beside perfbench/; run from the root of a checkout")
        return 2
    nproc = len(os.sched_getaffinity(0))
    cores = task_cores(nproc)
    try:
        os.makedirs(WORK, exist_ok=True)
        cp = build()
        deadline = time.time() + RUN_BUDGET_S
        data = ensure_data(cp, a.seed, UV_ROWS, deadline)
        res = harness(cp, a.workload, data, a.seconds, a.trace, cores, deadline)
    except (BenchError, subprocess.SubprocessError, OSError) as e:
        log(f"failed: {e}")
        return 1

    print(f"workload {a.workload}: {WORKLOADS[a.workload]}; seed {a.seed}; "
          f"local[{res['cores']}] of {nproc} CPUs, shuffle partitions {res['shuffle_partitions']}")
    print("dropped workloads: " + "; ".join(f"{k}: {v}" for k, v in DROPPED.items()))
    attempted, failed = res["attempted"], res["failed"]
    for msg in res["messages"]:
        print("check failed:", msg)
    structure = {k: res["layers"][-1][k] for k in STRUCTURE}
    print("structure per pass: " + json.dumps(structure, sort_keys=True))
    if a.trace:
        layers = per_layer(res)
        plans = sum(layers[f"plans.{p}_s"] for p in ("analysis", "optimization", "planning"))
        print("self time per pass: " + ", ".join(
            f"{k.split('.')[0]} {layers[k]:.4f} s"
            for k in ("sources.load_s", "operators.build_s", "exec.s", "sinks.write_s"))
            + f"; plans, inside exec, {plans:.4f} s")
        print(f"tracing overhead: {layers['trace.overhead_s']:+.4f} s per pass "
              f"(traced {median(res['traced_pass_walls']):.4f} s, "
              f"untraced {median(res['pass_walls']):.4f} s)")
        metrics = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER}
    else:
        values, notes = end_to_end(res)
        for n, u in END_TO_END + UNBOUNDED:
            print(f"{n} = {values[n]:.6g} {u}  ({notes[n]})")
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
