#!/usr/bin/env python3
"""graft workload benchmark launcher.

One run:
    python3 perfbench/run.py --workload relational --seed 1 --seconds 30 --trace 0

builds the engine and the harness from source when they changed (sbt,
cached under .bench_build/), starts one JVM with a fresh private
java.io.tmpdir, warehouse and lake directory, runs the workload's closed
loop for --seconds in whole passes, checks every result, and prints one
JSON object as the last line of stdout:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.

Other modes:
    --steadiness N   run every workload N times per seed set and print each
                     metric's spread (IQR / median) and the agreement of two
                     seed sets
    --record         re-record perfbench/fingerprints.tsv (the correctness
                     baseline of the query workloads) at the current commit
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
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
FINGERPRINTS = os.path.join(HERE, "fingerprints.tsv")

WORKLOADS = ["relational", "llm_pipeline", "lake_dml", "streaming"]
QUERY_WORKLOADS = ["relational", "llm_pipeline", "streaming"]

# name -> unit; the end-to-end set is reported with --trace 0, the
# per-layer set with --trace 1 (same names as BENCHMARK.json)
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "live_heap_mb": "MB",
}
LAKE_OPS = ["open", "append", "delete", "update", "merge", "delete_mor", "update_mor",
            "merge_mor", "compact", "purge", "vacuum", "read", "pruned_read",
            "time_travel", "stats_report"]
PER_LAYER = dict(
    [("operators.build_ms", "ms"), ("operators.build_jobs", "count"),
     ("plans.plan_ms", "ms"), ("plans.analysis_ms", "ms"),
     ("plans.optimization_ms", "ms"), ("plans.planning_ms", "ms"),
     ("scan.files_read", "count"), ("scan.bytes_read", "bytes"),
     ("scan.rows_out", "count"), ("scan.metadata_ms", "ms"),
     ("exec.exec_ms", "ms"), ("exec.jobs", "count"), ("exec.stages", "count"),
     ("exec.tasks", "count"), ("exec.in_job_ms", "ms"), ("exec.outside_job_ms", "ms"),
     ("exec.op_outside_job_ms", "ms"), ("exec.untagged_jobs", "count"),
     ("exec.executor_run_ms", "ms"), ("exec.executor_cpu_ms", "ms"),
     ("exec.executor_gc_ms", "ms"), ("exec.core_busy_frac", "frac"),
     ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
     ("exec.spill_bytes", "bytes"),
     ("driver.gc_ms", "ms"), ("driver.jit_ms", "ms"),
     ("streaming.triggers", "count"), ("streaming.trigger_ms", "ms"),
     ("streaming.addBatch_ms", "ms"), ("streaming.queryPlanning_ms", "ms"),
     ("streaming.walCommit_ms", "ms"), ("streaming.commitOffsets_ms", "ms"),
     ("streaming.outside_trigger_ms", "ms")]
    + [("lake.%s_ms" % op, "ms") for op in LAKE_OPS]
    + [("lake.jobs_per_write", "count"), ("lake.outside_job_frac_write", "frac"),
       ("lake.write_amp", "ratio"), ("lake.files_live", "count"),
       ("lake.log_versions", "count"), ("lake.dv_debt", "frac"),
       ("lake.files_read_per_pruned_read", "count"),
       ("lake.write_p50_ms", "ms"), ("lake.read_p50_ms", "ms"), ("lake.space_amp", "ratio"),
       ("trace.wall_s", "s")])

JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("error: " + msg)
    sys.exit(code)


def data_dir():
    d = os.environ.get("GRAFT_BENCH_DATA", os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
    if not os.path.isfile(os.path.join(d, "orders.parquet")):
        fail("no sf0.1 tables at %s (set GRAFT_BENCH_DATA)" % d)
    return d


def check_checkout():
    for p in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail("%s not found: run from a graft checkout" % p)


def source_stamp():
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, dirs, names in os.walk(t):
            dirs.sort()
            files.extend(os.path.join(d, n) for n in sorted(names))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, stdout, env=None):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it, so nothing the run started outlives it."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=subprocess.STDOUT,
                         start_new_session=True, env=env)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)  # stray children, if any
        except ProcessLookupError:
            pass


def build():
    """Compile the engine and the harness when their sources changed."""
    os.makedirs(STATE, exist_ok=True)
    stamp_file = os.path.join(STATE, "stamp")
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return
    log("building engine and harness (sbt)")
    t0 = time.time()
    with open(os.path.join(STATE, "build.log"), "w") as out:
        try:
            rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "printClasspath"],
                           HERE, BUILD_TIMEOUT_S, out)
        except subprocess.TimeoutExpired:
            fail("build timed out; see .bench_build/perfbench/build.log")
    if rc != 0 or not os.path.isfile(CLASSPATH):
        fail("build failed (exit %s); see .bench_build/perfbench/build.log" % rc)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("built in %.0f s" % (time.time() - t0))


def heap():
    """Half of RAM, between 2g and 8g — the heap the tier-1 tests pin."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return "%dg" % min(8, max(2, g))


ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def jvm(args, work, timeout=JVM_TIMEOUT_S):
    """Run the harness JVM with a fresh private work directory."""
    with open(CLASSPATH) as f:
        cp = os.pathsep.join(l.strip() for l in f if l.strip())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # the engine's own JVM options (build.sbt), with the tier-1 heap; the
    # JIT keeps its default thread count for this host's cores instead of
    # build.sbt's CICompilerCount=12, which is sized for 32 cores
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Xmx" + heap(), "-XX:ReservedCodeCacheSize=1g",
            "-Djava.io.tmpdir=" + tmp, "-cp", cp, "graftbench.Main"] + args
    env = dict(os.environ, TMPDIR=tmp)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        try:
            rc = run_group(cmd, ROOT, timeout, out, env)
        except subprocess.TimeoutExpired:
            rc = "timeout"
    return rc


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7] if len(v) > 7 else 0, sum(v[:8])
    except (OSError, ValueError):
        return 0, 0


def calibrate():
    """Milliseconds of a fixed single-thread hashing job: the host's speed
    at this moment, recorded beside every run so that drift of the host
    can be told from a change of the program."""
    block = bytes(range(256)) * 4096
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(64):
        h.update(block)
    return (time.perf_counter() - t0) * 1e3


def one_run(a):
    check_checkout()
    data = data_dir()
    build()
    os.makedirs(STATE, exist_ok=True)
    work = os.path.join(STATE, "run-%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", work, "--out", out,
            "--fingerprints", FINGERPRINTS,
            "--spans", os.path.join(STATE, "spans_%s.json" % a.workload)]
    calib_start, cpu0 = calibrate(), cpu_times()
    try:
        rc = jvm(args, work)
        if rc != 0 or not os.path.isfile(out):
            with open(os.path.join(work, "jvm.log")) as f:
                tail = f.read()[-3000:]
            log("harness JVM failed (exit %s):\n%s" % (rc, tail))
            sys.exit(1)
        with open(out) as f:
            rec = json.load(f)
    finally:
        if os.path.isfile(os.path.join(work, "jvm.log")):
            shutil.copy(os.path.join(work, "jvm.log"), os.path.join(STATE, "last_%s.log" % a.workload))
        shutil.rmtree(work, ignore_errors=True)
    cpu1, calib_end = cpu_times(), calibrate()
    steal = (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
    names = PER_LAYER if a.trace else END_TO_END
    src = dict(rec["e2e"]) if not a.trace else dict(rec["layer"])
    metrics = {}
    for n, unit in names.items():
        v = src.get(n, 0.0 if a.trace else None)
        if v is None or not math.isfinite(v):
            log("metric %s missing" % n)
            sys.exit(1)
        metrics[n] = {"value": v, "unit": unit}
    host = rec["host"]
    tail = host["latency_tail"]
    print("workload=%s seed=%s trace=%s passes=%d ops=%d nproc=%d heap_max_mb=%d "
          "loadavg_start=%.2f loadavg_end=%.2f" % (
              rec["workload"], rec["seed"], a.trace, rec["passes"], rec["ops"], host["nproc"],
              host["heap_max_mb"], host["loadavg_start"], host["loadavg_end"]))
    print("jvm_flags=%s" % " ".join(host["jvm_flags"]))
    print("host_calibration_ms_start=%.1f host_calibration_ms_end=%.1f cpu_steal_frac=%.4f" % (
        calib_start, calib_end, steal))
    print("setup_samples_s=%s" % ",".join("%.3f" % s for s in host["setup_samples_s"]))
    print("live_heap_samples_mb=%s" % ",".join("%.1f" % s for s in host["live_heap_samples_mb"]))
    print("latency_tail_ms is p%g (%d of %d samples beyond it)" % (
        tail["percentile"], tail["samples_beyond"], tail["samples"]))
    print("failed_frac=%.6f (%d of %d)" % (rec["failed_frac"], rec["failed"], rec["attempted"]))
    for k, v in sorted(rec["e2e"].items()):
        if k not in END_TO_END:
            print("%s=%s" % (k, v))
    for f in rec["failures"]:
        print("FAILED %s" % f)
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


def record(a):
    """Re-record the per-key fingerprints of the query workloads."""
    check_checkout()
    data = data_dir()
    build()
    lines = ["# key\trows\thash_hi\thash_lo  (order-independent result fingerprints, sf0.1)"]
    for w in QUERY_WORKLOADS:
        work = os.path.join(STATE, "record-%s" % w)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        out = os.path.join(work, "result.json")
        rc = jvm(["--workload", w, "--record", "1", "--data", data, "--work", work, "--out", out],
                 work, timeout=900)
        if rc != 0:
            fail("recording %s failed (exit %s); see %s" % (w, rc, os.path.join(work, "jvm.log")), 1)
        with open(out) as f:
            rec = json.load(f)
        for k in rec["keys"]:
            if k["err"]:
                fail("%s failed while recording: %s" % (k["key"], k["err"]), 1)
            lines.append("%s\t%s" % (k["key"], k["fp"]))
            log("%-32s %8.1f ms" % (k["key"], k["ms"]))
        shutil.rmtree(work, ignore_errors=True)
    with open(FINGERPRINTS, "w") as f:
        f.write("\n".join(lines[:1] + sorted(lines[1:])) + "\n")
    log("wrote %s" % FINGERPRINTS)


def spread(values):
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q[2] - q[0]) / med if med else float("inf")


def one(w, seed, seconds, trace):
    """Run the benchmark command once in a fresh process; its metrics."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
    if p.returncode != 0:
        fail("run %s seed %s failed" % (w, seed), 1)
    lines = p.stdout.strip().splitlines()
    last = json.loads(lines[-1])
    if not last["correct"]:
        log("%s seed %s: %d of %d failed" % (w, seed, last["failed"], last["attempted"]))
    vals = {k: m["value"] for k, m in last["metrics"].items()}
    host = next((l for l in lines if l.startswith("host_calibration")), "")
    log("%s trace=%d seed=%d took %.1f s: %s %s" % (w, trace, seed, time.time() - t0, " ".join(
        "%s=%.4g" % (k, v) for k, v in vals.items() if trace == 0 or k == "trace.wall_s"), host))
    return vals


def steadiness(a):
    """Run each workload N times on each of two seed sets (1..N and
    1001..1000+N) and report, per metric, the median, the spread (IQR /
    median) within each set, and how far the second set's median sits
    from the first's. The runs interleave: seed i of set A, then seed i of
    set B, each across every workload, so a drift of the host's speed
    lands on both sets and all workloads alike rather than on one of them.
    With --with-trace every untraced run is followed by a traced run of
    the same seed, and the tracing overhead is the median of those pairs'
    wall_s differences."""
    workloads = a.workloads.split(",") if a.workloads else WORKLOADS
    bases = [1, 1001]
    vals = {(w, b): {} for w in workloads for b in bases}
    overhead = {w: [] for w in workloads}
    for i in range(a.steadiness):
        for b in bases:
            for w in workloads:
                got = one(w, b + i, a.seconds, 0)
                for k, v in got.items():
                    vals[(w, b)].setdefault(k, []).append(v)
                if a.with_trace:
                    traced = one(w, b + i, a.seconds, 1)["trace.wall_s"]
                    overhead[w].append(traced / got["wall_s"] - 1)
    for w in workloads:
        for k in vals[(w, bases[0])]:
            rows = [spread(vals[(w, b)][k]) for b in bases]
            line = "%-14s %-16s" % (w, k) + "".join(
                "  median=%-12.6g spread=%.4f" % r for r in rows)
            if rows[0][0]:
                line += "  median_shift=%+.4f" % (rows[1][0] / rows[0][0] - 1)
            print(line, flush=True)
        if overhead[w]:
            print("%-14s tracing overhead on wall_s: median %+.1f%% over %d paired runs" % (
                w, 100 * statistics.median(overhead[w]), len(overhead[w])), flush=True)


def main():
    # a terminated launcher still tears down its JVM (see run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--steadiness", type=int, default=0, metavar="N")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--with-trace", action="store_true")
    a = ap.parse_args()
    if a.record:
        record(a)
    elif a.steadiness:
        steadiness(a)
    elif a.workload:
        one_run(a)
    else:
        ap.error("--workload is required")


if __name__ == "__main__":
    main()
