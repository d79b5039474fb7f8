#!/usr/bin/env python3
"""zed_spark benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones of BENCHMARK.json; with
`--trace 1` they are the per-layer ones, from spans recorded around the
program's public calls. The line before it is a `detail` object with the
pinned environment, every set-up and pass time, and host steal time.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# The program's set-up is timed from session start to the first timed
# operation. Its first part, a JVM launch, SparkSession start and (on
# lake_service) service start, runs this many times, each in a new JVM,
# and counts with its median. The history loads (lake_service) and one
# warm-up pass, the checked pass, then run once. JIT warm-up keeps pass
# times falling for several passes (README.md); more warm-up passes
# would make a run too long to repeat ten times per side.
SETUP_REPS = 3
WORKLOAD_NAMES = ["corpus", "lake_service"]
# The measured window is `--seconds` long and holds at least this many
# passes; on a slow host two passes fill it, which keeps a run near a
# minute.
MIN_PASSES = 2
HEAP = "1g"

CLK_TCK = os.sysconf("SC_CLK_TCK")


def pin_env(work: str) -> dict:
    """The run environment, through the program's existing variables."""
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        # Python workers import zed_spark (the lake's load path runs
        # Python UDFs), so they need the checkout on their path
        "PYTHONPATH": ROOT,
        "TMPDIR": f"{work}/tmp",
        "TZ": "UTC",
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    time.tzset()
    return env


def spark_conf(work: str) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # -Xms equal to the heap limit: the heap's resident size then
        # does not depend on when the collector chose to grow it
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }


def steal_s() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


def hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def corrupt(result):
    """A wrong version of a result, for the benchmark's own tests."""
    if isinstance(result, list):
        return result[:-1] if result else [None]
    if isinstance(result, dict):
        return {**result, "corrupt": 1}
    if isinstance(result, bool):
        return not result
    return None


class Runner:
    """Runs operations, times them, checks their results and counts
    failures. With a tracer, records the benchmark-side spans."""

    def __init__(self, wl):
        self.wl = wl
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.corrupt_next = False

    def _result(self, op):
        tr = self.tracer
        if op.build is None:
            if tr is None:
                return op.run()
            tr.new_op()
            with tr.span(f"client.{op.kind}"):
                return op.run()
        if tr is None:
            return op.finish(op.build())
        tr.new_op()
        with tr.span(self.wl.build_span):
            df = op.build()
        with tr.span("catalyst.plan"):
            df._jdf.queryExecution().executedPlan()
        with tr.span("exec.action"):
            return op.finish(df)

    def run_op(self, op) -> float:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = self._result(op)
            if self.corrupt_next and op.kind == "query":
                self.corrupt_next = False
                result = corrupt(result)
            ok = op.ok(result)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        dt = time.perf_counter() - t0
        if not ok:
            self.failed += 1
            print(f"FAILED {self.wl.name}/{op.name}", file=sys.stderr)
        return dt

    def run_pass(self, ops, hooks=None) -> tuple[float, list[float]]:
        """Wall seconds of the pass, and the latency of each query."""
        lat = []
        wall = 0.0
        for op in ops:
            if hooks:
                hooks.before(op)
            dt = self.run_op(op)
            if hooks:
                hooks.after(op)
            wall += dt
            if op.kind == "query":
                lat.append(dt)
        return wall, lat


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input size; tiny is for the benchmark's own tests")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one query result (tests that checks fail)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "zed_spark", "__init__.py")):
        print(f"zed_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and removes its work files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        detail, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


def run(args, work: str):
    env = pin_env(work)
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](work, args.seed, args.size)  # inputs; untimed

    from zed_spark.session import build_spark

    conf = spark_conf(work)
    spark = None
    session_s = []
    try:
        for _ in range(SETUP_REPS):
            if spark is not None:
                wl.teardown()
                stop_spark(spark)
            t0 = time.perf_counter()
            spark = build_spark(extra_conf=conf)
            wl.setup(spark)
            session_s.append(time.perf_counter() - t0)
        detail, result = measure(args, wl, spark, session_s)
        detail["env"] = env
        return detail, result
    finally:
        wl.teardown()
        if spark is not None:
            stop_spark(spark)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit; the next session launches a new JVM."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the launched JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def measure(args, wl, spark, session_s):
    runner = Runner(wl)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    t0 = time.perf_counter()
    wl.load_history()
    history_s = time.perf_counter() - t0
    warm_s = runner.run_pass(wl.ops(0, checked=True))[0]
    setup_s = statistics.median(session_s) + history_s + warm_s

    detail = {"workload": wl.name, "seed": args.seed, "setup_session_s": session_s,
              "setup_history_s": history_s, "setup_warmup_pass_s": [warm_s]}
    steal0 = steal_s()
    if args.trace:
        metrics = measure_traced(args, wl, spark, runner, 1, detail)
    else:
        metrics = measure_window(args, wl, runner, 1, detail)
        metrics["setup_s"] = (setup_s, "s")
        metrics["peak_rss_mb"] = (hwm_mb(jvm_pid) + hwm_mb(os.getpid()), "MB")
        metrics["ok_ratio"] = ((runner.attempted - runner.failed) / runner.attempted, "ratio")
    detail["host.steal_s"] = steal_s() - steal0
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return detail, result


def measure_window(args, wl, runner, pass_no, detail) -> dict:
    """Timed passes for `--seconds`, and at least MIN_PASSES of them."""
    passes = []  # (wall, steal, query latencies)
    t_end = time.perf_counter() + args.seconds
    while time.perf_counter() < t_end or len(passes) < MIN_PASSES:
        ops = wl.ops(pass_no)
        pass_no += 1
        if args.corrupt and not passes:
            runner.corrupt_next = True
        steal0 = steal_s()
        wall, lat = runner.run_pass(ops)
        passes.append((wall, steal_s() - steal0, lat))
    lat = [x for p in passes for x in p[2]]
    detail.update(pass_s=[p[0] for p in passes], pass_steal_s=[p[1] for p in passes],
                  queries=len(lat))
    return {
        "pass_s": (statistics.median(p[0] for p in passes), "s"),
        "query_p50_ms": (statistics.median(lat) * 1000, "ms"),
    }


def measure_traced(args, wl, spark, runner, pass_no, detail) -> dict:
    """Alternates untraced and traced passes; each per-layer figure is
    the median over traced passes of the pass's total."""
    from tracing import UNITS, LakeBytes, StageStats, Tracer, pass_layers

    tracer = Tracer(spark)
    stages = StageStats(spark)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    untraced, traced, per_pass = [], [], []
    t_end = time.perf_counter() + args.seconds
    while time.perf_counter() < t_end or len(traced) < 2:
        untraced.append(runner.run_pass(wl.ops(pass_no))[0])
        ops = wl.ops(pass_no + 1)
        pass_no += 2

        hooks = LakeBytes(wl.root) if wl.name == "lake_service" else None
        first_span = len(tracer.spans)
        job0 = tracer.job_count()
        cpu0 = (cpu_s(jvm_pid), cpu_s(os.getpid()), steal_s())
        tracer.install()
        runner.tracer = tracer
        try:
            wall, _ = runner.run_pass(ops, hooks)
        finally:
            runner.tracer = None
            tracer.uninstall()
        cpu1 = (cpu_s(jvm_pid), cpu_s(os.getpid()), steal_s())
        traced.append(wall)

        figures = pass_layers(tracer, first_span)
        stats = stages.collect(job0, tracer.job_count())
        figures.update({f"exec.{k}": v for k, v in stats.items()})
        figures["jvm.cpu_s"] = cpu1[0] - cpu0[0]
        figures["py.cpu_s"] = cpu1[1] - cpu0[1]
        figures["host.steal_s"] = cpu1[2] - cpu0[2]
        if hooks:
            figures.update(hooks.figures())
        objs = [n_objects(df) for df in tracer.scans]
        tracer.scans.clear()
        figures["lake.objects"] = statistics.mean(objs) if objs else 0
        per_pass.append(figures)

    trace_dir = os.path.join(WORK_ROOT, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    span_file = os.path.join(trace_dir, f"{wl.name}-{args.seed}-{os.getpid()}.jsonl")
    tracer.dump(span_file)

    out = {}
    spread = {}
    for name, unit in UNITS.items():
        vals = [p.get(name, 0) for p in per_pass]
        out[name] = (statistics.median(vals), unit)
        spread[name] = [min(vals), max(vals)]
    out["trace.pass_s"] = (statistics.median(traced), "s")
    out["trace.overhead_s"] = (statistics.median(traced) - statistics.median(untraced), "s")
    detail.update(untraced_pass_s=untraced, traced_pass_s=traced,
                  layer_min_max=spread, spans=os.path.relpath(span_file, ROOT))
    return out


def n_objects(df) -> int:
    """Distinct object directories among the files a scan reads."""
    return len({os.path.dirname(f) for f in df.inputFiles()})


if __name__ == "__main__":
    sys.exit(main())
