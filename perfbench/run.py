"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload oltp_mixed --seed 1 --seconds 5 --trace 0

Run from the repository root. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a traced
run. Everything the run writes goes under ``.perfbench_work/`` in the
current directory. See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
# measured passes per run: at least this many, and a traced run exactly this
# many, so its per-layer figures cover the same work on any host. One pass
# (24 statements, or five operators) takes 10-25 s on a 4-core host, so a 5 s run
# measures exactly one, and 4 + 22 runs per workload of 45-90 s fit in 3420 s.
MIN_PASSES = 1

# name -> unit. Every workload prints every one of them.
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "read_p50_ms": "ms",
}
PER_LAYER = {
    "session.start_s": "s",
    "engine.plan_cache_hit_ratio": "ratio",
    "parser.parse_ms": "ms",
    "select.compile_ms": "ms",
    "dictionary.get_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.exec_ms": "ms",
    "spark.peak_rss_mb": "MB",
    "dml.insert_ms": "ms",
    "dml.update_ms": "ms",
    "dml.delete_ms": "ms",
    "dml.lineage_nodes": "count",
    "tx.commit_ms": "ms",
    "tx.conflict_ratio": "ratio",
    "dml.bulk_append_s": "s",
    "storage.save_s": "s",
    "storage.open_s": "s",
    "storage.bytes_per_user_byte": "ratio",
    "pipeline.minhash_s": "s",
    "pipeline.embedding_dedup_s": "s",
    "pipeline.topk_s": "s",
    "pipeline.bm25_s": "s",
    "pipeline.quality_s": "s",
    "pipeline.dup_recall": "ratio",
    **{f"{layer}.self_ms": "ms" for layer in (
        "engine", "parser", "select", "spark", "dml", "tx", "dictionary", "storage",
        "pipeline", "bench",
    )},
    "trace.overhead_pct": "%",
    "trace.ops_per_s": "1/s",
}


def pin_environment(root: str, work: str) -> dict:
    """Fix the run environment before Spark starts and return it for the
    record: all cores of the cgroup, a Spark heap that fits the host, and
    every scratch directory (Spark local dirs, JVM and Python temp files,
    SQL warehouse) inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    heap_mb = max(1024, min(4096, mem_mb // 4))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                # -UsePerfData: no hsperfdata file in the system temp dir
                "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
                "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
                "pyspark-shell",
            ]
        ),
    )
    import pyspark

    return {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.relpath(local, root),
        "pyspark": pyspark.__version__,
        "nproc": cpus,
        "mem_total_mb": mem_mb,
        "loadavg_start": os.getloadavg(),
    }


def _children(pid: int) -> list[int]:
    """All live descendants of ``pid`` (Python workers of the JVM)."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until each has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    kids = _children(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


class Runner:
    def __init__(self, tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0

    def execute(self, op, traced: bool = False) -> float:
        """Run one operation, check its result and return its latency (s)."""
        self.attempted += 1
        if traced:
            self.tracer.begin_op(self.attempted, op.kind)
        t0 = time.perf_counter()
        try:
            result = op.run()
        except Exception:
            dt = time.perf_counter() - t0
            if traced:
                self.tracer.end_op()
            self._fail(op, traceback.format_exc())
            return dt
        dt = time.perf_counter() - t0
        if traced:
            self.tracer.end_op()
        try:
            ok = bool(op.check(result))
        except Exception:
            self._fail(op, "check raised: " + traceback.format_exc())
            return dt
        if not ok:
            self._fail(op, f"wrong result: {str(result)[:300]}")
        return dt

    def _fail(self, op, why: str) -> None:
        self.failed += 1
        print(f"perfbench: {op.kind} failed: {why}", file=sys.stderr)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "orientdb_spark", "engine.py")):
        print("perfbench: run from the repository root (orientdb_spark/ not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    env = pin_environment(root, work)
    print("perfbench-env " + json.dumps(env), flush=True)

    from orientdb_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    session_s = time.perf_counter() - t0
    try:
        result = run_workload(spark, args, work, t0 - T_PROCESS, session_s)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def run_workload(spark, args, work: str, pre_session_s: float, session_s: float) -> dict:
    import workloads
    from tracing import Tracer

    wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
    tracer = Tracer(spark)
    runner = Runner(tracer)
    if args.trace:
        tracer.install()  # set-up spans feed bulk_append_s / save_s / open_s
    t0 = time.perf_counter()
    wl.build()
    build_s = time.perf_counter() - t0
    if args.trace:
        tracer.uninstall()
    for op in wl.setup_checks:
        runner.execute(op)
    t0 = time.perf_counter()
    for op in wl.warm_up():
        runner.execute(op)
    warm_s = time.perf_counter() - t0
    setup_s = time.perf_counter() - T_PROCESS  # process start to the first timed operation

    # measured passes: whole passes until --seconds have gone by, at least
    # MIN_PASSES; a traced run does exactly MIN_PASSES, all of them traced
    lat: list[float] = []
    by_kind: dict[str, list[float]] = defaultdict(list)  # read kind -> latencies
    t_start = time.perf_counter()
    n_pass = 0
    if args.trace:
        tracer.install()
    while n_pass < MIN_PASSES or (not args.trace and time.perf_counter() - t_start < args.seconds):
        ops = wl.next_pass()
        times = [runner.execute(op, bool(args.trace)) for op in ops]
        print("perfbench-pass " + " ".join(f"{op.kind}={t * 1e3:.0f}" for op, t in zip(ops, times)),
              file=sys.stderr)
        lat += times
        for op, t in zip(ops, times):
            if op.read:
                by_kind[op.kind].append(t)
        n_pass += 1
    if args.trace:
        tracer.uninstall()
    print(
        f"perfbench-phases pre_session={pre_session_s:.2f}s session={session_s:.2f}s "
        f"build={build_s:.2f}s warm={warm_s:.2f}s setup={setup_s:.2f}s "
        f"measured={time.perf_counter() - t_start:.2f}s passes={n_pass}",
        file=sys.stderr,
    )
    lineage = wl.lineage_nodes()
    for op in wl.final_checks():
        runner.execute(op)

    ops_per_s = len(lat) / sum(lat)
    if not args.trace:
        metrics = {"setup_s": setup_s, "ops_per_s": ops_per_s, "read_p50_ms": read_p50_ms(by_kind)}
        units = END_TO_END
    else:
        metrics = layer_metrics(tracer, wl, session_s, lineage)
        # set against the untraced runs' ops_per_s, the end-to-end cost of tracing
        metrics["trace.ops_per_s"] = ops_per_s
        units = PER_LAYER
        trace_dir = os.path.join(os.path.dirname(work), "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl"))
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def read_p50_ms(by_kind: dict[str, list[float]]) -> float:
    """Geometric mean over the read kinds of each kind's median latency, in
    ms. Kinds differ in cost by up to 10x, so a median over all reads would
    jump from one kind's latency to another's with the rank that sits in
    the middle; the per-kind medians weigh every kind the same in every run."""
    logs = [math.log(statistics.median(ts)) for ts in by_kind.values()]
    return math.exp(sum(logs) / len(logs)) * 1e3


def layer_metrics(tracer, wl, session_s, lineage) -> dict:
    from pyspark import SparkContext

    from tracing import median_or_zero as med

    ms = tracer.durations_ms
    spark_ops = tracer.spark_per_op()
    outer_spark: dict[int, float] = {}
    by_id = {s["id"]: s for s in tracer.spans}
    for s in tracer.spans:
        parent = by_id.get(s["parent"])
        if s["layer"] == "spark" and s["op"] is not None and (parent is None or parent["layer"] != "spark"):
            outer_spark[s["op"]] = outer_spark.get(s["op"], 0.0) + (s["end"] - s["start"]) * 1e3
    commits = [s["error"] for s in tracer.spans if s["name"] == "tx.commit" and s["op"] is not None]
    hits, lookups = tracer.plan_cache
    found = getattr(wl, "found", {})
    m = {
        "session.start_s": session_s,
        "engine.plan_cache_hit_ratio": hits / lookups if lookups else 0.0,
        "parser.parse_ms": med(ms("parser.parse")),
        "select.compile_ms": med(ms("select.compile")),
        "dictionary.get_ms": med(tracer.op_ms("dict_get")),
        "spark.jobs_per_op": spark_ops["jobs"],
        "spark.stages_per_op": spark_ops["stages"],
        "spark.tasks_per_op": spark_ops["tasks"],
        "spark.exec_ms": med(list(outer_spark.values())),
        "spark.peak_rss_mb": _peak_rss_mb(SparkContext._gateway.proc.pid),
        "dml.insert_ms": med(ms("dml.execute_dml", "insert")),
        "dml.update_ms": med(ms("dml.execute_dml", "update")),
        "dml.delete_ms": med(ms("dml.execute_dml", "delete")),
        "dml.lineage_nodes": lineage,
        "tx.commit_ms": med(ms("tx.commit")),
        "tx.conflict_ratio": sum(commits) / len(commits) if commits else 0.0,
        "dml.bulk_append_s": med(ms("dml.bulk_append", setup=True)) / 1e3,
        "storage.save_s": med(ms("storage.save_database", setup=True)) / 1e3,
        "storage.open_s": med(ms("storage.open_database", setup=True)) / 1e3,
        "storage.bytes_per_user_byte": wl.stats.get("storage.bytes_per_user_byte", 0.0),
        # pipeline operators return lazy frames: their cost is the whole op
        "pipeline.minhash_s": med(tracer.op_ms("minhash")) / 1e3,
        "pipeline.embedding_dedup_s": med(tracer.op_ms("embedding_dedup")) / 1e3,
        "pipeline.topk_s": med(tracer.op_ms("topk")) / 1e3,
        "pipeline.bm25_s": med(tracer.op_ms("bm25")) / 1e3,
        "pipeline.quality_s": med(tracer.op_ms("quality")) / 1e3,
        "pipeline.dup_recall": min(found.values()) if found else 0.0,
        "trace.overhead_pct": tracer.overhead_pct(),
    }
    m.update({f"{layer}.self_ms": v for layer, v in tracer.self_ms_per_op().items()})
    return m


if __name__ == "__main__":
    sys.exit(main())
