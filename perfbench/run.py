"""Repository benchmark: end-to-end and per-layer numbers for the dedup engine.

    python3 perfbench/run.py --workload batch_neardup --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The benchmark builds its inputs from
``--seed``, starts one Spark session at ``local[N]`` (N = min(4, nproc)),
sets up (session start, input build, engine warm-up), then repeats the timed
operation until ``--seconds`` have passed (at least once) and checks every
output afterwards.

The last line of standard output is one JSON object::

    {"correct": true, "attempted": 1, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones. With ``--trace 1``
the session runs with Spark's event log on from the start and the metrics
are the per-layer ones of the first timed operation: spans the benchmark
records around the library calls and pipeline phases, plus the event log's
task metrics attributed by job group. ``trace.overhead_s`` is the time the
event-log listener spent writing the trace during that operation.

Everything the benchmark writes goes under ``.perfbench_work/`` in the
checkout and is removed at exit. The process exits non-zero without a result
line when the library cannot be imported or set-up fails.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

CORES = min(4, os.cpu_count() or 1)
# one shuffle partition per core: the session factory's default (at least 8)
# made a run_pipeline on these inputs slower (21.6 s vs 17.8 s on 4 vCPU)
SHUFFLE_PARTITIONS = CORES
# The driver heap is fixed and pre-touched (-Xms = -Xmx, AlwaysPreTouch):
# otherwise how far G1 grows the heap during a run decides peak RSS, and that
# varied by a third between identical runs.
DRIVER_MEMORY = "2g"

E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "turns_per_s": "1/s",
    "recall": "ratio",
    "peak_rss_mb": "MB",
}


def pin_environment(work: str) -> dict[str, str]:
    """Fix every setting the session factory would otherwise take from the
    host: the master and core count (overriding any inherited
    SPARK_GRAFT_MASTER / SPARK_GRAFT_CPUS), shuffle on disk under the
    checkout (SPARK_GRAFT_TMPFS_SHUFFLE=0; the factory would switch to
    /dev/shm on a host with 16 GiB free), and the driver heap."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    pinned = {
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_TMPFS_SHUFFLE": "0",
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    }
    os.environ.update(pinned)
    return pinned


def start_session(work: str, event_log: str | None = None):
    from fast_duplicate_finder_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": event_log,
        })
    return get_spark(
        "perfbench",
        cores=CORES,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        master=f"local[{CORES}]",
        extra_conf=conf,
    )


def stop_session(spark) -> None:
    """Stop the session and the JVM the gateway launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    # the gateway JVM exits when its stdin closes
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:  # a hung JVM is killed, not left behind
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants (the JVM and its Python
    workers), from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    tree, frontier = [], [root_pid]
    while frontier:
        pid = frontier.pop()
        tree.append(pid)
        frontier.extend(children.get(pid, ()))
    return tree


def _tree_rss_bytes(root_pid: int) -> int:
    """Anonymous resident memory (heaps, stacks, arenas) of the process tree,
    from /proc. File-backed pages (jars, shared libraries) are left out: how
    many of them stay resident depends on the host's page cache, not on the
    program."""
    total = 0
    for pid in _process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("RssAnon:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Peak of _tree_rss_bytes over the ``with`` block, sampled on a thread."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def environment_record(spark, pinned: dict[str, str]) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": os.cpu_count(),
        "ram_mb": mem_kb // 1024,
        "master": spark.sparkContext.master,
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        **{k: v for k, v in pinned.items() if k.startswith("SPARK_GRAFT")},
        "driver_memory": pinned["SPARK_DRIVER_MEMORY"],
    }


def warm_engine(spark, work: str) -> None:
    """Engine warm-up before timing: JVM class loading and JIT of the shuffle,
    join, window and parquet paths, and the Python worker pool forked with
    pandas/pyarrow imported. It is not a full pipeline run: that would add
    ~30 s to every run on 4 vCPU, which the benchmark's time budget does not
    allow, so the timed run still pays its own plans' code generation."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from perfbench.workloads import job_group

    job_group(spark, "perfbench.warmup")
    path = os.path.join(work, "warmup")
    df = spark.range(0, 200_000, 1, SHUFFLE_PARTITIONS).select(
        (F.col("id") % 1000).alias("k"), F.col("id"), F.xxhash64("id").alias("h")
    )
    (
        df.groupBy("k").agg(F.count("*").alias("n"), F.max("h").alias("mh"))
        .join(df, "k")
        .withColumn("r", F.row_number().over(Window.partitionBy("k").orderBy("id")))
        .write.parquet(path)
    )
    ident = F.pandas_udf(lambda s: s, LongType())
    spark.read.parquet(path).select(ident("id").alias("v")).agg(F.sum("v")).collect()
    shutil.rmtree(path)


def _timed_op(wl, spark, work: str):
    try:
        return wl.run_once(spark, work)
    except Exception:  # noqa: BLE001 — a failed operation is counted
        print(f"perfbench: {wl.name} operation failed", file=sys.stderr)
        traceback.print_exc()
        return None


def _check(wl, spark, out) -> None:
    from perfbench.workloads import job_group

    job_group(spark, "perfbench.check")
    try:
        wl.check(spark, out)
    except Exception as e:  # noqa: BLE001 — a check that cannot run fails
        traceback.print_exc()
        out.errors.append(f"check raised {e!r}")
    for err in out.errors:
        print(f"perfbench: {wl.name} check failed: {err}", file=sys.stderr)


def _event_log_listener_s(spark) -> float:
    """Seconds the event-log listener has spent processing events so far,
    from Spark's listener-bus timer (count x mean of its sample reservoir)."""
    sc = spark.sparkContext
    cls = sc._jvm.java.lang.Class.forName(
        "org.apache.spark.scheduler.EventLoggingListener"
    )
    timer = sc._jsc.sc().listenerBus().metrics().getTimerForListenerClass(cls)
    if not timer.isDefined():
        return 0.0
    timer = timer.get()
    return timer.getCount() * timer.getSnapshot().getMean() / 1e9


def run(args) -> dict:
    from perfbench.trace import read_event_log
    from perfbench.workloads import WORKLOADS, per_layer_units

    wl = WORKLOADS[args.workload](tiny=args.tiny)
    work = os.path.join(WORK_ROOT, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pinned = pin_environment(work)
    input_path = os.path.join(work, "input")
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    spark = None
    try:
        # -- set-up: session start, input build, engine warm-up
        t0 = time.perf_counter()
        spark = start_session(work, event_log=log_dir)
        session_s = time.perf_counter() - t0
        env = environment_record(spark, pinned)
        t0 = time.perf_counter()
        wl.build(spark, args.seed, input_path)
        build_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        warm_engine(spark, work)
        warm_s = time.perf_counter() - t0
        setup_s = session_s + build_s + warm_s

        # -- timed section: repeat the operation until --seconds have passed
        wl.load(spark, args.seed, input_path)
        outcomes, attempted = [], 0
        listener_s = _event_log_listener_s(spark) if args.trace else 0.0
        deadline = time.perf_counter() + args.seconds
        with RssSampler() as rss:
            while True:
                attempted += 1
                out = _timed_op(wl, spark, work)
                if out is not None:
                    outcomes.append(out)
                if time.perf_counter() >= deadline:
                    break
        if args.trace:
            listener_s = _event_log_listener_s(spark) - listener_s
        if not outcomes:
            raise RuntimeError(f"every {wl.name} operation failed")

        # -- checks, outside the timed section
        t0 = time.perf_counter()
        wl.prepare_checks(spark)
        for out in outcomes:
            _check(wl, spark, out)
        check_s = time.perf_counter() - t0
        wl.cleanup(work)
        stop_session(spark)
        spark = None
    finally:
        if spark is not None:
            stop_session(spark)

    wall = statistics.median(o.wall_s for o in outcomes)
    summary = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "timed_runs": len(outcomes),
        "wall_s_samples": [o.wall_s for o in outcomes],
        "setup_parts_s": {"session": session_s, "build": build_s, "warm_up": warm_s},
        "check_s": check_s,
        "turns": wl.n_turns,
    }
    if args.trace:
        # per-layer numbers of the first traced operation: with the event
        # log on from the start it ran in the same state as an untraced run
        layer_units = {**per_layer_units(), **wl.extra_layer_units}
        values = {k: 0.0 for k in layer_units}
        values.update(wl.layer_metrics(outcomes[0], read_event_log(log_dir)))
        values["trace.overhead_s"] = listener_s / len(outcomes)
        metrics = {k: {"value": values[k], "unit": u} for k, u in layer_units.items()}
        print("perfbench trace " + json.dumps(metrics), flush=True)
    else:
        e2e = {
            "setup_s": setup_s,
            "wall_s": wall,
            "turns_per_s": wl.n_turns / wall,
            "recall": min(o.recall or 0.0 for o in outcomes),
            "peak_rss_mb": rss.peak / float(1 << 20),
        }
        units = {**E2E_UNITS, **wl.extra_e2e_units}
        if "batch_p50_ms" in units:
            op_ms = [ms for o in outcomes for ms in o.op_ms]
            e2e["batch_p50_ms"] = statistics.median(op_ms)
            summary["batch_p50_samples"] = len(op_ms)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in units.items()}

    # an operation is one pipeline run or one micro-batch; every operation
    # of a run whose output check failed counts as failed
    attempted_ops = attempted * wl.ops_per_run
    failed_ops = (attempted - len(outcomes)) * wl.ops_per_run + sum(
        wl.ops_per_run for o in outcomes if o.errors
    )
    summary["error_rate"] = failed_ops / attempted_ops
    print("perfbench env " + json.dumps(env), flush=True)
    print("perfbench summary " + json.dumps(summary), flush=True)
    return {
        "correct": failed_ops == 0,
        "attempted": attempted_ops,
        "failed": failed_ops,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test scale: checks the plumbing, not speed")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import fast_duplicate_finder_spark as lib
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the library from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(lib.__file__).startswith(ROOT + os.sep):
        # the benchmark measures the checkout it sits in, never an
        # installed copy found elsewhere on the path
        print(f"perfbench: library imported from {lib.__file__}, not from {ROOT}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        result = run(args)
    finally:
        shutil.rmtree(os.path.join(WORK_ROOT, args.workload), ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
