"""Repository benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 15 --trace 0

Run from the repository root.  The run

1. starts a ``local[<cores>]`` SparkSession with a 2 GiB driver heap,
   everything it writes kept under ``perfbench/.work/run-<pid>/``;
2. sets up: generates the seeded inputs three times (median reported),
   then warms up until the engine's first-call costs are paid;
3. runs the workload's ops in a closed loop with one client for
   ``--seconds``;
4. checks every op's output (``correct``, ``failed``);
5. prints, as the last stdout line, ``{"correct", "attempted", "failed",
   "metrics"}``: the ``end_to_end`` metrics of BENCHMARK.json with
   ``--trace 0``, the ``per_layer`` ones with ``--trace 1``.

With ``--trace 1`` every op is traced: spans around each layer call and
Spark counters per job group, written as JSON lines to
``perfbench/.work/traces/``.  After the loop, a state-preserving op run
untraced and traced in turn gives ``trace.overhead_frac``.  Exits
non-zero, printing no result, when the engine package is not next to
``perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_HEAP = "2g"
PREP_REPS = 3
OVERHEAD_PAIRS = 2


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _vm_steal_s() -> float:
    """CPU seconds the host has stolen from this machine so far, all
    cores: the main source of run-to-run noise on a shared host."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def start_spark(work: str):
    """The engine's tuned session, sized to this host, writing only under
    ``work``.  Environment first: the engine reads it at import, and
    Python workers inherit it."""
    cores = _cores()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_HEAP,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        TMPDIR=tmp,
        # the launcher JVM would write /tmp/hsperfdata_<user>
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    tempfile.tempdir = tmp
    from db_migration_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            # a heap fixed at its maximum: heap resizing is one more thing
            # that makes GC, and so op times, differ from run to run; and
            # touched at start, so peak RSS does not depend on how much of
            # the heap a run's GC cycles happened to reach
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch"
                " -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def calibration(spark) -> dict[str, float]:
    """Session-noise probes: a fixed Spark scan+aggregate and a fixed
    pure-Python loop, median of three each.  Flags a noisy host; not a
    gate."""

    def scan_agg() -> None:
        spark.range(3_000_000).selectExpr("id % 101 AS k").groupBy("k").count().collect()

    def cpu_py() -> None:
        sum(i * i for i in range(1_000_000))

    out = {}
    for name, fn in (("calib.scan_agg_s", scan_agg), ("calib.cpu_py_s", cpu_py)):
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        out[name] = statistics.median(times)
    return out


def overhead(wl, tracer) -> float:
    """The tracer's cost as a share of an op: the workload's state-
    preserving op run untraced and traced in turn, ``OVERHEAD_PAIRS``
    times in the order untraced, traced, traced, untraced, … (so a steady
    drift in op time, as the JIT keeps warming, cancels out); median
    traced over median untraced, minus one."""
    times: dict[bool, list[float]] = {False: [], True: []}
    for k in range(OVERHEAD_PAIRS):
        for enabled in (k % 2 == 1, k % 2 == 0):
            tracer.enabled = enabled
            t0 = time.perf_counter()
            wl.repeat_op(f"pair{k}-{'traced' if enabled else 'plain'}")
            times[enabled].append(time.perf_counter() - t0)
    tracer.op_id = None
    log("overhead pairs untraced/traced " + " ".join(
        f"{a:.2f}/{b:.2f}" for a, b in zip(times[False], times[True])
    ))
    return statistics.median(times[True]) / statistics.median(times[False]) - 1


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run(args, work: str) -> dict:
    import tracing
    from workloads import WORKLOADS

    tracer = tracing.Tracer(False)
    t0 = time.perf_counter()
    spark = start_spark(work)
    session_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.scale, tracer)
        prep = []
        for rep in range(PREP_REPS):
            t0 = time.perf_counter()
            wl.prepare(rep)
            prep.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(prep) + warm_s
        log(f"session {session_s:.2f}s, prepare {' '.join(f'{p:.2f}' for p in prep)}s, warm-up {warm_s:.2f}s")
        if args.trace:
            wl.trace_wrap()

        # closed loop, one client; with tracing, every op is traced
        tracer.enabled = bool(args.trace)
        lat, gc_s = [], []
        attempted = failed = 0
        cpu0 = tracing.tree_cpu_s(os.getpid())
        steal0 = _vm_steal_s()
        start = time.perf_counter()
        while time.perf_counter() - start < args.seconds:
            if tracer.enabled:
                gc0 = tracing.jvm_gc_s(spark)
            t0 = time.perf_counter()
            try:
                wl.op(attempted)
            except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
                traceback.print_exc()
                failed += 1
            else:
                lat.append(time.perf_counter() - t0)
                if tracer.enabled:
                    gc_s.append(tracing.jvm_gc_s(spark) - gc0)
                    wl.after_op()
            attempted += 1
        window = time.perf_counter() - start
        cpu_s = tracing.tree_cpu_s(os.getpid()) - cpu0
        steal_frac = (_vm_steal_s() - steal0) / (window * _cores())
        log(f"cpu {cpu_s:.2f}s, stolen by the host {100 * steal_frac:.1f}%")
        log(f"{attempted} ops in {window:.2f}s: " + " ".join(f"{x:.2f}" for x in lat))
        tracer.op_id = None

        # wall-clock op latency is reported per layer only: on a shared
        # host it follows CPU steal (a store op on a 4-vCPU VM took 4.0 s
        # at 3% steal, 5.7 s at 17%) more than any run length averages out
        metrics = {
            "setup_s": setup_s,
            "op_cpu_s": cpu_s / attempted,
            "peak_rss_mb": tracing.peak_rss_mb(spark),
            "op_p50_s": statistics.median(lat) if lat else window,
        }
        if args.trace:
            metrics.update({"session.start_s": session_s, "host.steal_frac": steal_frac})
            metrics.update(calibration(spark))
            for layer, s in tracer.self_times(root_layer="workload").items():
                metrics["self." + layer.replace(".", "_") + "_s"] = s / max(1, len(lat))
            metrics["jvm.gc_s"] = statistics.median(gc_s) if gc_s else 0.0
            try:
                metrics.update(wl.layer_metrics())
                metrics["trace.overhead_frac"] = overhead(wl, tracer)
            except Exception:  # noqa: BLE001 - a probe with a wrong output is a failed op
                traceback.print_exc()
                failed += 1
            tracer.write(
                os.path.join(
                    HERE, ".work", "traces",
                    f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl",
                )
            )
            tracer.enabled = False

        t0 = time.perf_counter()
        try:
            failed += wl.check()
        except Exception:  # noqa: BLE001 - an unverifiable run is a failed run
            traceback.print_exc()
            failed = attempted
        failed = min(failed, attempted)
        log(f"check {time.perf_counter() - t0:.2f}s, {failed} failed")
    finally:
        stop_spark(spark)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # input size relative to the benchmark's; the self-tests run small
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "db_migration_spark", "__init__.py")):
        print(f"perfbench: no db_migration_spark package in {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # every declared metric, with its declared unit; a layer the workload
    # does not touch reads 0
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    result["metrics"] = {
        m["name"]: {"value": float(result["metrics"].get(m["name"], 0.0)), "unit": m["unit"]}
        for m in declared
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
