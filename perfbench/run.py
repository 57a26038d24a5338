#!/usr/bin/env python3
"""The repository benchmark: one workload of the spatial-join + tiling
engine per invocation, run from the repository root.

    python3 perfbench/run.py --workload canonical --seed 1 --seconds 6 --trace 0

It starts Spark on ``local[nproc]`` three times, each time in a new JVM
(one driver process, no extra client threads), writes the seeded inputs
under ``.perfbench/`` in the current directory, runs the first (cold)
iteration and then a closed loop for ``--seconds``, checks every output,
and prints as its last line one JSON object: ``correct``, ``attempted``,
``failed`` and the end-to-end metrics (``--trace 0``) or the per-layer
metrics (``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()   # process start, as near as Python gets

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import shlex  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
import probes  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "first_iter_s": "s",
}
SETUP_SAMPLES = 3      # cold session starts per run; setup_s is their median


def parse_args(argv):
    from workloads import WORKLOADS
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(root: str, work: str) -> None:
    """Keep the JVM, Spark's scratch space and the Python workers inside
    the working directory (``-XX:-UsePerfData``: no JVM perf-data file
    in the system temp directory); workers import the engine from
    ``root``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", f"spark.local.dir={tmp}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "pyspark-shell"])


def start_session(cores: int):
    from gdal_spark.session import get_spark
    spark = get_spark("perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def measure(spark, wl, tracer, seconds: float) -> dict:
    """The first iteration, then the steady closed loop until ``seconds``
    have passed since the first ended (at least one steady iteration).
    Every iteration is checked; checks are not timed."""
    walls, outs, failures = [], [], []
    attempted = failed = 0
    io0 = None
    with probes.RssSampler() as rss:
        t_steady = None
        while t_steady is None or time.perf_counter() - t_steady < seconds:
            wl.reset()
            tracer.iteration = len(walls)
            t0 = time.perf_counter()
            try:
                out = wl.iterate(spark, tracer)
            except Exception:       # an engine failure is a failed operation
                out = None
                failures.append(traceback.format_exc(limit=3))
            walls.append(time.perf_counter() - t0)
            bad = ["<iteration raised>"] if out is None else wl.check(out)
            attempted += wl.calls
            failed += wl.calls if out is None else len(bad)
            if bad and out is not None:
                failures.append(f"iteration {len(walls) - 1}: {bad}")
            outs.append(out)
            if len(walls) == 1:
                t_steady = time.perf_counter()
                io0 = snapshot_io()
        io = io_delta(io0, snapshot_io())
    return {"walls": walls, "outs": outs, "attempted": attempted,
            "failed": failed, "failures": failures, "io": io,
            "peak_rss_mb": rss.peak_kb / 1024.0}


def snapshot_io() -> dict[int, dict]:
    return {pid: probes.tree_io([pid]) for pid in probes.process_tree()}


def io_delta(before: dict, after: dict) -> dict[str, int]:
    """Counter growth of the process tree between two snapshots; processes
    that started in between count from zero."""
    tot = {"syscr": 0, "syscw": 0, "rchar": 0, "wchar": 0}
    for pid, cur in after.items():
        old = before.get(pid, {})
        for k in tot:
            tot[k] += max(cur[k] - old.get(k, 0), 0)
    return tot


def steady(m) -> list[float]:
    return m["walls"][1:]


def end_to_end(setup, m) -> dict[str, float]:
    # an iteration that raised has no output and processed nothing
    items = [o["items"] if o else 0 for o in m["outs"][1:]]
    return {
        "setup_s": stats.median(setup),
        "items_per_s": stats.median(items) / stats.median(steady(m)),
        "first_iter_s": m["walls"][0],
    }


def reported(wl, m) -> dict[str, dict]:
    """The design's other end-to-end figures, printed in the summary but
    not bounded (README.md, "End-to-end metrics")."""
    outs = [o for o in m["outs"][1:] if o]
    out = wl.throughputs(outs, stats.median(steady(m))) if outs else {}
    out["iter_tail_s"] = (stats.tail(steady(m))[0], "s")
    out["peak_rss_mb"] = (m["peak_rss_mb"], "MB")
    out["failed_frac"] = (stats.failed_frac(m["attempted"], m["failed"]),
                          "ratio")
    return {k: {"value": round(v, 6), "unit": u} for k, (v, u) in out.items()}


def enable_event_log(spark, directory: str) -> None:
    """Switch the Spark event log on for sessions created after this call,
    through JVM system properties (which every new SparkConf reads)."""
    os.makedirs(directory, exist_ok=True)
    system = spark.sparkContext._jvm.java.lang.System
    for key, val in (("spark.eventLog.enabled", "true"),
                     ("spark.eventLog.dir", f"file://{directory}"),
                     ("spark.eventLog.compress", "false"),
                     ("spark.eventLog.rolling.enabled", "false")):
        system.setProperty(key, val)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    # Python workers exit when the JVM closes their pipes; wait for them
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        left = [p for p in probes.process_tree() if p != os.getpid()]
        if not left:
            return
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def versions() -> dict[str, str]:
    import numpy
    import pyarrow
    import pyspark
    return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__,
            "python": sys.version.split()[0]}


def run_traced(spark, wl, work: str, cores: int, seconds: float, *,
               setup: float, untraced: dict):
    """Restart the session with the event log on, run the loop again with
    spans, and turn spans and event log into the per-layer metrics.
    Stops the session; returns the traced measurement and the metrics."""
    import layers
    from gdal_spark.operators import spatial_join
    from gdal_spark.plans.lineage import StageRunner

    events = os.path.join(work, "events")
    enable_event_log(spark, events)
    spark.stop()
    spark = start_session(cores)
    tracer = probes.Tracer(spark)
    tracer.wrap(spatial_join, "pip_join", "spatial_join.build")
    tracer.wrap(StageRunner, "stage", "lineage.stage", label_arg=1)
    traced = measure(spark, wl, tracer, seconds)
    bytes_written = getattr(wl, "bytes_written", lambda: 0)()
    stop_spark(spark)       # flushes and closes the event log
    ev = probes.EventLog(os.path.join(events, os.listdir(events)[0]))
    its = set(range(1, len(traced["walls"])))
    metrics = layers.per_layer(
        tracer, ev, its, setup_s=setup,
        pairs=sum(traced["outs"][i]["pairs"] for i in its
                  if traced["outs"][i]),
        bytes_written=bytes_written,
        decoded_bytes=getattr(wl, "decoded_bytes", 0),
        io=traced["io"], peak_rss_mb=untraced["peak_rss_mb"],
        overhead=stats.median(steady(traced))
        / stats.median(steady(untraced)) - 1.0)
    traces = os.path.join(os.path.dirname(work), "traces")
    os.makedirs(traces, exist_ok=True)
    tracer.dump(os.path.join(traces, os.path.basename(work) + ".spans.json"))
    return traced, metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import gdal_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {root}: {e}",
              file=sys.stderr)
        return 2

    import numpy as np

    import layers
    from workloads import WORKLOADS

    work = os.path.join(root, ".perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(root, work)
    cores = os.cpu_count() or 1
    cpu0 = probes.cpu_times()
    spark = None
    try:
        # each set-up launches a new JVM; the first counts from process start
        spark = start_session(cores)
        setup = [time.perf_counter() - T_START]
        for _ in range(SETUP_SAMPLES - 1):
            stop_spark(spark)
            t0 = time.perf_counter()
            spark = start_session(cores)
            setup.append(time.perf_counter() - t0)

        wl = WORKLOADS[args.workload]()
        t0 = time.perf_counter()
        sizes = wl.prepare(spark, work, np.random.default_rng(args.seed))
        inputs_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        runs = [measure(spark, wl, probes.Tracer(), args.seconds)]
        measure_s = time.perf_counter() - t0
        if args.trace:
            traced, metrics = run_traced(
                spark, wl, work, cores, args.seconds,
                setup=stats.median(setup), untraced=runs[0])
            spark = None
            runs.append(traced)
            units = {k: layers.unit(k) for k in metrics}
        else:
            metrics = end_to_end(setup, runs[0])
            units = END_TO_END
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    _, pct, beyond = stats.tail(steady(runs[0]))
    summary = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": cores, "master": f"local[{cores}]",
        "versions": versions(), "inputs": sizes,
        "inputs_s": round(inputs_s, 3),
        "measure_s": round(measure_s, 3),
        "run_s": round(time.perf_counter() - T_START, 3),
        "steal_share": round(probes.steal_share(cpu0, probes.cpu_times()), 3),
        "setup_samples_s": [round(s, 3) for s in setup],
        "first_iter_s": round(runs[0]["walls"][0], 3),
        "steady_walls_s": [round(w, 3) for w in steady(runs[0])],
        "steady_part_s": [o and {k: round(v, 3) for k, v in
                                 o["part_s"].items()}
                          for o in runs[0]["outs"][1:]],
        "reported": reported(wl, runs[0]),
        "iter_tail_percentile": round(pct, 1),
        "iter_tail_samples_beyond": beyond,
        "calls_per_iter": wl.calls,
        "items": wl.unit_name,
        "notes": wl.notes,
        "failed_frac": stats.failed_frac(attempted, failed),
        "failures": [f for r in runs for f in r["failures"]][:5],
    }
    print("perfbench summary " + json.dumps(summary), flush=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
