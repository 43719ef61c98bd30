#!/usr/bin/env python3
"""verde_spark benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload grid_spline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One client runs one Spark job at a time
on ``local[4]`` with BLAS/OpenMP pinned to one thread.  Inputs are page
tables generated from ``--seed`` into a scratch directory under
``.perfbench_work/`` (removed on exit).

``--trace 0`` prints the end-to-end metrics:

* ``setup_s``: CPU time of the process tree from process start to
  session up, inputs generated and prepared, and one discarded warm-up
  iteration; input generation and preparation are repeated three times
  and count with their median;
* ``cpu_s``: median user + system CPU time of the process tree (driver
  Python, JVM, Python workers) per timed iteration; iterations run until
  their wall times add up to ``--seconds``;
* ``peak_rss_mb``: peak summed RSS of the process tree during those
  iterations.

It also prints, outside the JSON, ``setup_wall_s`` (the same set-up in
wall time), ``wall_s`` (median iteration wall time) and ``rows_per_s``
(input rows / ``wall_s``).  On a shared virtual machine wall time follows
the other guests' load (see README.md), so the bounded metrics are CPU
time and memory.

``--trace 1`` prints the per-layer metrics: with the Spark event log on,
untraced iterations alternate with traced ones (job group per layer call,
outputs materialized); on ``grid_spline``, one iteration each on 2 cores
and on 1 core then gives ``scaling_eff``.

Every iteration's output is checked against NumPy/pandas oracles; the
last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

from proctree import PeakRssSampler, tree_cpu_seconds

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
SETUP_REPS = 3

LAYERS = ("pages", "blockreduce", "cells", "spline", "neighbors", "masks", "polygons", "model_selection")
LAYER_FIELDS = {
    "jobs": "count", "tasks": "count", "task_share": "ratio", "self_share": "ratio",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "python_in_mb": "MB",
}
SESSION_FIELDS = {
    "wall_s": "s", "driver_only_s": "s", "task_cpu_s": "s", "task_run_s": "s",
    "fetch_wait_s": "s", "gc_s": "s", "python_s": "s", "jobs": "count", "tasks": "count",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "python_in_mb": "MB",
    "trace_overhead_s": "s", "scaling_eff": "ratio",
}
#: waste ratio name → (layer, event-log counter, denominator from the workload)
RATIOS = {
    "neighbors.candidates_per_result": ("neighbors", "inner_join_rows", "knn_results"),
    "spline.halo_rows_per_point": ("spline", "halo_rows", "spline_points"),
    "polygons.candidates_per_match": ("polygons", "inner_join_rows", "polygon_matches"),
    "blockreduce.shuffle_rows_per_block": ("blockreduce", "shuffle_write_rows", "blocks"),
}


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{f}": u for layer in LAYERS for f, u in LAYER_FIELDS.items()}
    units.update({f"session.{f}": u for f, u in SESSION_FIELDS.items()})
    units.update(dict.fromkeys(RATIOS, "ratio"))
    return units


END_TO_END_UNITS = {"setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}


# -- environment and sessions ----------------------------------------------------


def configure_environment(work: str) -> None:
    """Pin native threads and keep every scratch file inside *work*; must
    run before pyspark or numpy start anything."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    path = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1", MKL_NUM_THREADS="1",
        TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        PYSPARK_PYTHON=sys.executable, PYTHONPATH=os.pathsep.join(path),
        PYTHONDONTWRITEBYTECODE="1",
        # the launcher JVM that spark-submit runs first
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    sys.dont_write_bytecode = True
    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, HERE]


def import_engine() -> None:
    """The engine must come from this checkout, never from elsewhere."""
    try:
        import verde_spark
    except ImportError as exc:
        raise SystemExit(f"perfbench: cannot import verde_spark from {ROOT}: {exc}")
    if os.path.dirname(os.path.abspath(verde_spark.__file__)) != os.path.join(ROOT, "verde_spark"):
        raise SystemExit(f"perfbench: verde_spark imported from {verde_spark.__file__}, not {ROOT}")


def start_session(cores: int, work: str, event_dir: str | None = None):
    from verde_spark.session import make_session

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": "8",
        "spark.driver.memory": "2g",
        # A pre-touched heap keeps the JVM's share of peak_rss_mb from
        # depending on when the collector happened to grow the heap.  C1
        # only: in a one-minute process the C2 compiler threads take more
        # CPU than their code saves (an iteration's CPU takes six
        # iterations to settle under C2, two under C1, and settles lower),
        # and they compete with the measured work for the four cores.
        "spark.driver.extraJavaOptions": (
            "-Xms2g -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.eventLog.enabled": "true" if event_dir else "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = make_session(f"local[{cores}]", "perfbench", **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM it launched to exit."""
    from pyspark import SparkContext
    from subprocess import TimeoutExpired

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except TimeoutExpired:
            proc.kill()
            proc.wait()


# -- iterations -------------------------------------------------------------------


class Runner:
    """Runs and checks iterations; counts attempts and failures."""

    def __init__(self, workload):
        self.wl = workload
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def iteration(self, spark, state, tracer, label):
        """(wall seconds, process-tree CPU seconds, result or None) of one
        checked iteration."""
        pid = os.getpid()
        cpu0, t0 = tree_cpu_seconds(pid), time.perf_counter()
        result = None
        try:
            with tracer.iteration(label):
                result = self.wl.iterate(spark, state, tracer)
            wall, cpu = time.perf_counter() - t0, tree_cpu_seconds(pid) - cpu0
            errors = self.wl.check(result)
        except Exception as exc:  # noqa: BLE001 - a failed iteration is counted, not fatal
            traceback.print_exc()
            wall, cpu = time.perf_counter() - t0, tree_cpu_seconds(pid) - cpu0
            errors = [f"{type(exc).__name__}: {exc}"]
        self.attempted += 1
        if errors:
            self.failed += 1
            self.errors.extend(f"{label}: {e}" for e in errors[:3])
        elif self.wl.reference is None:
            self.wl.reference = result
        return wall, cpu, (None if errors else result)


def clocks() -> tuple[float, float]:
    """(wall seconds, CPU seconds the process tree has used since it started)."""
    return time.perf_counter(), tree_cpu_seconds(os.getpid())


def since(t0: tuple[float, float]) -> tuple[float, float]:
    t1 = clocks()
    return t1[0] - t0[0], t1[1] - t0[1]


def run_untraced(wl, runner, args, work) -> dict:
    from workloads import NoTrace

    # set-up = process start -> session up -> inputs generated and prepared
    # -> one warm-up iteration.  Session start and the cold warm-up happen
    # once per process; generating and preparing the inputs is repeated into
    # fresh directories and its median replaces the first (cold) instance.
    # The repeats run between the timed iterations, so that these sample the
    # host over a longer span at no extra cost.  Each part is timed in wall
    # and in CPU seconds; (wall, cpu) pairs below.
    spark = start_session(CORES, work)
    t0 = clocks()
    paths = wl.generate(spark, os.path.join(work, "input0"))
    state = wl.prepare(spark, paths)
    inputs = [since(t0)]
    t0 = clocks()
    wl.build_oracle(spark, paths, state)
    untimed = since(t0)
    runner.iteration(spark, state, NoTrace(), "warmup")
    total = since((T_START, 0.0))
    once = [total[i] - untimed[i] - inputs[0][i] for i in (0, 1)]

    walls, cpus = [], []
    with PeakRssSampler() as rss:
        while len(inputs) < SETUP_REPS or sum(walls) < args.seconds:
            if len(inputs) < SETUP_REPS:
                wl.release(state)
                shutil.rmtree(os.path.join(work, f"input{len(inputs) - 1}"))
                t0 = clocks()
                paths = wl.generate(spark, os.path.join(work, f"input{len(inputs)}"))
                state = wl.prepare(spark, paths)
                inputs.append(since(t0))
            if sum(walls) < args.seconds:
                wall, cpu, _ = runner.iteration(spark, state, NoTrace(), len(walls))
                walls.append(wall)
                cpus.append(cpu)
    wl.release(state)
    spark.stop()
    setup = [once[i] + statistics.median(x[i] for x in inputs) for i in (0, 1)]
    wall = statistics.median(walls)
    for i, kind in enumerate(("wall", "cpu")):
        print(f"setup_once_{kind}_s {once[i]:.3f} inputs_{kind}_s {' '.join(f'{x[i]:.3f}' for x in inputs)}")
    print(f"iterations {len(walls)} walls_s {' '.join(f'{w:.3f}' for w in walls)} "
          f"cpus_s {' '.join(f'{c:.3f}' for c in cpus)}")
    print(f"setup_wall_s {setup[0]:.6g} s")
    print(f"wall_s {wall:.6g} s")
    print(f"rows_per_s {wl.pages_rows / wall:.6g} rows/s")
    return {
        "setup_s": setup[1],
        "cpu_s": statistics.median(cpus),
        "peak_rss_mb": rss.peak_mb,
    }


def run_traced(wl, runner, args, work) -> dict:
    from eventlog import EventLog, median_rows
    from workloads import NoTrace, SpanTracer

    # local[4] with the event log on: inputs, oracle and one warm-up
    # iteration, then untraced and traced iterations alternate for
    # --seconds, so that the tracing overhead compares iterations run at the
    # same JIT and host state
    event_dir = os.path.join(work, "events")
    spark = start_session(CORES, work, event_dir)
    paths = wl.generate(spark, os.path.join(work, "input"))
    state = wl.prepare(spark, paths)
    wl.build_oracle(spark, paths, state)
    runner.iteration(spark, state, NoTrace(), "warmup")
    tracer = SpanTracer(spark)
    untraced, traced, results = [], [], []
    deadline = time.perf_counter() + args.seconds
    while not traced or time.perf_counter() < deadline:
        untraced.append(runner.iteration(spark, state, NoTrace(), "untraced")[0])
        wall, _, result = runner.iteration(spark, state, tracer, len(traced))
        traced.append(wall)
        results.append(result)
    wl.release(state)
    spark.stop()
    (log_path,) = glob.glob(os.path.join(event_dir, "*"))
    log = EventLog(log_path)

    rows = []
    for label, result in enumerate(results):
        row = log.layer_metrics([s for s in tracer.spans if s.iteration == str(label)])
        total = row["session"]
        for values in row.values():
            values["task_share"] = values["task_run_s"] / total["task_run_s"] if total["task_run_s"] else 0.0
            values["self_share"] = values["self_s"] / total["self_s"]
        bases = wl.denominators(result) if result is not None else {}
        row["ratios"] = {
            name: row[layer][counter] / bases[base] if layer in row and bases.get(base) else 0.0
            for name, (layer, counter, base) in RATIOS.items()
        }
        rows.append(row)
    med = median_rows(rows)

    # scaling: one iteration on 2 cores, then on 1 core, each in a fresh
    # Spark context inside the same (already compiled) JVM
    scaling = {}
    for cores in (2, 1) if wl.scaling else ():
        spark = start_session(cores, work)
        state = wl.prepare(spark, paths)
        scaling[cores] = runner.iteration(spark, state, NoTrace(), f"local[{cores}]")[0]
        wl.release(state)
        spark.stop()

    print_layer_table(med)
    metrics = {}
    for layer in LAYERS:
        for f in LAYER_FIELDS:
            metrics[f"{layer}.{f}"] = med.get(layer, {}).get(f, 0.0)
    session = med["session"]
    for f in SESSION_FIELDS:
        metrics[f"session.{f}"] = session.get("self_s" if f == "wall_s" else f, 0.0)
    metrics["session.trace_overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    metrics["session.scaling_eff"] = scaling[1] / (2 * scaling[2]) if scaling else 0.0
    metrics.update(med["ratios"])
    print(f"untraced_walls_s {' '.join(f'{w:.3f}' for w in untraced)} "
          f"traced_walls_s {' '.join(f'{w:.3f}' for w in traced)}")
    if scaling:
        print(f"local1_s {scaling[1]:.3f} local2_s {scaling[2]:.3f}")
    return metrics


def print_layer_table(med) -> None:
    from eventlog import FIELDS

    print("layer " + " ".join(FIELDS))
    for layer in ("session",) + LAYERS:
        if layer in med:
            print(layer + " " + " ".join(f"{med[layer][f]:.4g}" for f in FIELDS))


# -- main --------------------------------------------------------------------------


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--scale", type=float, default=1.0,
                        help="input size factor (the smoke test uses a tiny one)")
    args = parser.parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        configure_environment(work)
        import_engine()
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            raise SystemExit(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        wl = WORKLOADS[args.workload](args.seed, args.scale)
        runner = Runner(wl)
        try:
            if args.trace:
                metrics, units = run_traced(wl, runner, args, work), per_layer_units()
            else:
                metrics, units = run_untraced(wl, runner, args, work), END_TO_END_UNITS
        finally:
            stop_jvm()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    print(f"workload {wl.name} seed {args.seed} input_rows {wl.pages_rows} cores {CORES}")
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    print(f"error_rate {runner.failed / runner.attempted:.6g} fraction ({runner.failed}/{runner.attempted})")
    for err in runner.errors[:10]:
        print(f"check failed: {err}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {name: {"value": value, "unit": units[name]} for name, value in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
