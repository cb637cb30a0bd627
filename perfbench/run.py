"""End-to-end, layer-by-layer benchmark of the KAZA engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run is one driver process on ``local[nproc]``, a closed loop with one
client:

1. make the workload's inputs from ``--seed`` (``gen.py``), or reuse them
   from ``.bench_data/inputs`` in the checkout; the engine sees only these
   generated tables;
2. set up ``N_SETUPS`` times: start a SparkSession through the engine's
   ``get_spark`` (the first set-up also launches the JVM), then warm the
   JVM and the Python workers with one small fused tile-assignment job.
   Every set-up but the last stops its SparkContext, and with it the
   Python workers; the next one starts a fresh context in the same JVM.
   The jobs run in the last one;
3. submit jobs back to back until ``--seconds`` have passed since the first
   one and at least ``MIN_JOBS`` have run. A job is one workload iteration
   (``workloads.py``); the next is submitted after the previous returned
   and its output was checked. The first job of a process is cold, as every
   job is when the batch scripts under ``jobs/`` run under spark-submit.

``--trace 0`` prints the end-to-end metrics:

* ``setup_s``      median set-up of step 2 (input generation is excluded;
                   the first set-up, with the JVM launch, is the per-layer
                   ``session.launch_s``);
* ``wall_s``       median time of the warm jobs (all but the first), first
                   engine call to the output on the driver (the output
                   check runs after the clock stops); the cold first job is
                   the per-layer ``trace.cold_wall_s``;
* ``items_per_s``  input items of one job over ``wall_s``: images on
                   corpus, observations on landcover_annual.

A job that raises or whose output check fails counts in ``failed`` out of
``attempted`` (their ratio is the failed fraction); ``correct`` is false if
any failed.

``--trace 1`` follows the cold job with traced jobs, each paired with an
untraced one, and prints the per-layer metrics named in BENCHMARK.json:
span times, Spark job/stage/task counts and executed-plan SQL metrics per
layer (``spans.py``), layer probes, single-threaded kernel timings
(``microbench.py``), memory high-water marks, and ``trace.overhead_s``
(median traced minus median untraced warm job). It writes the per-layer
values and the span table to ``.bench_data/results/`` and prints both on
stderr.

The last line of stdout is the JSON result; the line before it records the
host (nproc, ``local[]`` width, versions), the seed, the input sizes and
every set-up and job time.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".bench_data")

N_SETUPS = 3       # set-ups per run (the first launches the JVM); setup_s is their median
MIN_JOBS = 3       # jobs per run at least (one cold, then warm ones)


def _spec() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env() -> None:
    """Keep every file Spark and its Python workers write inside the
    checkout, and let the workers import the engine from it."""
    for d in ("tmp", "spark-local", "warehouse", "work", "results"):
        os.makedirs(os.path.join(DATA, d), exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = os.path.join(DATA, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(DATA, "spark-local")
    sys.path[:0] = [ROOT]


# ------------------------------------------------------------- session

def _start_session(nproc: int):
    """One set-up: SparkSession start (the first one in a process also
    launches the JVM), then a warm-up job that runs the JVM side (codegen,
    shuffle) and fresh Python workers (engine imports)."""
    from pyspark.sql import functions as F

    from kaza_lcms_spark.operators import spatial_join as SJ
    from kaza_lcms_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]",
                      shuffle_partitions=2 * nproc, extra_conf={
        "spark.local.dir": os.path.join(DATA, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(DATA, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(DATA, 'tmp')}",
    })
    t1 = time.perf_counter()
    ids = spark.range(0, nproc * 4096, numPartitions=nproc).select(
        F.format_string("img_%012d", F.col("id")).alias("image_id"))
    SJ.zonal_stats(SJ.assign_images_fused(
        spark, ids, SJ.load_polygon_index_from_fixture())).collect()
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def _stop_session(spark) -> None:
    """Stop the SparkContext (its scheduler, block manager and Python worker
    daemon), then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    gw.shutdown()
    gw.proc.stdin.close()       # the JVM exits when its stdin closes
    gw.proc.wait(timeout=60)


def _status_mb(pid: int | str, key: str) -> float:
    """A ``/proc/<pid>/status`` memory field (``VmHWM``, ``VmRSS``) in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _reset_driver_peak() -> float:
    """Reset the driver's peak RSS to its current RSS and return that RSS
    (MB), so the peak read later covers only what runs after this call."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")
    return _status_mb("self", "VmRSS")


def _descendants(pid: int) -> list[int]:
    parents: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parents.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        kids = parents.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _memory(driver_base_mb: float, driver_peak_mb: float) -> dict:
    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc.pid
    workers = [_status_mb(p, "VmHWM") for p in _descendants(jvm)]
    return {"session.jvm_hwm_mb": _status_mb(jvm, "VmHWM"),
            "session.py_hwm_mb": driver_peak_mb - driver_base_mb,
            "session.worker_hwm_mb": max(workers or [0.0])}


# --------------------------------------------------------------- loop

class Loop:
    """Runs iterations, times them, checks them, counts failures."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def _fail(self, e: Exception) -> None:
        self.failed += 1
        self.errors.append(f"{type(e).__name__}: {e}")
        traceback.print_exc(file=sys.stderr)

    def guard(self, fn):
        """Run a call outside the timed loop (trace-mode probes); a failure
        counts like a failed job."""
        try:
            return fn()
        except Exception as e:      # a failed run is counted, not fatal
            self.attempted += 1
            self._fail(e)
            return None

    def once(self) -> float | None:
        self.attempted += 1
        out = None
        try:
            t0 = time.perf_counter()
            out = self.wl.iteration()
            wall = time.perf_counter() - t0
            self.wl.check(out)
            self.wl.remember(out)
            return wall
        except Exception as e:      # a failed run is counted, not fatal
            self._fail(e)
            return None
        finally:
            if out is not None:
                self.wl.cleanup(out)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "kaza_lcms_spark", "__init__.py")):
        print(f"perfbench: engine package kaza_lcms_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    end_to_end, per_layer = _spec()
    _prepare_env()
    import gen
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    nproc = _nproc()
    input_dir, info = gen.ensure(args.workload, args.seed, os.path.join(DATA, "inputs"))
    work_dir = os.path.join(DATA, "work", f"{args.workload}_{args.seed}_{os.getpid()}")

    import numpy
    import pyarrow
    import pyspark

    from spans import Tracer, median, span_table

    spark = None
    starts, warms = [], []
    try:
        for _ in range(N_SETUPS):
            if spark is not None:
                spark.stop()    # the next set-up reuses the JVM
            spark, t_start, t_warm = _start_session(nproc)
            starts.append(t_start)
            warms.append(t_warm)
        tracer = Tracer(spark, enabled=False)
        wl = WORKLOADS[args.workload](spark, input_dir, info, work_dir, tracer)
        loop = Loop(wl)
        driver_base = _reset_driver_peak()
        cold, walls, traced, iter_spans = [], [], [], []
        t_end = time.perf_counter() + args.seconds
        while True:
            w = loop.once()
            if w is not None:
                # the first job of a process is cold; wall_s is taken over
                # the warm ones after it
                (walls if loop.attempted > 1 else cold).append(w)
            if (time.perf_counter() >= t_end and loop.attempted >= MIN_JOBS
                    and (iter_spans or not args.trace)):
                break
            if args.trace:
                # the first job is cold: trace warm jobs, each followed by an
                # untraced one for the overhead comparison
                tracer.enabled = True
                tracer.start_run(f"job{loop.attempted + 1}")
                n0 = len(tracer.spans)
                with tracer.span("job"):
                    w = loop.once()
                tracer.enabled = False
                iter_spans.append(tracer.spans[n0:])
                if w is not None:
                    traced.append(w)
        driver_peak = _status_mb("self", "VmHWM")
        layers = {}
        if args.trace:
            tracer.enabled = True
            tracer.start_run("probes")
            wl.probe_spans = loop.guard(wl.probes) if loop.failed == 0 else None
            tracer.resolve()
            layers = {k: 0.0 for k in per_layer}
            if loop.failed == 0:
                layers.update(loop.guard(lambda: wl.layers(iter_spans)) or {})
            import microbench
            layers.update(microbench.run(args.seed))
            layers.update(_memory(driver_base, driver_peak))
            table = span_table(tracer)
            layers["spans.failed_tasks"] = float(sum(r["failed_tasks"] for r in table))
            layers["spans.stage_retries"] = float(sum(r["stage_retries"] for r in table))
            layers["trace.cold_wall_s"] = median(cold)
            layers["trace.untraced_wall_s"] = median(walls)
            layers["trace.traced_wall_s"] = median(traced)
            layers["trace.overhead_s"] = median(traced) - median(walls)
        layers["session.launch_s"] = starts[0] + warms[0]
        layers["session.start_s"] = median(starts)
        layers["session.warm_s"] = median(warms)
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    sizes = {k: v for k, v in info.items()
             if not isinstance(v, (dict, list)) or k in ("s2_bbox", "s2_classes")}
    host = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": nproc, "master": f"local[{nproc}]",
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "python": sys.version.split()[0],
            "inputs": sizes, "setups_s": [round(a + b, 4) for a, b in zip(starts, warms)],
            "cold_wall_s": [round(w, 4) for w in cold], "walls_s": [round(w, 4) for w in walls],
            "traced_walls_s": [round(w, 4) for w in traced], "errors": loop.errors[:5]}
    if args.trace:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in per_layer.items()}
        path = os.path.join(DATA, "results", f"{args.workload}_s{args.seed}_trace.json")
        with open(path, "w") as f:
            json.dump({"host": host, "per_layer": layers, "spans": table}, f, indent=1)
        _print_table(args.workload, metrics, table)
    else:
        wall = median(walls)
        values = {"setup_s": median([a + b for a, b in zip(starts, warms)]),
                  "wall_s": wall,
                  "items_per_s": wl.items() / wall if wall else 0.0}
        metrics = {k: {"value": values[k], "unit": u} for k, u in end_to_end.items()}
    print(json.dumps(host))
    print(json.dumps({"correct": loop.failed == 0, "attempted": loop.attempted,
                      "failed": loop.failed, "metrics": metrics}), flush=True)
    return 0


def _print_table(workload: str, metrics: dict, table: list[dict]) -> None:
    """Human-readable per-layer table on stderr."""
    err = sys.stderr
    print(f"\nper-layer metrics, workload {workload}", file=err)
    for k, m in metrics.items():
        print(f"  {k:40s} {m['value']:14.4f} {m['unit']}", file=err)
    print("\nspans (name, wall_s, self_s, jobs, tasks, py_total_s, shuffle_mb)", file=err)
    for r in table:
        print(f"  {r['run_id']:10s} {r['span']:28s} {r['wall_s']:8.3f} {r['self_s']:8.3f} "
              f"{r['jobs']:5d} {r['tasks']:6d} {r['py_total_s']:8.3f} {r['shuffle_mb']:8.3f}",
              file=err)


if __name__ == "__main__":
    sys.exit(main())
