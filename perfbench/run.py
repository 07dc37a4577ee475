#!/usr/bin/env python3
"""ssp_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run writes its inputs from the seed
under ``perfbench/_work`` (in a child process, which also computes the
expected outputs), sizes the session to the host and sets the session up
several times (the first launches the JVM, the others stop the session
and build it again in the same JVM). It then runs one cold
unit, whose outputs the check compares, and steady units for
``--seconds`` of measured time (at least the workload's ``min_units``),
and prints as its last stdout line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones in BENCHMARK.json;
with ``--trace 1`` the per-layer ones, taken from traced units that
alternate with untraced ones, plus the tracing overhead between the two.
A traced run must measure every layer its workload exercises (it fails
if one is missing) and reports 0 for the layers the workload does not
reach.
The line before it is the full record (host, probes, per-unit samples,
errors, and in a traced run every layer seen, spans in ``perfbench/_work``).

End-to-end metrics (a unit is a pass over the 46 queries, or a replay):

- ``setup_s``: median of the warm ``get_spark`` calls that set the
  session up again; the first, which also launches the JVM, is in the
  record.
- ``cold_s``: the first unit in the fresh session.
- ``pass_s``: median steady unit.
- ``records_per_s``: input records (table rows, words, events) per
  median steady unit.
- ``batch_ms_p50``, ``batch_ms_p90``: percentiles over the unit's items,
  each item (a query's build and action, or the micro-batch that reads
  file i, by its ``triggerExecution``) taken at its median over the
  steady units.

The peak resident memory of the process tree (the sum of each live
process's peak, read when the run ends: the driver, the JVM and the
Python workers still running then; workers that have already exited are
not counted) is per-layer ``memory.peak_rss_mb``, and in the record of
every run: with the JVM's heap growth its quartile spread over ten seeds
has reached 28%, more than an end-to-end bound allows.

Failed units (raised, timed out, or wrong output) are the ``failed``
count, out of ``attempted``; a run with any is not ``correct``.
"""

from __future__ import annotations

import argparse
import gc
import importlib
import json
import multiprocessing
import os
import pkgutil
import shutil
import signal
import statistics
import sys
import time
from concurrent.futures import ProcessPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_LIMIT_S = 170
N_SETUPS = 8  # the JVM launch, then 7 warm set-ups
MB = 1 << 20

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "pass_s": "s",
    "records_per_s": "records/s",
    "batch_ms_p50": "ms",
    "batch_ms_p90": "ms",
}

# the operator modules the headline queries call (every module is traced;
# the record's "layers" has the rest)
OPERATOR_MODULES = (
    "dedup", "fuzzy", "graph", "layout", "linalg", "recurrence",
    "relational", "similarity", "text", "windows",
)
PER_LAYER = {
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_share": "ratio",
    **{
        f"operators.{m}.{k}": u
        for m in OPERATOR_MODULES
        for k, u in (("calls", "count"), ("self_s", "s"), ("jobs", "count"))
    },
    "catalog.load_calls": "count",
    "catalog.load_s": "s",
    "catalog.cache_hit_ratio": "ratio",
    "spark.action_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.core_busy_ratio": "ratio",
    "pyworker.cpu_s": "s",
    "pyworker.share": "ratio",
    "memo.pinned_rdds_max": "count",
    "memo.queries_leaving_pinned": "count",
    "memo.pinned_mb": "MB",
    "streaming.batches": "count",
    "streaming.rows_per_batch": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.overhead_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "streaming.state_rows_removed": "count",
    "streaming.rows_dropped_by_watermark": "count",
    "memory.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
}
# measured on every workload, whatever its layers
ALWAYS_MEASURED = ("memory.", "trace.")


class RunTimeout(BaseException):
    """The whole run overran its limit. A BaseException, so that the
    per-unit handlers, which count failures and go on, do not catch it."""


def report(values: dict[str, float], trace: bool) -> dict[str, dict]:
    """The ``metrics`` object: every declared metric of the mode, by name
    with its unit; a missing or undeclared name is an error."""
    declared = PER_LAYER if trace else END_TO_END
    missing = sorted(set(declared) - set(values))
    extra = sorted(set(values) - set(declared))
    if missing or extra:
        raise KeyError(f"metrics missing {missing}, undeclared {extra}")
    return {k: {"value": float(values[k]), "unit": u} for k, u in declared.items()}


def per_layer_values(layers: dict[str, float], measured: tuple[str, ...]) -> dict[str, float]:
    """Every declared per-layer metric: the measured value where the name
    starts with one of the ``measured`` prefixes (a missing one is an
    error: that layer's measurement broke), and 0 where the workload does
    not reach the layer."""
    missing = [k for k in PER_LAYER if k.startswith(measured) and k not in layers]
    if missing:
        raise KeyError(f"layers not measured: {missing}")
    return {k: layers[k] if k.startswith(measured) else 0.0 for k in PER_LAYER}


def _prepare(wl, cores: int) -> dict:
    """Child-process body: write the inputs, compute the expected outputs
    and return the workload's state."""
    wl.prepare(cores)
    return vars(wl)


def _stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
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


def _repeat(unit, budget_s: float, min_units: int) -> list:
    """Run units back to back: at least ``min_units``, and more while the
    next one, taking as long as the last, still ends within ``budget_s``
    of measured time."""
    units = [unit()]
    while len(units) < min_units or sum(u.wall_s for u in units) + units[-1].wall_s <= budget_s:
        units.append(unit())
    return units


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def execute(workload: str, seed: int, seconds: float, trace: bool, host: dict, work: str) -> dict:
    import bench
    import spans
    import ssp_spark.catalog
    import ssp_spark.operators
    import ssp_spark.streaming
    from host import ProcTree
    from workloads import WORKLOADS, Ctx

    wl = WORKLOADS[workload](work, seed)
    tracer = spans.Tracer() if trace else None
    targets = {"catalog": ssp_spark.catalog, "streaming": ssp_spark.streaming}
    for info in pkgutil.iter_modules(ssp_spark.operators.__path__):
        targets[f"operators.{info.name}"] = importlib.import_module(
            f"ssp_spark.operators.{info.name}"
        )

    def traced(fn):
        undo = spans.instrument(tracer, targets)
        try:
            return fn()
        finally:
            undo()

    spark = None
    t_gen = time.perf_counter()
    # forked before the JVM starts; the generated data and the DuckDB
    # oracles stay out of the driver's peak memory
    with ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("fork")) as pool:
        vars(wl).update(pool.submit(_prepare, wl, host["cores"]).result())
    record = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "host": host, "prepare_s": time.perf_counter() - t_gen}
    try:
        # spans: run > workload > session set-ups, then pass or replay units
        roots = [tracer.open("run", "perfbench"), tracer.open("workload", workload)] if tracer else []
        setups = []
        for _ in range(N_SETUPS):
            if spark is not None:
                spark.stop()
            # a full collection starts each set-up from the same point,
            # so none of them pays for one triggered by the last
            gc.collect()
            t0 = time.perf_counter()
            if tracer:
                with tracer.span("session", "get_spark"):
                    spark = wl.session()
            else:
                spark = wl.session()
            setups.append(time.perf_counter() - t0)
        spark.sparkContext.setLogLevel("ERROR")
        ctx = Ctx(spark, host["cores"], tracer)
        cold = traced(lambda: wl.unit(ctx, cold=True)) if tracer else wl.unit(ctx, cold=True)
        ctx.tracer = None

        jt0, js0, jb0 = bench.cpu_jiffies()
        tr0 = bench.tree_jiffies()
        warm, traced_units = [], []
        if tracer:
            # after one more warm-up unit, untraced and traced units
            # alternate in the order u t t u ..., so the remaining drift
            # falls on both sides alike
            warm.append(wl.unit(ctx))
            steady = []

            def pair():
                plain_first = len(steady) % 2 == 0
                if plain_first:
                    steady.append(wl.unit(ctx))
                ctx.tracer = tracer
                u = traced(lambda: wl.unit(ctx))
                ctx.tracer = None
                if not plain_first:
                    steady.append(wl.unit(ctx))
                return u

            traced_units = _repeat(pair, seconds / 2, 2)
        else:
            steady = _repeat(lambda: wl.unit(ctx), seconds, wl.min_units)
        jt1, js1, jb1 = bench.cpu_jiffies()
        tr1 = bench.tree_jiffies()
        check_errors = wl.check(ctx)
        for span in reversed(roots):
            tracer.close(span)
        peak = ProcTree().peak_rss
    finally:
        if spark is not None:
            _stop_jvm(spark)
        if tracer:
            tracer.dump(os.path.join(HERE, "_work", f"trace-{workload}-{seed}.json"))

    units = [cold] + warm + steady + traced_units
    dt = max(jt1 - jt0, 1)
    record.update({
        "setup_s": setups,
        "jvm_launch_setup_s": setups[0],
        "cold_s": cold.wall_s,
        "steady_s": [u.wall_s for u in steady],
        "traced_s": [u.wall_s for u in traced_units],
        "latency_items": min(len(u.lat_ms) for u in steady),
        "steady_latency_ms": [u.lat_ms for u in steady],
        "steal_pct": 100.0 * (js1 - js0) / dt,
        "foreign_pct": 100.0 * max((jb1 - jb0) - (tr1 - tr0), 0) / dt,
        "errors": [e for u in units for e in u.errors] + check_errors,
    })
    attempted = sum(u.attempted for u in units)
    failed = sum(u.failed for u in units) + len(check_errors)
    pass_s = _median([u.wall_s for u in steady])
    # an item (a query, or the micro-batch reading file i) takes its
    # median over the steady units; the percentiles are over items
    n_items = min(len(u.lat_ms) for u in steady)
    lat = [_median([u.lat_ms[i] for u in steady]) for i in range(n_items)]
    values = {
        "setup_s": _median(setups[1:]),
        "cold_s": cold.wall_s,
        "pass_s": pass_s,
        "records_per_s": wl.records / pass_s if pass_s else 0.0,
        "batch_ms_p50": _percentile(lat, 0.5),
        "batch_ms_p90": _percentile(lat, 0.9),
    }
    record["peak_rss_mb"] = peak / MB
    if trace:
        # averaged over the traced units, of those measured in every one;
        # the catalog does its work in a fresh session, so its metrics
        # come from the (traced) cold unit
        common = set.intersection(*(set(u.layer) for u in traced_units))
        layers = {
            k: statistics.mean(u.layer[k] for u in traced_units)
            for k in sorted(common) if not k.startswith("catalog.")
        }
        layers.update({k: v for k, v in cold.layer.items() if k.startswith("catalog.")})
        traced_med = _median([u.wall_s for u in traced_units])
        layers["memory.peak_rss_mb"] = peak / MB
        layers["trace.overhead_s"] = traced_med - pass_s
        layers["trace.overhead_share"] = (traced_med - pass_s) / pass_s if pass_s else 0.0
        record["end_to_end_untraced"] = values
        record["layers"] = layers
        values = per_layer_values(layers, wl.layers + ALWAYS_MEASURED)
    record["values"] = values
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": report(values, trace), "record": record}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None,
                    help="session cores (default: this process's CPU affinity)")
    args = ap.parse_args(argv)

    missing = [p for p in ("bench.py", "ssp_spark", "tests/oracle_harness.py",
                           "scripts/bench_reference_workload.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the program, missing {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests"), os.path.join(ROOT, "scripts")]
    from host import fit_environment
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}, one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    host = fit_environment(ROOT, os.path.join(work, "tmp"), args.cores)

    def over_time(_sig, _frame):
        raise RunTimeout(f"run exceeded {RUN_LIMIT_S} s")

    signal.signal(signal.SIGALRM, over_time)
    signal.alarm(RUN_LIMIT_S)
    try:
        result = execute(args.workload, args.seed, args.seconds, bool(args.trace), host, work)
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
    record = result.pop("record")
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
