"""The benchmark's workloads.

Both follow one shape: set up ``SETUP_REPS`` times (each time a fresh
Spark session) and keep the last; run the first operation, which meets
an empty session; then repeat the steady operation until ``seconds``
have passed and at least ``*_MIN_WARM`` of them ran.  Output checks run
after each timed operation, outside its timing.  Each set-up and
operation is timed twice: wall seconds, and CPU seconds of the driver,
the JVM and the Python workers (cputime), which a shared host's steal
leaves out.  The gated figures are the CPU seconds; the wall seconds
are printed next to them.

* ``quickstart``: one harmony fit (constructor, ``run()``, materialized
  corrected embedding) is the operation.  9,478 cells, below the
  65,536-cell fuse cap, so the fused round kernel runs on one partition.
* ``query_mix``: one pass over ``MIX`` is the operation; the first pass
  builds the session-memoized intermediates, later passes reuse them.

In a traced run (``trace=True``) the same operations run with the
program's layer entry points wrapped (probes.Instruments) and the
per-layer figures of each operation read back.
"""

from __future__ import annotations

import json
import os
import pickle
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

import numpy as np

import cells
import checks
import probes
from cputime import tree_cpu_seconds
from spans import Tracer, union_length

HERE = Path(__file__).resolve().parent
DATA_DIR = str(HERE / "data")
SETUP_REPS = 4  # the first also starts the JVM and is not counted

QUICKSTART_CELLS = 9_478
QUICKSTART_MIN_WARM = 3
# numpy_ref is the cross-oracle tests/test_harmony_core.py pins at this tolerance
NUMPY_RTOL = NUMPY_ATOL = 2e-3
# integration must shrink the planted batch spread and keep the planted
# types apart; measured values sit near 0.13 and 0.98
MAX_BATCH_RESIDUAL = 0.5
MIN_TYPE_SEPARATION = 0.5

# Memo builders first, so the first pass is the one that fills the memo:
# q97 builds the LSH pair set, q117 reuses it and builds the LSH
# components, q225 builds the co-purchase edges.  q245 uses no memo, so
# a memo change should leave it flat.
MIX = (
    "q97_dedup_pipeline",
    "q117_leakage_free_split",
    "q225_pagerank",
    "q245_triple_itemsets",
)
WARMUP_QUERY = "q56_pricing_summary"  # outside the mix, no memo
TABLES = ("documents", "lineitem")
QUERY_MIN_WARM = 1


class Ops:
    """Counts operations attempted and failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, name: str, fn):
        """Run one timed operation; a raise counts as a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # a failing operation is a result, not a crash
            self.failed += 1
            print(f"operation {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return None

    def check(self, name: str, ok: bool) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check {name} failed", file=sys.stderr)
        return ok


def start_session():
    from harmony_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(timeout: float = 60) -> None:
    """Shut down the Spark JVM this process launched and wait for it to
    exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout)


def repeated_setup(setup):
    """Run ``setup`` SETUP_REPS times, stopping the session between
    runs; returns the last result (whose first item is the session),
    every run's wall seconds and every run's CPU seconds."""
    walls, cpus = [], []
    for rep in range(SETUP_REPS):
        t0, c0 = time.perf_counter(), tree_cpu_seconds()
        state = setup()
        walls.append(time.perf_counter() - t0)
        cpus.append(tree_cpu_seconds() - c0)
        if rep < SETUP_REPS - 1:
            state[0].stop()
    return state, walls, cpus


def median_of(dicts: list[dict]) -> dict:
    return {k: statistics.median(d[k] for d in dicts) for k in dicts[0]} if dicts else {}


# span name -> the per-layer figure that sums its durations
_SPAN_FIGURES = {
    "algorithm.init": "algorithm.init_s",
    "algorithm.run": "algorithm.run_s",
    "algorithm.correct": "algorithm.correct_s",
    "kmeans.init": "kmeans.init_s",
}


class Layers:
    """Per-operation layer figures for the traced run."""

    def __init__(self, spark, tracer: Tracer):
        self.tracer = tracer
        self.instruments = probes.Instruments(spark, tracer)
        self.counters = probes.SparkCounters(spark)
        self.instruments.install()

    def measure(self, fn):
        """Run ``fn`` and return its result with the layer figures of the
        jobs, kernels and memo calls it caused."""
        j0 = self.counters.next_job_id()
        before = self.instruments.snapshot()
        n_spans = len(self.tracer.spans)
        result = fn()
        after = self.instruments.snapshot()
        totals, intervals = self.counters.jobs(j0, self.counters.next_job_id())
        figures = {k: after[k] - before[k] for k in after}
        figures.update({f"session.{k}": v for k, v in totals.items()})
        figures["session.job_s"] = union_length(intervals)
        figures["session.cache_bytes"] = self.counters.cache_bytes()
        for s in self.tracer.spans[n_spans:]:
            if s.name == "algorithm.run":
                figures["algorithm.driver_s"] = s.seconds - union_length(intervals, s.start, s.end)
            if s.name in _SPAN_FIGURES:
                key = _SPAN_FIGURES[s.name]
                figures[key] = figures.get(key, 0.0) + s.seconds
        return result, figures


def _numpy_reference(Z: np.ndarray, codes: np.ndarray, params) -> tuple[np.ndarray, float]:
    """The NumPy fit in a child process with single-threaded BLAS."""
    single_thread = {v: "1" for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")}
    proc = subprocess.run(
        [sys.executable, str(HERE / "numpy_fit.py")],
        input=pickle.dumps((Z, codes, params)),
        capture_output=True,
        env={**os.environ, **single_thread},
        check=True,
        timeout=120,
    )
    return pickle.loads(proc.stdout)


def quickstart(seed: int, seconds: float, trace: bool) -> dict:
    from harmony_spark.core.algorithm import HarmonySpark

    n = QUICKSTART_CELLS
    tracer = Tracer(f"quickstart-{seed}", enabled=trace)
    ops = Ops()

    def setup():
        spark = start_session()
        train = cells.spark_cells(spark, seed, n, spark.sparkContext.defaultParallelism).persist()
        train.count()
        return spark, train

    (spark, train), setup_walls, setup_cpus = repeated_setup(setup)
    truth = cells.draw(seed, np.arange(n))
    layers = Layers(spark, tracer) if trace else None

    def fit():
        with tracer.span("op:fit"):
            t0, c0 = time.perf_counter(), tree_cpu_seconds()
            with tracer.span("algorithm.init"):
                model = HarmonySpark(train, [cells.BATCH_COL], id_col="cell_id")
            with tracer.span("algorithm.run"):
                result = model.run()
            with tracer.span("algorithm.correct"):
                out = result.persist()
                out.count()
            return model, out, time.perf_counter() - t0, tree_cpu_seconds() - c0

    def collect(df):
        pdf = df.select("cell_id", "z_corr").toPandas().sort_values("cell_id")
        return pdf["cell_id"].to_numpy(), np.stack(pdf["z_corr"].to_numpy()).astype(np.float64)

    reference, numpy_s = None, float("nan")
    fit_s, fit_cpu_s, fit_layers, quality = [], [], [], []
    t_measure = time.perf_counter()
    while len(fit_s) < 1 + QUICKSTART_MIN_WARM or time.perf_counter() - t_measure < seconds:
        done = ops.run("fit", lambda: layers.measure(fit) if layers else (fit(), {}))
        if done is None:
            break
        (model, out, secs, cpu), figures = done
        fit_s.append(secs)
        fit_cpu_s.append(cpu)
        if layers:
            figures["session.final_plan_ms"] = probes.plan_ms(out)
        ids, z = collect(out)
        out.unpersist()
        model.cleanup()
        figures["algorithm.rounds"] = len(model.kmeans_rounds)
        figures["algorithm.kmeans_iters"] = sum(model.kmeans_rounds)
        if len(fit_s) > 1:
            fit_layers.append(figures)
        if not ops.check("fit rows", checks.rows_ok(truth.cell_id, ids, z, cells.D)):
            continue
        if reference is None:
            levels = list(model.p.levels[0])
            codes = np.array([levels.index(cells.BATCH_LEVELS[b]) for b in truth.batch])[:, None]
            reference, numpy_s = _numpy_reference(truth.z, codes, model.p)
        ops.check("numpy_ref allclose", np.allclose(z, reference, rtol=NUMPY_RTOL, atol=NUMPY_ATOL))
        residual = checks.batch_residual(truth.z, z, truth.cell_type, truth.batch)
        separation = checks.type_separation(truth.z, z, truth.cell_type)
        quality.append((residual, separation))
        ops.check("integration quality", residual < MAX_BATCH_RESIDUAL and separation > MIN_TYPE_SEPARATION)

    if len(fit_s) < 2:
        raise SystemExit("quickstart: no steady fit completed")
    per_layer = {k: v for k, v in median_of(fit_layers).items() if not k.startswith("io.memo")}
    if layers:
        layers.instruments.uninstall()
        tracer.enabled = False
        untraced = ops.run("fit", fit)
        if untraced is not None:
            per_layer["trace.overhead_s"] = statistics.median(fit_s[1:]) - untraced[2]
            untraced[1].unpersist()
            untraced[0].cleanup()
        per_layer["kernels.bytes_computed"] = per_layer.get("kernels.rows", 0) * cells.D * 4
    if quality:
        per_layer["quality.batch_residual"] = statistics.median(q[0] for q in quality)
        per_layer["quality.type_separation"] = statistics.median(q[1] for q in quality)
    per_layer["baseline.numpy_fit_s"] = numpy_s
    per_layer["wall.cold_s"] = fit_s[0]
    per_layer["wall.warm_s"] = statistics.median(fit_s[1:])
    spark.stop()
    return {
        "ops": ops,
        "tracer": tracer,
        "end_to_end": {
            "setup_s": statistics.median(setup_cpus[1:]),
            "cold_cpu_s": fit_cpu_s[0],
            "warm_cpu_s": statistics.median(fit_cpu_s[1:]),
        },
        "per_layer": per_layer,
        "context": {
            "setup runs (s)": [round(t, 3) for t in setup_walls],
            "setup runs (cpu s)": [round(t, 3) for t in setup_cpus],
            "fit runs (s)": [round(t, 3) for t in fit_s],
            "fit runs (cpu s)": [round(t, 3) for t in fit_cpu_s],
            "cold_s (wall)": fit_s[0],
            "warm_s (wall)": statistics.median(fit_s[1:]),
            "numpy_ref_fit_s (single-threaded)": numpy_s,
            "batch_residual": per_layer.get("quality.batch_residual"),
            "type_separation": per_layer.get("quality.type_separation"),
        },
    }


def query_mix(seed: int, seconds: float, trace: bool) -> dict:
    """``seed`` does not apply: the input is the fixed table set in data/."""
    from harmony_spark import io
    from harmony_spark.registry import load_all

    os.environ["HARMONY_CACHE_TABLES"] = "1"
    expected = json.loads((HERE / "expected_hashes.json").read_text())
    specs = load_all()
    tracer = Tracer(f"query_mix-{seed}", enabled=trace)
    ops = Ops()

    def setup():
        spark = start_session()
        t0 = time.perf_counter()
        with tracer.span("io.table_cache"):
            for name in TABLES:
                io.table(spark, DATA_DIR, name)
        cache_s = time.perf_counter() - t0
        specs[WARMUP_QUERY].fn(spark, DATA_DIR).collect()
        return spark, cache_s

    (spark, table_cache_s), setup_walls, setup_cpus = repeated_setup(setup)
    layers = Layers(spark, tracer) if trace else None

    def run_query(name: str):
        with tracer.span(f"query:{name}"):
            t0, c0 = time.perf_counter(), tree_cpu_seconds()
            sdf = specs[name].fn(spark, DATA_DIR)
            rows = sdf.collect()
            return sdf, rows, time.perf_counter() - t0, tree_cpu_seconds() - c0

    def one_pass(label: str) -> tuple[float, float, dict]:
        total, total_cpu, figures = 0.0, 0.0, {}
        for name in MIX:
            done = ops.run(name, lambda: layers.measure(lambda: run_query(name)) if layers else (run_query(name), {}))
            if done is None:
                continue
            (sdf, rows, secs, cpu), f = done
            total += secs
            total_cpu += cpu
            ops.check(f"{name} hash", checks.result_hash(sdf.columns, rows) == expected[name])
            figures[f"query.{name}.{label}_s"] = secs
            if layers:
                f["session.final_plan_ms"] = probes.plan_ms(sdf)
                figures[f"query.{name}.{label}_jobs"] = f["session.jobs"]
                figures[f"query.{name}.{label}_shuffle_bytes"] = f["session.shuffle_read_bytes"]
                for k, v in f.items():
                    if k.startswith(("session.", "io.memo")):
                        figures[k] = figures.get(k, 0.0) + v
        if layers:
            figures["session.cache_bytes"] = layers.counters.cache_bytes()
        return total, total_cpu, figures

    with tracer.span("op:cold_pass"):
        cold_s, cold_cpu_s, cold_figures = one_pass("cold")
    warm_s, warm_cpu_s, warm_figures = [], [], []
    t_measure = time.perf_counter()
    while len(warm_s) < QUERY_MIN_WARM or time.perf_counter() - t_measure < seconds:
        with tracer.span("op:warm_pass"):
            secs, cpu, figures = one_pass("warm")
        warm_s.append(secs)
        warm_cpu_s.append(cpu)
        warm_figures.append(figures)

    per_layer = {k: v for k, v in median_of(warm_figures).items() if not k.startswith("io.memo")}
    per_layer.update({k: v for k, v in cold_figures.items() if k.startswith("query.")})
    if layers:
        for phase, figures in (("cold", cold_figures), ("warm", warm_figures[0])):
            per_layer[f"io.memo_builds_{phase}"] = figures["io.memo_builds"]
            per_layer[f"io.memo_hits_{phase}"] = figures["io.memo_hits"]
        layers.instruments.uninstall()
        tracer.enabled = False
        untraced, _, _ = one_pass("untraced")
        per_layer["trace.overhead_s"] = statistics.median(warm_s) - untraced
        per_layer["io.table_cache_s"] = table_cache_s
    per_layer["wall.cold_s"] = cold_s
    per_layer["wall.warm_s"] = statistics.median(warm_s)
    spark.stop()
    return {
        "ops": ops,
        "tracer": tracer,
        "end_to_end": {
            "setup_s": statistics.median(setup_cpus[1:]),
            "cold_cpu_s": cold_cpu_s,
            "warm_cpu_s": statistics.median(warm_cpu_s),
        },
        "per_layer": per_layer,
        "context": {
            "setup runs (s)": [round(t, 3) for t in setup_walls],
            "setup runs (cpu s)": [round(t, 3) for t in setup_cpus],
            "warm passes (s)": [round(t, 3) for t in warm_s],
            "cold, warm passes (cpu s)": [round(t, 3) for t in [cold_cpu_s] + warm_cpu_s],
            "cold_s (wall)": cold_s,
            "warm_s (wall)": statistics.median(warm_s),
            "per query, cold then warm passes (s)": {
                name: [round(f.get(f"query.{name}.{label}_s", float("nan")), 3)
                       for label, f in [("cold", cold_figures)] + [("warm", w) for w in warm_figures]]
                for name in MIX
            },
            "table_cache_s": table_cache_s,
        },
    }


WORKLOADS = {"quickstart": quickstart, "query_mix": query_mix}
