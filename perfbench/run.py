"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload quickstart --seed 1 --seconds 5 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are BENCHMARK.json's ``end_to_end``
metrics; with ``--trace 1`` its ``per_layer`` metrics, the layer table
is printed above the JSON line and the spans are written to
``.perfbench_work/``.  Metrics a workload never touches read 0.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"


def _configure_environment(workdir: Path) -> None:
    """One driver process on all of this machine's cores; Spark and
    Python scratch files stay under ``workdir``.  Must run before
    pyspark starts its JVM."""
    workdir.mkdir(exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    for var in ("HARMONY_FUSE_CELLS", "HARMONY_ALS_FUSE_ROWS", "HARMONY_CACHE_TABLES"):
        os.environ.pop(var, None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(workdir)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.local.dir={workdir} "
        f"--driver-java-options -Djava.io.tmpdir={workdir} pyspark-shell"
    )
    sys.path.insert(0, str(ROOT))


def _metrics(declared: list[dict], measured: dict, fill_zero: bool) -> dict:
    names = {m["name"] for m in declared}
    unknown = set(measured) - names
    if unknown:
        raise SystemExit(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    missing = names - set(measured)
    if missing and not fill_zero:
        raise SystemExit(f"metrics not measured: {sorted(missing)}")
    return {
        m["name"]: {"value": float(measured.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in declared
    }


def _print_layer_table(name: str, tracer, per_layer: dict) -> None:
    print(f"layer table, workload {name} (self time = span time minus its children's)")
    print(f"  {'layer':<22}{'spans':>7}{'total_s':>10}{'self_s':>10}")
    for layer, row in sorted(tracer.layer_table().items()):
        print(f"  {layer:<22}{row['spans']:>7}{row['total_s']:>10.3f}{row['self_s']:>10.3f}")
    print("  per-operation figures (median over steady operations):")
    for key in sorted(per_layer):
        print(f"    {key:<46}{per_layer[key]:>16.6g}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    _configure_environment(WORK)

    import harmony_spark  # noqa: F401  (fail before any work without the program)
    from pyspark import cloudpickle

    import cells
    import probes
    import workloads

    for module in (cells, probes):  # run on Python workers, which cannot import them
        cloudpickle.register_pickle_by_value(module)

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    try:
        res = workloads.WORKLOADS[args.workload](args.seed, args.seconds, bool(args.trace))
    finally:
        workloads.stop_jvm()
    ops, tracer = res["ops"], res["tracer"]

    for key, value in res["context"].items():
        print(f"{args.workload}: {key} = {value}")
    if args.trace:
        metrics = _metrics(declared["per_layer"], res["per_layer"], fill_zero=True)
        _print_layer_table(args.workload, tracer, res["per_layer"])
        tracer.dump(str(WORK / f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        metrics = _metrics(declared["end_to_end"], res["end_to_end"], fill_zero=False)
        for name, m in metrics.items():
            print(f"{args.workload}: {name} = {m['value']:.4f} {m['unit']}")
    print(f"{args.workload}: {ops.attempted - ops.failed}/{ops.attempted} operations passed")
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
