"""Run one benchmark workload and print its metrics as one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload olap_cached --seed 1 --seconds 10 --trace 0

Workloads: ``olap_cached``, ``lake_dml``, ``copy_io`` (see
perfbench/README.md). ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer metrics named in BENCHMARK.json. Inputs are
generated from ``--seed`` under a temporary directory inside the
checkout that is removed at exit; Spark runs in-process, sized to the
visible cores.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("olap_cached", "lake_dml_copy")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _configure_env(tmp: str) -> None:
    """Keep every file Spark writes under ``tmp`` and size the session
    to this host: one executor thread per visible core and a driver heap
    far below the engine's 16g default."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false "
        "pyspark-shell"
    )
    tempfile.tempdir = tmp


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="scale factor of the generated inputs (default: per workload)")
    ap.add_argument("--inject-fault", action="store_true",
                    help="corrupt one checked result; the run must then report it failed")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "pg_datalake_spark")):
        print("perfbench: pg_datalake_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    spec = _spec()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from common import Ctx, Tracer, end_to_end, stop_spark

    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    _configure_env(tmp)
    tracer = Tracer(enabled=bool(args.trace))
    ctx = Ctx(
        seed=args.seed, seconds=args.seconds, sf=args.sf, tmp=tmp, tracer=tracer,
        t_start=T_START, inject_fault=args.inject_fault,
    )
    try:
        workload = importlib.import_module(args.workload)
        res = workload.run(ctx)
        if args.trace:
            layers = workload.per_layer(ctx, res)
            # what tracing itself costs: compare trace.op_p50_s with the
            # untraced run's op_p50_s; overhead_frac is the tracer's own
            # bookkeeping time as a share of timed op time
            layers["trace.op_p50_s"] = statistics.median(o.seconds for o in res["ops"])
            layers["trace.overhead_frac"] = tracer.overhead_s / res["timed_s"]
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass  # another run still owns a directory in it

    ops = res["ops"]
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        by_kind.setdefault(o.kind, []).append(o.seconds)
    for kind, lat in sorted(by_kind.items()):
        print(f"# {kind}: n={len(lat)} p50={statistics.median(lat):.3f}s "
              f"max={max(lat):.3f}s", file=sys.stderr)
    # attempted/failed count every checked op: the timed ones and the
    # set-up warm-up ones (a wrong result in set-up is a failure too)
    checked = ops + res["warm"]
    attempted = len(checked)
    failed = sum(not o.ok for o in checked)
    if args.trace:
        tracer.dump(os.path.join(ROOT, ".perfbench_out",
                                 f"spans-{args.workload}-seed{args.seed}.jsonl"))
        values = {m["name"]: layers.get(m["name"], 0.0) for m in spec["per_layer"]}
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        values = end_to_end(ops, res["setup_s"], res["timed_s"])
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    metrics = {name: {"value": float(values[name]), "unit": units[name]} for name in units}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
