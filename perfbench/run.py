"""Repository benchmark: closed-loop batch build and delta merge on
``local[<cores>]``, with a separate traced run for per-layer metrics.

    python3 perfbench/run.py --workload batch_build --seed 0 --seconds 15 --trace 0

Prints diagnostics, then as its last stdout line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones. Every
file it writes lives under ``.perfbench_work/`` in the repository root
and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
# driver JVM heap, fixed rather than sized from host RAM (the engine's
# default) so runs on differently sized hosts configure the same JVM
DRIVER_MEM = "4g"

if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402
from perfbench.inputs import TINY, Sizes  # noqa: E402
from perfbench.metrics import E2E_UNITS, LAYER_UNITS  # noqa: E402


def _environment() -> None:
    """Everything Spark and its Python workers need, set before the JVM
    starts: workers import the package through PYTHONPATH whatever the
    current directory, and all scratch space stays under WORK."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        # the traced run reads every job and stage of the run back
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()
    ) + " pyspark-shell"


def _start_spark(cores: int):
    from entity_knowledge_in_bert_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for every
    process this run started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while host.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def _result(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> dict:
    missing = set(units) - set(values)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["batch_build", "delta_merge"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test corpus sizes")
    ap.add_argument("--corrupt-iteration", type=int, default=-1,
                    help="test hook: corrupt this iteration's output")
    args = ap.parse_args(argv)

    # fails here, before any work, where the package is absent
    import entity_knowledge_in_bert_spark  # noqa: F401

    from perfbench.common import Context
    from perfbench.workloads import WORKLOADS, run_untraced

    shutil.rmtree(WORK, ignore_errors=True)
    _environment()
    cores = len(os.sched_getaffinity(0))
    cpu0 = host.cpu_times()
    health = {"first_touch_gb_s": host.first_touch_gb_s(), "cores": cores}
    sizes = TINY if args.tiny else Sizes()
    spark = None
    try:
        with host.PeakRss() as rss:
            t0 = time.perf_counter()
            spark = _start_spark(cores)
            ctx = Context(spark, WORK, args.seed, sizes, cores,
                          corrupt_iteration=args.corrupt_iteration,
                          session_s=time.perf_counter() - t0)
            if args.trace:
                from perfbench.trace import run_traced

                out = run_traced(ctx)
            else:
                out = run_untraced(ctx, WORKLOADS[args.workload](), args.seconds)
        health["steal_share"] = host.steal_share(cpu0, host.cpu_times())
        # JVM heap growth makes peak RSS vary by tens of percent between
        # runs of equal work: a per-layer figure, not an end-to-end one
        health["peak_rss_mb"] = rss.peak / 2**20
        if args.trace:
            values = dict(out["metrics"])
            values.update({f"host.{k}": health[k] for k in
                           ("peak_rss_mb", "first_touch_gb_s", "steal_share")})
            diag = {"host": health, "notes": out["notes"]}
            result = _result(out["correct"], out["attempted"], out["failed"],
                             values, LAYER_UNITS)
        else:
            walls = out["walls"]
            op_s = statistics.median(walls)
            attempted, failed = len(walls), out["failed"]
            values = {
                "op_s": op_s,
                "rows_per_s": out["input_rows"] / op_s,
                "quality": out["quality"],
                "setup_s": out["setup_s"],
                "passed_share": (attempted - failed) / attempted,
            }
            diag = {"host": health, "walls": walls, "setup_phases": out["phases"],
                    "session_s": ctx.session_s}
            result = _result(out["once_ok"] and failed == 0, attempted, failed,
                             values, E2E_UNITS)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(diag), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
