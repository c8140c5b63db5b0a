"""Benchmark entry point.

    python3 perfbench/run.py --workload score|refresh --seed N \\
        --seconds S --trace 0|1 [--cores 4] [--driver-mem 2g]

Run from the root of a checkout of the repository. The run starts one
Spark session on ``local[cores]``, sets up the workload's seeded inputs,
measures whole passes for at least ``--seconds`` seconds, checks every
result against an independent oracle and prints, as its last line, one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run also tags each layer call's Spark jobs and reports the per-layer
metrics, the tracing overhead and writes its spans to
``<work-dir>/spans/``. Two lines before the result, ``shape`` and
``report``, give the input shape and every end-to-end metric that applies
to the workload, with units.

All files the run writes stay under ``--work-dir`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCRATCH = ("spark-local", "tmp", "warehouse", "checkpoints")


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("score", "refresh"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4, help="local[cores]")
    ap.add_argument("--driver-mem", default="2g", help="SPARK_DRIVER_MEM (JVM heap)")
    ap.add_argument("--work-dir", default="perfbench/.work",
                    help="run files, relative to the checkout root")
    return ap.parse_args(argv)


def configure_environment(args, scratch: Path) -> None:
    """Launch settings that fit a small host, all inside the checkout.

    The driver heap is pinned (the engine's adaptive default floors it at
    16 GiB); the checkout goes on ``PYTHONPATH`` so the Arrow UDF workers
    can import ``engine``; shuffle, spill, warehouse and temporary files go
    under this run's own ``scratch`` directory."""
    for sub in SCRATCH:
        (scratch / sub).mkdir(parents=True)
    tmp = str(scratch / "tmp")
    os.environ.update(
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        SPARK_DRIVER_MEM=args.driver_mem,
        SPARK_LOCAL_DIRS=str(scratch / "spark-local"),
        SPARK_WAREHOUSE_DIR=str(scratch / "warehouse"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-XX:ErrorFile={scratch.parent}/hs_err_pid%p.log",
    )
    tempfile.tempdir = tmp
    sys.path.insert(0, str(ROOT))


def start_session(cores: int):
    import engine.session as session

    # get_spark evaluates its tmpfs fallback for spark.local.dir even when
    # SPARK_LOCAL_DIRS is set; point it at the checkout as well.
    session._local_dir = lambda: os.environ["SPARK_LOCAL_DIRS"]
    spark = session.get_spark(cores, app_name="perfbench", extra={
        "spark.ui.showConsoleProgress": "false",
        # The traced run reads job and stage counts back from the status
        # store; keep a whole PageRank call's stages in it.
        "spark.ui.retainedJobs": "5000",
        "spark.ui.retainedStages": "20000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse(argv)
    if not (ROOT / "engine" / "__init__.py").is_file():
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / args.work_dir
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    scratch = work / "runs" / run_id
    configure_environment(args, scratch)

    from perfbench import metrics
    from perfbench.stats import Ledger
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    try:
        t0 = time.perf_counter()
        spark = start_session(args.cores)
        session_s = time.perf_counter() - t0
        try:
            tracer = Tracer(spark, run_id, enabled=bool(args.trace))
            ledger = Ledger()
            ctx = Ctx(spark, tracer, ledger, args.seed, args.seconds, scratch)
            WORKLOADS[args.workload](ctx)
            if tracer.enabled:
                tracer.write(work / "spans" / f"{run_id}.jsonl")
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    e2e, report = metrics.end_to_end(args.workload, ctx, session_s)
    print("shape " + json.dumps(ctx.shape), flush=True)
    print("report " + json.dumps(report), flush=True)
    if ledger.errors:
        print("failures: " + "; ".join(ledger.errors), file=sys.stderr)
    out = metrics.per_layer(ctx, session_s) if tracer.enabled else e2e
    print(json.dumps({
        "correct": ledger.failed == 0 and bool(ctx.passes),
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": out,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
