"""Repository benchmark: the medallion CDC pipeline and the store drains,
each checked against an oracle.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end figures, measured untraced; with --trace 1 they are the
per-layer figures from a traced run, which also writes its spans to
`.perfbench/trace-<workload>-<seed>.json`. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

import workloads
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "emr_apache_iceberg_workshop_spark")
OUT_DIR = os.path.join(ROOT, ".perfbench")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.RUNNERS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Point every temp and scratch location of this process, the JVM and
    Spark at `work`, so a run leaves nothing behind once it is removed."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


def _session_confs(work: str) -> dict[str, str]:
    return {
        # no hsperfdata file in /tmp; JVM temp files under `work`
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the streaming state-store maintenance thread must not outlive the
        # run and print after the result line
        "spark.sql.streaming.stateStore.maintenanceInterval": "2h",
    }


def _stop(spark) -> None:
    """Stop every stream, then the session, then the JVM, and wait for it."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(PKG_DIR):
        print(f"package not found: {PKG_DIR}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    os.makedirs(OUT_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"work-{args.workload}-", dir=OUT_DIR)
    _isolate(work)

    result = None
    spark = None
    tracer = Tracer() if args.trace else None
    try:
        # package code that prints must not land after the result line
        with contextlib.redirect_stdout(sys.stderr):
            ctx = workloads.Context(
                seed=args.seed, seconds=args.seconds, work=work, tracer=tracer,
                confs=_session_confs(work),
            )
            result = workloads.run(args.workload, ctx)
            spark = ctx.spark
            if tracer is not None:
                tracer.dump(os.path.join(
                    OUT_DIR, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
