"""Run one workload of the lakehouse benchmark and print its metrics.

    python3 lakebench/run.py --workload table_churn_cdc --seed 1 \
        --seconds 8 --trace 0

Run from the repository root. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics every workload measures with
``--trace 1``. The line before it holds the workload's own named metrics
(tails with their percentile and sample count), the raw samples and, when
traced, every per-layer metric. All scratch files live under
``.lakebench_work/`` in the current directory and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

WORK = os.path.join(os.getcwd(), ".lakebench_work")
#: Task slots of the ``local[n]`` session (and its shuffle partitions): half
#: the usable cores, so the JVM's compiler and GC threads and the Python
#: driver keep cores of their own and a run measures the program rather
#: than the scheduler. On a 4-core VM the ops run as fast on 2 slots as on
#: 4: the inputs are small and the time goes to per-job work on the driver.
TASK_SLOTS = max(1, len(os.sched_getaffinity(0)) // 2)
# the checkout root: holds both this package and the program under test
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _prepare_env() -> None:
    """Keep every file Spark, the JVM and Python write inside WORK."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_GRAFT_CPUS"] = str(TASK_SLOTS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"


def _spark_conf(trace: bool) -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.local.dir": tmp,
        # The client (C1) JIT compiler only. On a 4-core VM of a shared host,
        # with the default tiered compilation the JVM used about 2.5 CPU
        # seconds per second of a timed operation and the run-to-run spread
        # of five seeds was 0.16-0.34; with C1 only, the medians stayed the
        # same and the spread fell to 0.04-0.13 (README.md).
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if trace:
        events = os.path.join(WORK, "events")
        os.makedirs(events, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _install_spans(tracer, ctx) -> None:
    """Wrap the program's public entry points (restored by unpatch)."""
    from iceberg_v2_to_v3_upgrade_spark.plans import upgrade
    from iceberg_v2_to_v3_upgrade_spark.sql_router import EngineSQL
    from iceberg_v2_to_v3_upgrade_spark.streaming import ingest
    from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog
    from iceberg_v2_to_v3_upgrade_spark.tables.table import LocalTable

    from lakebench.layers import TABLE_CALLS
    from lakebench.workloads import table_state

    def sample_state(args, _result):
        if tracer.op is not None:
            ctx.layer["table_state"].append(table_state(args[0]))

    tracer.patch(EngineSQL, "execute_one", "sql_router.execute_one")
    for call in TABLE_CALLS:
        tracer.patch(LocalTable, call, f"table.{call}", after=sample_state)
    tracer.patch(LocalTable, "scan", "table.scan")
    tracer.patch(LocalCatalog, "get_table_info", "catalog.get_table_info")
    tracer.patch(upgrade, "execute_upgrade", "upgrade.execute_upgrade")
    tracer.patch(ingest, "stream_cdc_into_table", "streaming.stream_cdc_into_table")


def _stop_spark(spark) -> None:
    """Stop the session and wait until the JVM it launched has exited
    (``SparkSession.stop`` leaves the JVM running until this process ends;
    the JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    from lakebench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _prepare_env()
    try:
        import iceberg_v2_to_v3_upgrade_spark.session as session
    except ImportError as exc:
        print(f"[lakebench] program not found: {exc}", file=sys.stderr)
        shutil.rmtree(WORK, ignore_errors=True)
        return 2

    from lakebench import eventlog, layers
    from lakebench.trace import Tracer
    from lakebench.workloads import Context

    trace = bool(args.trace)
    t0 = time.perf_counter()
    spark = session.get_spark(app_name="lakebench", extra_conf=_spark_conf(trace))
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0

    tracer = Tracer() if trace else None
    ctx = Context(spark, WORK, args.seed, args.seconds, tracer)
    try:
        if tracer is not None:
            _install_spans(tracer, ctx)
        res = WORKLOADS[args.workload](ctx)
    finally:
        if tracer is not None:
            tracer.unpatch()
        _stop_spark(spark)

    e2e = layers.end_to_end(session_s, res)
    detail = layers.detail(args.workload, e2e, res)
    if trace:
        groups = eventlog.parse_dir(
            os.path.join(WORK, "events"), ctx.layer.get("run_ids", {})
        )
        values = layers.per_layer(ctx, tracer, groups, res)
        ctx.attempt(
            values["trace.selftime_residual_ms"] < layers.SELF_TIME_TOLERANCE_MS,
            "span self times do not sum to their operation's wall time",
        )
        units = layers.PER_LAYER
        detail["traced_end_to_end"] = e2e
        detail["per_layer"] = {
            k: {"value": values[k], "unit": u} for k, u in layers.LAYER_DETAIL.items()
        }
    else:
        values, units = e2e, layers.END_TO_END
    print(json.dumps({"workload": args.workload, "detail": detail, "failed_checks": ctx.checks}))
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": {
                    k: {"value": values[k], "unit": u} for k, u in units.items()
                },
            }
        )
    )
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
