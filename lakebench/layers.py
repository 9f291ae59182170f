"""Metric definitions and the summaries computed from one run.

``END_TO_END`` metrics are printed on the result line of an untraced run.
A traced run computes every metric of ``LAYER_DETAIL`` and prints them on
its detail line, where a layer the workload does not exercise reads 0; its
result line carries ``PER_LAYER``, the subset every workload measures.
"""

from __future__ import annotations

from lakebench import eventlog, stats
from lakebench.trace import Tracer, self_time_residuals, self_times
from lakebench.workloads import CDC, MIX_QUERIES, SPARK_CLASSES, Context

#: name -> unit. Each workload maps its own operations onto these roles
#: (README.md): ``op`` is its primary operation (DML statement; query),
#: ``op2`` its second one (CDC micro-batch; the query's build step),
#: ``read`` its read path (SELECTs and post-ingest scan; query execution).
#: An operation metric is the mean over the role's operation kinds of each
#: kind's median latency in the timed phase, so every kind weighs the same
#: whatever the number of its samples.
END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "op_s": "s",
    "op2_s": "s",
    "read_s": "s",
}

#: Largest allowed |operation wall - sum of the self times in its span tree|.
SELF_TIME_TOLERANCE_MS = 1.0

TABLE_CALLS = (
    "insert", "delete_where", "update_set", "merge_into", "delete_by_keys",
    "rewrite_data_files", "expire_snapshots",
)
SPARK_TOTALS = (
    "jobs", "tasks", "failed_tasks", "task_run_ms", "task_cpu_ms",
    "python_gap_ms", "gc_ms", "scheduler_delay_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "driver_only_s",
    "status_tracker_jobs",
)
SPARK_PER_CLASS = (
    "jobs", "tasks", "task_run_ms", "task_cpu_ms", "python_gap_ms", "gc_ms",
    "driver_only_s",
)

LAYER_DETAIL: dict[str, str] = {}
for _m in TABLE_CALLS:
    LAYER_DETAIL[f"table.{_m}.s"] = "s"
LAYER_DETAIL.update(
    {
        "table.scan.plan_s": "s",
        "table.scan.exec_s": "s",
        "table.data_dirs": "count",
        "table.delete_dirs": "count",
        "table.eq_deletes": "count",
        "table.snapshots": "count",
        "table.write_amp": "ratio",
        "table.scan.prune_ratio": "ratio",
        "sql_router.self_s": "s",
        "upgrade.execute_s": "s",
        "catalog.get_table_info.s": "s",
        "stream.addBatch_ms": "ms",
        "stream.overhead_ms": "ms",
        "stream.commits_per_batch": "count",
        "stream.addBatch_slope_ms": "ms",
    }
)
for _i in range(CDC["files"]):
    LAYER_DETAIL[f"stream.addBatch_ms.b{_i}"] = "ms"
LAYER_DETAIL.update({"operators.build_s": "s", "operators.exec_s": "s"})
for _q in MIX_QUERIES:
    LAYER_DETAIL[f"op.{_q}.build_s"] = "s"
    LAYER_DETAIL[f"op.{_q}.exec_s"] = "s"


def _spark_unit(m: str) -> str:
    if m.endswith("_ms"):
        return "ms"
    if m.endswith("_s"):
        return "s"
    return "bytes" if m.endswith("_bytes") else "count"


for _m in SPARK_TOTALS:
    LAYER_DETAIL[f"spark.{_m}"] = _spark_unit(_m)
for _c in SPARK_CLASSES:
    for _m in SPARK_PER_CLASS:
        LAYER_DETAIL[f"spark.{_c}.{_m}"] = _spark_unit(_m)
LAYER_DETAIL.update({"trace.selftime_residual_ms": "ms", "trace.spans": "count"})

#: Per-operation Spark work, which both workloads measure. Failed tasks and
#: spill stay on the detail line: both read 0 on every healthy run.
PER_LAYER = {
    k: LAYER_DETAIL[k]
    for k in (f"spark.{m}" for m in SPARK_TOTALS)
    if k not in ("spark.failed_tasks", "spark.spill_bytes")
}


def _median_or_zero(xs: list[float]) -> float:
    return stats.median(xs) if xs else 0.0


def end_to_end(session_s: float, res: dict) -> dict[str, float]:
    return {
        "setup_s": session_s + stats.median(res["setup_reps"]),
        "run_s": stats.median(res["iterations"]),
        "op_s": stats.mean_of_medians(res["op"]),
        "op2_s": stats.mean_of_medians(res["op2"]),
        "read_s": stats.mean_of_medians(res["read"]),
    }


def detail(workload: str, e2e: dict, res: dict) -> dict:
    """The workload's own named end-to-end metrics, tails with the
    percentile they are taken at and the sample count."""
    d = res["detail"]

    def timing(key: str, values: list[float]) -> dict:
        value, p, n = stats.tail(values)
        return {
            f"{key}_p50_s": {"value": stats.median(values), "unit": "s", "samples": len(values)},
            f"{key}_tail_s": {"value": value, "unit": "s", "percentile": p, "samples": n},
        }

    out = {
        "setup_s": {"value": e2e["setup_s"], "unit": "s"},
        "run_s": {"value": e2e["run_s"], "unit": "s", "samples": len(res["iterations"])},
        "cold_s": {"value": d["cold_s"], "unit": "s"},
        "samples_s": {k: res[k] for k in ("setup_reps", "iterations", "op", "op2", "read")},
    }
    if workload == "table_churn_cdc":
        out.update(timing("dml", d["dml"]))
        out.update(timing("read", d["read"]))
        out["maintenance_s"] = {"value": stats.median(d["maintenance_s"]), "unit": "s"}
        out["space_amp"] = {"value": stats.median(d["space_amp"]), "unit": "ratio"}
        out["ingest_rows_per_s"] = {"value": d["ingest_rows_per_s"], "unit": "1/s"}
        out.update(timing("batch", d["batch"]))
        out["post_ingest_read_s"] = {"value": stats.median(d["post_ingest_read_s"]), "unit": "s"}
        out["addBatch_ms_by_round"] = d["addBatch_ms_by_round"]
    else:
        out.update(timing("query", d["query"]))
        out["mix_cold_s"] = {"value": d["mix_cold_s"], "unit": "s"}
        out["warm_passes_s"] = d["warm_passes_s"]
    return out


def per_layer(
    ctx: Context, tracer: Tracer, groups: dict[str, eventlog.GroupStats], res: dict
) -> dict[str, float]:
    m = dict.fromkeys(LAYER_DETAIL, 0.0)
    spans = [s for s in tracer.spans if s.op is not None]
    st = self_times(tracer.spans)
    layer = ctx.layer

    def dur(name: str) -> list[float]:
        return [s.duration for s in spans if s.name == name]

    for call in TABLE_CALLS:
        m[f"table.{call}.s"] = _median_or_zero(dur(f"table.{call}"))
    m["table.scan.plan_s"] = _median_or_zero(dur("table.scan"))
    m["table.scan.exec_s"] = _median_or_zero(dur("table.scan.exec"))
    states = layer["table_state"]
    for i, key in enumerate(("data_dirs", "delete_dirs", "eq_deletes", "snapshots")):
        m[f"table.{key}"] = sum(s[i] for s in states) / len(states) if states else 0.0
    amps = layer["write_amp"]
    if amps:
        m["table.write_amp"] = sum(w for w, _ in amps) / sum(b for _, b in amps)
    if "prune" in layer:  # the workload ran SELECT statements
        prune = layer["prune"]
        cand = sum(c for _, c in prune)
        m["table.scan.prune_ratio"] = sum(r for r, _ in prune) / cand if cand else 1.0
    m["sql_router.self_s"] = _median_or_zero(
        [st[s.id] for s in spans if s.name == "sql_router.execute_one"]
    )
    m["upgrade.execute_s"] = _median_or_zero(dur("upgrade.execute_upgrade"))
    m["catalog.get_table_info.s"] = _median_or_zero(dur("catalog.get_table_info"))

    add_ms = layer.get("add_ms", [])
    if add_ms:
        trig = layer["trigger_ms"]
        flat_add = [a for r in add_ms for a in r]
        m["stream.addBatch_ms"] = stats.median(flat_add)
        m["stream.overhead_ms"] = stats.median(
            [t - a for tr, ad in zip(trig, add_ms) for t, a in zip(tr, ad)]
        )
        commits = layer["commits"]
        m["stream.commits_per_batch"] = sum(c for c, _ in commits) / sum(b for _, b in commits)
        by_index = [
            stats.median([r[i] for r in add_ms if len(r) > i])
            for i in range(max(len(r) for r in add_ms))
        ]
        # growth per batch index from batch 1 on: batch 0 of every stream
        # query is slower than batch 1, even after the warm-up
        m["stream.addBatch_slope_ms"] = stats.slope(by_index[1:])
        for i, v in enumerate(by_index[: CDC["files"]]):
            m[f"stream.addBatch_ms.b{i}"] = v

    if "query" in layer:
        m["operators.build_s"] = _median_or_zero(res["detail"]["build"])
        m["operators.exec_s"] = _median_or_zero(res["detail"]["exec"])
        for q, (b, e) in layer["query"].items():
            m[f"op.{q}.build_s"] = _median_or_zero(b)
            m[f"op.{q}.exec_s"] = _median_or_zero(e)

    _spark_metrics(m, ctx, groups)
    residuals = self_time_residuals(spans)
    m["trace.selftime_residual_ms"] = 1000 * max(residuals.values(), default=0.0)
    m["trace.spans"] = float(len(spans))
    return m


def _spark_metrics(m: dict, ctx: Context, groups: dict[str, eventlog.GroupStats]) -> None:
    """Per-operation means of the event-log counters, overall and per
    operation class; failed tasks are a total."""
    empty = eventlog.GroupStats()
    totals = dict.fromkeys(SPARK_TOTALS, 0.0)
    per_class = {c: dict.fromkeys(SPARK_PER_CLASS, 0.0) for c in SPARK_CLASSES}
    n_class = dict.fromkeys(SPARK_CLASSES, 0)
    for rec in ctx.ops:
        g = groups.get(rec.id, empty)
        values = dict(g.counters)
        values["jobs"] = g.jobs
        values["driver_only_s"] = eventlog.driver_only(rec.wall, g.job_intervals)
        values["status_tracker_jobs"] = rec.status_jobs
        for k in SPARK_TOTALS:
            totals[k] += values[k]
        if rec.cls in per_class:
            n_class[rec.cls] += 1
            for k in SPARK_PER_CLASS:
                per_class[rec.cls][k] += values[k]
    n_ops = max(len(ctx.ops), 1)
    for k, v in totals.items():
        m[f"spark.{k}"] = v if k == "failed_tasks" else v / n_ops
    for c, vals in per_class.items():
        for k, v in vals.items():
            m[f"spark.{c}.{k}"] = v / n_class[c] if n_class[c] else 0.0
