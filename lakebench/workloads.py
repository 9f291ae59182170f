"""The workloads. Each runs in a closed loop with one client (this
process) against one ``local[nproc]`` session.

A workload has a set-up step, repeated ``SETUP_REPS`` times so set-up time
is a median; an untimed warm-up that runs every operation kind of the unit
once, so the timed phase measures a warm JVM rather than class loading and
JIT compilation; and a timed loop that repeats a fixed unit of work (a
churn cycle plus a stream round, or a pass over the query list) until
``seconds`` have passed, at least once. Checks run between timed
operations with the clock stopped; a mismatch counts as a failed
operation. Latencies are kept per operation kind, so a summary can weigh
every kind equally whatever the mix of samples.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

import duckdb
import numpy as np

from lakebench import gen
from lakebench.model import ChurnModel, canon_rows, canon_value
from lakebench.trace import Tracer

SETUP_REPS = 3

#: Churn sizes: rows loaded by the bulk INSERT, rows per round INSERT,
#: rounds per cycle.
CHURN = {"base_rows": 2000, "batch_rows": 100, "rounds": 2}
#: CDC sizes: keyspace (= pre-loaded rows), change files (one per
#: trigger), rows per file, share of ``D`` ops.
CDC = {"keys": 5000, "files": 3, "rows_per_file": 500, "delete_share": 0.15}
#: Change files of the warm-up stream round.
CDC_WARM_FILES = 1
#: operator_query_mix fixture scale (1.0 = lineitem 60,000 rows).
MIX_SCALE = 0.1
#: Untimed passes before the timed ones: the cold pass, the first run of
#: every query in the session.
MIX_WARM_PASSES = 1
#: Timed passes per mix run, at least. The first timed pass is still a
#: little slower than the later ones; a per-query median over three passes
#: sets it aside.
MIX_MIN_PASSES = 3

#: operator_query_mix query list. Rule: for each family group, in this
#: order -- TPC-H ``q``; relational ``d/e/c/h/k``; dedup
#: ``n2*``; similarity ``n3*``; text ``n4*``; multimodal ``m`` -- the
#: first query in registry order that declares a DuckDB oracle and whose
#: function source names none of ``MIX_BANNED`` (so the mix never touches
#: the table engine or Structured Streaming). Frozen here so a registry
#: change cannot silently change the workload; tests/test_querylist.py
#: re-derives it.
MIX_GROUPS = (r"q\d", r"[dechk]\d", r"n2[a-z]?_", r"n3[a-z]?_", r"n4[a-z]?_", r"m\d")
MIX_QUERIES = (
    "q1_pricing_summary",
    "d1_count_star",
    "n2_fingerprint_dedup",
    "n3_topk_cosine",
    "n4_text_stats_by_lang",
    "m6_grouped_arrow_ols",
)
MIX_BANNED = (
    "LocalTable", "LocalCatalog", "EngineSQL", "readStream", "writeStream",
    "tables.", "streaming.",
)

#: Operation classes whose Spark work the traced run reports separately.
SPARK_CLASSES = ("dml", "read", "maint", "ingest", "scan", "build", "exec")


@dataclass
class OpRecord:
    id: str
    cls: str
    elapsed: float = 0.0
    wall: tuple[float, float] = (0.0, 0.0)
    status_jobs: int = 0


@dataclass
class Context:
    """Per-run state shared by a workload's set-up, loop and checks."""

    spark: object
    work: str
    seed: int
    seconds: float
    tracer: Tracer | None = None
    ops: list[OpRecord] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    n_ops: int = 0  # operation ids stay unique across the warm-up
    checks: list[str] = field(default_factory=list)
    # inputs of the per-layer summary, gathered during the run
    layer: dict = field(default_factory=lambda: {"table_state": [], "write_amp": []})

    @contextmanager
    def op(self, cls: str, label: str = "") -> Iterator[OpRecord]:
        """One timed operation. In a traced run it also sets a Spark job
        group and opens the operation's root span."""
        rec = OpRecord(f"{cls}:{self.n_ops}", cls)
        self.n_ops += 1
        sc = self.spark.sparkContext
        if self.tracer is not None:
            sc.setJobGroup(rec.id, label or cls)
            self.tracer.op = rec.id
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                with self.tracer.span(f"op.{cls}"):
                    yield rec
            else:
                yield rec
        finally:
            rec.elapsed = time.perf_counter() - t0
            rec.wall = (w0, time.time())
            if self.tracer is not None:
                rec.status_jobs = len(sc.statusTracker().getJobIdsForGroup(rec.id))
                sc.setLocalProperty("spark.jobGroup.id", None)
                self.tracer.op = None
            self.ops.append(rec)

    def end_warmup(self) -> None:
        """Forget the operations, spans and per-layer inputs the warm-up
        recorded: the run's metrics cover the timed phase only."""
        self.ops.clear()
        if self.tracer is not None:
            self.tracer.spans.clear()
        for v in self.layer.values():
            if isinstance(v, list):
                v.clear()

    def attempt(self, ok: bool, what: str) -> None:
        """Count one operation or check; a false ``ok`` counts it failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.checks.append(what)
            print(f"[lakebench] FAILED: {what}", file=sys.stderr)


def dir_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def _register_staged(spark, staged: dict) -> None:
    for view, (path, _, _) in staged.items():
        spark.read.parquet(path).createOrReplaceTempView(view)


def _timed_setup(fn) -> list[float]:
    reps = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        fn(rep)
        reps.append(time.perf_counter() - t0)
    return reps


def _phase(name: str) -> None:
    """Log the start of a phase (stderr), so a slow run shows where."""
    print(f"[lakebench] {time.strftime('%H:%M:%S')} {name}", file=sys.stderr, flush=True)


def _loop(ctx: Context, body, min_units: int = 1) -> None:
    """Repeat ``body(i)`` until ``ctx.seconds`` of timed-loop wall time
    have passed and it ran at least ``min_units`` times."""
    t0 = time.perf_counter()
    i = 0
    while i < min_units or time.perf_counter() - t0 < ctx.seconds:
        body(i)
        i += 1


def table_state(t) -> tuple[int, int, int, int]:
    """(data dirs, positional delete dirs, equality deletes, snapshots)."""
    snap = t.current_snapshot()
    return (
        len(snap.data_dirs),
        len(snap.delete_dirs),
        len(snap.eq_deletes),
        len(t.snapshots()),
    )


# ------------------------------------------------ table churn + CDC


class ChurnPart:
    """The reference's statement set sent as SQL through ``EngineSQL``:
    CREATE a partitioned V2 MoR table, bulk INSERT, rounds of {INSERT,
    DELETE, UPDATE, COUNT, point SELECT, range SELECT}, the V2->V3 upgrade
    (ALTER + compaction), post-compaction reads and snapshot expiry."""

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.db, self.name = gen.CHURN_TABLE.split(".")
        self.reset()
        ctx.layer["prune"] = []

    def reset(self) -> None:
        #: statement latencies by kind; reads after compaction are kind
        #: ``<kind>@v3`` (they no longer merge delete files)
        self.lat: dict[str, list[float]] = {}
        self.dml: list[float] = []
        self.reads: list[float] = []
        self.maint: list[float] = []
        self.space: list[float] = []

    def setup(self, rep: int) -> None:
        self.inputs = gen.churn_inputs(
            self.ctx.seed, CHURN["base_rows"], CHURN["batch_rows"], CHURN["rounds"]
        )
        staged = gen.stage_churn(
            self.inputs, os.path.join(self.ctx.work, f"churn_stage{rep}")
        )
        _register_staged(self.ctx.spark, staged)
        self.input_bytes = sum(b for _, _, b in staged.values())

    def _full_check(self, label: str, eng, model) -> list[tuple]:
        from iceberg_v2_to_v3_upgrade_spark.tables.duckdb_reader import duckdb_table_sql
        from iceberg_v2_to_v3_upgrade_spark.tables.table import LocalTable

        t = LocalTable(self.ctx.spark, eng.catalog.table_root(self.db, self.name))
        engine_rows = canon_rows(map(tuple, t.scan().collect()))
        con = duckdb.connect()
        try:
            duck_rows = canon_rows(con.execute(duckdb_table_sql(t)).fetchall())
        finally:
            con.close()
        self.ctx.attempt(engine_rows == duck_rows, f"churn {label}: engine scan != DuckDB read")
        self.ctx.attempt(engine_rows == model.table(), f"churn {label}: engine scan != model")
        return engine_rows

    def _statement(
        self, eng, model, kind: str, sql: str, args: tuple, suffix: str = ""
    ) -> float:
        ctx = self.ctx
        cls = "dml" if kind in ("insert", "delete", "update") else "read"
        with ctx.op(cls, kind) as rec:
            res = eng.execute_one(sql)
            if cls == "read":
                if ctx.tracer is not None:
                    with ctx.tracer.span("table.scan.exec"):
                        got = res.df.collect()
                else:
                    got = res.df.collect()
        (self.dml if cls == "dml" else self.reads).append(rec.elapsed)
        self.lat.setdefault(kind + suffix, []).append(rec.elapsed)
        if ctx.tracer is not None and eng.last_scan_pruning:
            for info in eng.last_scan_pruning.values():
                ctx.layer["prune"].append((info["read_dirs"], info["candidate_dirs"]))
        expected = model.apply(kind, args, self.inputs.rows)
        if expected is None:
            ctx.attempt(True, kind)
        else:
            ctx.attempt(
                canon_rows(map(tuple, got)) == canon_rows(expected),
                f"churn {kind} result != model ({sql})",
            )
        return rec.elapsed

    def cycle(self, tag: str, warm_up: bool = False) -> float:
        """One lifecycle on a fresh table; returns its timed seconds. The
        warm-up cycle runs the first round only and stops before the
        upgrade (a cold upgrade measured no slower than a warm one)."""
        from iceberg_v2_to_v3_upgrade_spark.plans import upgrade
        from iceberg_v2_to_v3_upgrade_spark.sql_router import EngineSQL
        from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog

        ctx, db, name = self.ctx, self.db, self.name
        rounds = self.inputs.rounds[:1] if warm_up else self.inputs.rounds
        cat = LocalCatalog(ctx.spark, os.path.join(ctx.work, f"churn_wh{tag}"))
        eng = EngineSQL(cat)
        model = ChurnModel()
        with ctx.op("create") as r1:
            eng.execute_one(
                f"CREATE TABLE glue_catalog.{gen.CHURN_TABLE} ({gen.CHURN_DDL}) "
                "USING iceberg PARTITIONED BY (category) TBLPROPERTIES ("
                "'format-version'='2', 'write.delete.mode'='merge-on-read', "
                "'write.update.mode'='merge-on-read')"
            )
        with ctx.op("bulk") as r2:
            eng.execute_one(f"INSERT INTO {gen.CHURN_TABLE} SELECT * FROM stage_bulk")
        model.insert(self.inputs.rows["stage_bulk"])
        ctx.attempt(True, "bulk insert")
        timed = r1.elapsed + r2.elapsed
        for stmts in rounds:
            for kind, sql, args in stmts:
                timed += self._statement(eng, model, kind, sql, args)
        if warm_up:
            return timed
        root = cat.table_root(db, name)
        # mid-churn: positional delete files are live until compaction
        before_rows = self._full_check("pre-upgrade", eng, model)
        bytes_before = dir_bytes(root)
        ctx.layer["write_amp"].append((bytes_before, self.input_bytes))
        with ctx.op("maint", "upgrade") as m1:
            res = upgrade.execute_upgrade(cat, db, name)
        ctx.attempt(res.ok and res.executed, f"upgrade: {res.message}")
        after_rows = self._full_check("post-upgrade", eng, model)
        ctx.attempt(before_rows == after_rows, "churn: rows changed by compaction")
        for kind, sql, args in rounds[-1][3:]:
            timed += self._statement(eng, model, kind, sql, args, "@v3")
        with ctx.op("maint", "expire") as m2:
            eng.execute_one(
                f"CALL system.expire_snapshots(table => '{gen.CHURN_TABLE}', "
                "older_than => TIMESTAMP '2999-01-01 00:00:00', retain_last => 1)"
            )
        ctx.attempt(True, "expire")
        self.maint.append(m1.elapsed + m2.elapsed)
        self.space.append(bytes_before / max(dir_bytes(root), 1))
        return timed + m1.elapsed + m2.elapsed


class CdcPart:
    """Seeded change files streamed one file per trigger through
    ``stream_cdc_into_table`` into a pre-loaded target, then one full
    scan."""

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.base_dir = os.path.join(ctx.work, "cdc")
        self.landing = os.path.join(self.base_dir, "landing")
        self.base_path = os.path.join(self.base_dir, "base", "base.parquet")
        self.targets: list = []
        self.trigger_ms: list[list[float]] = []
        self.add_ms: list[list[float]] = []
        ctx.layer.update(
            commits=[], run_ids={}, add_ms=self.add_ms, trigger_ms=self.trigger_ms
        )
        self.reset()

    def reset(self) -> None:
        self.batches: list[float] = []
        self.scans: list[float] = []
        self.ingest_rows = 0
        self.ingest_s = 0.0

    def _preload(self, tag: str, base_path: str):
        from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog

        cat = LocalCatalog(self.ctx.spark, os.path.join(self.base_dir, f"wh{tag}"))
        t = cat.create_table("stream_db", "target", gen.CDC_TABLE_DDL)
        t.insert(self.ctx.spark.read.parquet(base_path))
        return t

    def setup(self, rep: int) -> None:
        inputs = gen.cdc_inputs(
            self.ctx.seed, CDC["keys"], CDC["files"], CDC["rows_per_file"],
            CDC["delete_share"],
        )
        _, self.input_bytes = gen.stage_cdc(inputs, self.landing, self.base_path)
        self.input_bytes += os.path.getsize(self.base_path)
        self.targets.append(self._preload(str(rep), self.base_path))

    def warm_round(self) -> float:
        """The first ``CDC_WARM_FILES`` change files into a target of its
        own; returns the timed seconds."""
        warm = os.path.join(self.base_dir, "warm")
        landing = os.path.join(warm, "landing")
        base_path = os.path.join(warm, "base.parquet")
        inputs = gen.cdc_inputs(
            self.ctx.seed, CDC["keys"], CDC_WARM_FILES, CDC["rows_per_file"],
            CDC["delete_share"],
        )
        _, self.input_bytes = gen.stage_cdc(inputs, landing, base_path)
        target = self._preload("warm", base_path)
        return self.round("warm", target, landing, base_path, CDC_WARM_FILES)

    def timed_round(self, i: int) -> float:
        """Every change file into pre-loaded target ``i``."""
        if i >= len(self.targets):  # more rounds than pre-loaded targets
            self.targets.append(self._preload(str(i), self.base_path))
        return self.round(str(i), self.targets[i], self.landing, self.base_path, CDC["files"])

    def round(self, tag: str, t, landing: str, base_path: str, n_files: int) -> float:
        """Ingest the files of ``landing`` into ``t``, then scan it;
        returns the timed seconds."""
        from iceberg_v2_to_v3_upgrade_spark.streaming import ingest
        from iceberg_v2_to_v3_upgrade_spark.tables.table import LocalTable

        ctx, spark = self.ctx, self.ctx.spark
        snaps_before = len(t.snapshots())
        stream = (
            spark.readStream.schema(gen.CDC_STREAM_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        with ctx.op("ingest") as rec:
            q = ingest.stream_cdc_into_table(
                stream,
                t,
                keys=["user_id"],
                checkpoint_dir=os.path.join(self.base_dir, f"ckpt{tag}"),
                op_col="op",
                order_col=["ts", "seq"],
                drop_after_dedup=["seq"],
            )
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        ctx.layer["run_ids"][str(q.runId)] = rec.id
        ctx.attempt(q.exception() is None, "stream query failed")
        ctx.attempt(
            len(progress) == n_files,
            f"expected {n_files} micro-batches, got {len(progress)}",
        )
        trig = [p["durationMs"]["triggerExecution"] / 1000 for p in progress]
        self.batches.extend(trig)
        self.trigger_ms.append([x * 1000 for x in trig])
        self.add_ms.append([p["durationMs"].get("addBatch", 0) for p in progress])
        self.ingest_rows += sum(p["numInputRows"] for p in progress)
        self.ingest_s += rec.elapsed
        t = LocalTable(spark, t.root)
        ctx.layer["commits"].append((len(t.snapshots()) - snaps_before, len(progress)))
        with ctx.op("scan") as rec2:
            df = t.scan()
            if ctx.tracer is not None:
                with ctx.tracer.span("table.scan.exec"):
                    df.write.format("noop").mode("overwrite").save()
            else:
                df.write.format("noop").mode("overwrite").save()
        self.scans.append(rec2.elapsed)
        ctx.layer["write_amp"].append((dir_bytes(t.root), self.input_bytes))
        got = canon_rows(map(tuple, t.scan().collect()))
        ctx.attempt(
            got == _cdc_expected(landing, base_path),
            "stream: table != last-writer-wins over staged files",
        )
        return rec.elapsed + rec2.elapsed


def table_churn_cdc(ctx: Context) -> dict:
    """One unit = a churn cycle on a fresh table, then a CDC round on a
    pre-loaded one. The warm-up is a one-round churn cycle and a
    ``CDC_WARM_FILES`` stream round."""
    churn, cdc = ChurnPart(ctx), CdcPart(ctx)

    def setup(rep: int) -> None:
        churn.setup(rep)
        cdc.setup(rep)

    # warm up first, so the set-up reps measure warm pre-loads too
    _phase("warm-up")
    churn.setup("warm")
    cold = churn.cycle("warm", warm_up=True) + cdc.warm_round()
    ctx.end_warmup()
    churn.reset()
    cdc.reset()
    _phase("set-up")
    setup_reps = _timed_setup(setup)
    _phase("timed")
    units: list[float] = []
    _loop(ctx, lambda i: units.append(churn.cycle(str(i)) + cdc.timed_round(i)))
    _phase("end")
    reads = {k: v for k, v in churn.lat.items() if k not in ("insert", "delete", "update")}
    reads["post_ingest_scan"] = cdc.scans
    return {
        "setup_reps": setup_reps,
        "iterations": units,
        "op": {k: churn.lat[k] for k in ("insert", "delete", "update")},
        "op2": {"batch": cdc.batches},
        "read": reads,
        "detail": {
            "cold_s": cold,
            "dml": churn.dml,
            "read": churn.reads,
            "maintenance_s": churn.maint,
            "space_amp": churn.space,
            "batch": cdc.batches,
            "ingest_rows_per_s": cdc.ingest_rows / cdc.ingest_s,
            "post_ingest_read_s": cdc.scans,
            "addBatch_ms_by_round": cdc.add_ms,
        },
    }


def _cdc_expected(landing: str, base_path: str) -> list[tuple]:
    """Last writer wins per key over pre-load + change files, deletes
    remove the key -- computed by DuckDB straight from the staged files."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        rows = con.execute(
            f"""
            WITH ch AS (
                SELECT user_id, ts, value, seq, op
                FROM read_parquet('{landing}/*.parquet')
                UNION ALL
                SELECT user_id, ts, value, 0 AS seq, 'U' AS op
                FROM read_parquet('{base_path}')),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY seq DESC) AS rk
                FROM ch)
            SELECT user_id, ts, value FROM ranked WHERE rk = 1 AND op <> 'D'
            """
        ).fetchall()
    finally:
        con.close()
    return canon_rows(rows)


# ------------------------------------------------- operator query mix


def mix(ctx: Context) -> dict:
    from iceberg_v2_to_v3_upgrade_spark.io import TABLES
    from iceberg_v2_to_v3_upgrade_spark.registry import load_all_operators

    spark = ctx.spark
    registry = load_all_operators()
    sf_dir = os.path.join(ctx.work, "sf")

    def setup(rep: int) -> None:
        shutil.rmtree(sf_dir, ignore_errors=True)
        gen.stage_fixtures(gen.fixture_tables(ctx.seed, MIX_SCALE), sf_dir)

    _phase("set-up")
    setup_reps = _timed_setup(setup)
    # the seed permutes the order, so gains that depend on the preceding
    # query show up as spread
    perm = np.random.default_rng([ctx.seed, 4]).permutation(len(MIX_QUERIES))
    order = [MIX_QUERIES[i] for i in perm]
    passes, warm = [], []
    per_query = {q: [] for q in MIX_QUERIES}
    builds = {q: [] for q in MIX_QUERIES}
    execs = {q: [] for q in MIX_QUERIES}
    last_dfs = {}

    def run_pass(timed: bool) -> None:
        total = 0.0
        for name in order:
            with ctx.op("build", name) as b:
                if ctx.tracer is not None:
                    with ctx.tracer.span("registry.fn"):
                        df = registry[name].fn(spark, sf_dir)
                else:
                    df = registry[name].fn(spark, sf_dir)
            with ctx.op("exec", name) as e:
                df.write.format("noop").mode("overwrite").save()
            ctx.attempt(True, name)
            total += b.elapsed + e.elapsed
            last_dfs[name] = df
            if timed:
                per_query[name].append(b.elapsed + e.elapsed)
                builds[name].append(b.elapsed)
                execs[name].append(e.elapsed)
        (passes if timed else warm).append(total)

    _phase("warm-up")
    for _ in range(MIX_WARM_PASSES):
        run_pass(False)
    ctx.end_warmup()
    _phase("timed")
    _loop(ctx, lambda i: run_pass(True), MIX_MIN_PASSES)
    ctx.layer["query"] = {q: (builds[q], execs[q]) for q in MIX_QUERIES}
    _phase("oracle checks")
    _check_oracles(ctx, registry, last_dfs, sf_dir, TABLES)
    _phase("end")
    flat = [x for q in order for x in per_query[q]]
    return {
        "setup_reps": setup_reps,
        "iterations": passes,
        "op": per_query,
        "op2": builds,
        "read": execs,
        "detail": {
            "cold_s": warm[0],
            "mix_cold_s": warm[0],
            "warm_passes_s": warm,
            "query": flat,
            "build": [x for q in order for x in builds[q]],
            "exec": [x for q in order for x in execs[q]],
        },
    }


def _check_oracles(ctx: Context, registry, dfs: dict, sf_dir: str, tables) -> None:
    """Untimed: row count and order-insensitive values of each query's last
    result against its DuckDB oracle over the same generated files."""
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name, df in dfs.items():
            oracle = registry[name].oracle
            if oracle is None:
                continue
            got = _canon_result(df.columns, df.collect())
            rel = con.execute(oracle)
            want = _canon_result([d[0] for d in rel.description], rel.fetchall())
            ctx.attempt(got == want, f"{name}: result != DuckDB oracle")
    finally:
        con.close()


def _canon_result(columns: list[str], rows) -> list[tuple]:
    """Rows with columns in name order and floats rounded to 9 places,
    sorted -- the order-insensitive form the oracle comparison uses."""

    def canon(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{round(v, 9) + 0.0:.9f}"
        return repr(canon_value(v))

    return sorted(
        tuple(canon(x) for _, x in sorted(zip(columns, tuple(r)))) for r in rows
    )


WORKLOADS = {
    "table_churn_cdc": table_churn_cdc,
    "operator_query_mix": mix,
}
