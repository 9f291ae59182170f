"""The churn statement checks pass when the engine agrees with the model and
catch a model that diverges from it.

The engine here is a stand-in that answers every statement from its own
honest model, so the test starts no SparkSession: one started in the pytest
process would launch that process's single JVM with the benchmark's
settings, and every Spark test collected after this module would inherit
them. Real-engine agreement (engine scan, DuckDB raw-file read and model)
is checked by every benchmark run, where a mismatch counts as a failed
operation.
"""

from types import SimpleNamespace

from lakebench import gen, workloads
from lakebench.model import ChurnModel

SIZES = {"base_rows": 2000, "batch_rows": 100, "rounds": 2}


class AgreeingEngine:
    """Stands in for ``EngineSQL`` on the statement path."""

    last_scan_pruning: dict = {}

    def __init__(self, inputs: gen.ChurnInputs) -> None:
        self.inputs = inputs
        self.model = ChurnModel()
        self.model.insert(inputs.rows["stage_bulk"])
        self.parsed = {sql: (kind, args) for r in inputs.rounds for kind, sql, args in r}

    def execute_one(self, sql: str):
        kind, args = self.parsed[sql]
        rows = self.model.apply(kind, args, self.inputs.rows) or []
        return SimpleNamespace(df=SimpleNamespace(collect=lambda: rows))


def _run_statements(model: ChurnModel, seed: int = 3):
    ctx = workloads.Context(SimpleNamespace(sparkContext=None), "", seed=seed, seconds=0)
    part = workloads.ChurnPart(ctx)
    part.inputs = gen.churn_inputs(
        seed, SIZES["base_rows"], SIZES["batch_rows"], SIZES["rounds"]
    )
    eng = AgreeingEngine(part.inputs)
    model.insert(part.inputs.rows["stage_bulk"])
    for stmts in part.inputs.rounds:
        for kind, sql, args in stmts:
            part._statement(eng, model, kind, sql, args)
    return ctx, part, eng


def test_statement_checks_pass_when_engine_and_model_agree():
    ctx, part, eng = _run_statements(ChurnModel())
    assert ctx.failed == 0, ctx.checks
    assert ctx.attempted == 2 * 6
    assert len(part.dml) == 6 and len(part.reads) == 6


def test_churn_checks_catch_a_wrong_update():
    wrong = ChurnModel()
    wrong.update = lambda *args: None
    ctx, _, eng = _run_statements(wrong)
    assert eng.model.table() != wrong.table()
    assert ctx.failed > 0
    assert all("result != model" in c for c in ctx.checks)
