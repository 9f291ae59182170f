"""The warm-up leaves nothing in the run's metrics, and operation ids stay
unique across it (the event log groups Spark jobs by them)."""

from types import SimpleNamespace

from lakebench.trace import Tracer
from lakebench.workloads import Context


class _SparkContext:
    def setJobGroup(self, group, description):
        pass

    def setLocalProperty(self, key, value):
        pass

    def statusTracker(self):
        return SimpleNamespace(getJobIdsForGroup=lambda group: [])


def test_end_warmup_forgets_what_the_warmup_recorded():
    spark = SimpleNamespace(sparkContext=_SparkContext())
    ctx = Context(spark, "", seed=1, seconds=0, tracer=Tracer())
    ctx.layer["run_ids"] = {"run-a": "ingest:0"}
    with ctx.op("ingest"):
        pass
    ctx.layer["table_state"].append((3, 1, 0, 2))
    ctx.end_warmup()
    assert ctx.ops == [] and ctx.tracer.spans == []
    assert ctx.layer["table_state"] == [] and ctx.layer["write_amp"] == []
    assert ctx.layer["run_ids"] == {"run-a": "ingest:0"}
    with ctx.op("ingest") as rec:
        pass
    assert rec.id == "ingest:1"
    assert [o.id for o in ctx.ops] == ["ingest:1"]
    assert [s.op for s in ctx.tracer.spans] == ["ingest:1"]
