"""Generator determinism: same seed, same inputs; another seed, others."""

import hashlib
import os

from lakebench import gen


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_churn_inputs_deterministic_per_seed(tmp_path):
    a = gen.churn_inputs(5, 100, 10, 3)
    b = gen.churn_inputs(5, 100, 10, 3)
    c = gen.churn_inputs(6, 100, 10, 3)
    assert a.rows == b.rows and a.rounds == b.rounds
    assert a.rows != c.rows and a.rounds != c.rounds
    sa = gen.stage_churn(a, str(tmp_path / "a"))
    sb = gen.stage_churn(b, str(tmp_path / "b"))
    assert {v: _digest(p) for v, (p, _, _) in sa.items()} == {
        v: _digest(p) for v, (p, _, _) in sb.items()
    }
    assert sa["stage_bulk"][1] == 100 and sa["stage_r002"][1] == 10


def test_churn_statements_cover_every_kind():
    rounds = gen.churn_inputs(1, 100, 10, 2).rounds
    assert [k for k, _, _ in rounds[0]] == [
        "insert", "delete", "update", "count", "point", "range",
    ]


def test_cdc_inputs_deterministic_per_seed(tmp_path):
    a = gen.cdc_inputs(3, 100, 3, 50, 0.2)
    b = gen.cdc_inputs(3, 100, 3, 50, 0.2)
    c = gen.cdc_inputs(4, 100, 3, 50, 0.2)
    assert a.base.equals(b.base) and all(x.equals(y) for x, y in zip(a.files, b.files))
    assert not all(x.equals(y) for x, y in zip(a.files, c.files))
    rows, n_bytes = gen.stage_cdc(a, str(tmp_path / "land"), str(tmp_path / "base.parquet"))
    assert rows == 150 and n_bytes > 0
    mtimes = [os.path.getmtime(tmp_path / "land" / f"part-{i:04d}.parquet") for i in range(3)]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    ops = set(a.files[0].column("op").to_pylist())
    assert ops == {"D", "U"}


def test_fixture_tables_deterministic_per_seed():
    a = gen.fixture_tables(9, 0.05)
    b = gen.fixture_tables(9, 0.05)
    c = gen.fixture_tables(10, 0.05)
    assert set(a) == {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
