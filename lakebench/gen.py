"""Seeded input generators (numpy + pyarrow) for the three workloads.

Every generator is a pure function of its seed and size arguments: the same
seed gives byte-identical inputs. The program under test only ever sees the
files these functions write (and the SQL text they produce).
"""

from __future__ import annotations

import datetime
import os
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATEGORIES = ("electronics", "clothing", "furniture")
NAMES = tuple(f"Product {c}" for c in "ABCDEFGHIJ")
_EPOCH = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)

CHURN_DDL = (
    "id INT, name STRING, category STRING, amount DECIMAL(10,2), "
    "created_at TIMESTAMP"
)
CHURN_TABLE = "bench.churn"

CDC_TABLE_DDL = "user_id BIGINT, ts TIMESTAMP, value DOUBLE"
CDC_STREAM_DDL = "user_id BIGINT, ts TIMESTAMP, value DOUBLE, seq BIGINT, op STRING"


def _rng(seed: int, stream: int) -> np.random.Generator:
    """Independent generator per (seed, purpose) so adding rows to one
    input never shifts the values of another."""
    return np.random.default_rng([int(seed), int(stream)])


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


# ------------------------------------------------------------ DML churn


@dataclass
class ChurnInputs:
    """Rows and statements of one DML churn instance.

    ``rows[name]`` holds the python tuples of each staged batch (the model's
    input); ``rounds`` holds, per round, the six statements as
    ``(kind, sql, args)`` with ``args`` the parameters the model needs.
    """

    rows: dict[str, list[tuple]] = field(default_factory=dict)
    rounds: list[list[tuple[str, str, tuple]]] = field(default_factory=list)


def _churn_rows(rng: np.random.Generator, ids: np.ndarray) -> list[tuple]:
    n = len(ids)
    names = rng.integers(0, len(NAMES), n)
    cats = rng.integers(0, len(CATEGORIES), n)
    cents = rng.integers(100, 100_000, n)
    secs = rng.integers(0, 366 * 86400, n)
    return [
        (
            int(i),
            NAMES[int(a)],
            CATEGORIES[int(c)],
            Decimal(int(p)).scaleb(-2),
            _EPOCH + datetime.timedelta(seconds=int(s)),
        )
        for i, a, c, p, s in zip(ids, names, cats, cents, secs)
    ]


def _churn_arrow(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows))
    return pa.table(
        {
            "id": pa.array(cols[0], pa.int32()),
            "name": pa.array(cols[1], pa.string()),
            "category": pa.array(cols[2], pa.string()),
            "amount": pa.array(cols[3], pa.decimal128(10, 2)),
            "created_at": pa.array(cols[4], pa.timestamp("us", tz="UTC")),
        }
    )


def churn_inputs(
    seed: int, base_rows: int, batch_rows: int, n_rounds: int
) -> ChurnInputs:
    """Rows and statement text for ``n_rounds`` churn rounds.

    DELETE and UPDATE predicates are ``id % m = k`` shapes (m drawn from
    [17, 41]) so each removes or rewrites a few percent of the rows in
    every data dir, which is what makes positional delete files pile up.
    """
    rng = _rng(seed, 1)
    out = ChurnInputs()
    out.rows["stage_bulk"] = _churn_rows(rng, np.arange(base_rows))
    next_id = base_rows
    t = CHURN_TABLE
    for r in range(n_rounds):
        view = f"stage_r{r:03d}"
        out.rows[view] = _churn_rows(
            rng, np.arange(next_id, next_id + batch_rows)
        )
        next_id += batch_rows
        dm = int(rng.integers(17, 42))
        dk = int(rng.integers(0, dm))
        um = int(rng.integers(17, 42))
        uk = int(rng.integers(0, um))
        cat = CATEGORIES[int(rng.integers(0, len(CATEGORIES)))]
        point = int(rng.integers(0, next_id))
        lo = int(rng.integers(0, next_id))
        hi = lo + int(rng.integers(batch_rows, 4 * batch_rows))
        out.rounds.append(
            [
                ("insert", f"INSERT INTO {t} SELECT * FROM {view}", (view,)),
                ("delete", f"DELETE FROM {t} WHERE id % {dm} = {dk}", (dm, dk)),
                (
                    "update",
                    f"UPDATE {t} SET amount = amount * 1.1 "
                    f"WHERE category = '{cat}' AND id % {um} = {uk}",
                    (cat, um, uk),
                ),
                ("count", f"SELECT COUNT(*) AS n FROM {t}", ()),
                (
                    "point",
                    f"SELECT id, name, category, amount, created_at FROM {t} "
                    f"WHERE id = {point}",
                    (point,),
                ),
                (
                    "range",
                    f"SELECT COUNT(*) AS n, SUM(amount) AS s FROM {t} "
                    f"WHERE id BETWEEN {lo} AND {hi}",
                    (lo, hi),
                ),
            ]
        )
    return out


def stage_churn(inputs: ChurnInputs, stage_dir: str) -> dict[str, tuple[str, int, int]]:
    """Write every staged batch as one parquet file.

    Returns ``{view: (path, rows, bytes)}``.
    """
    staged = {}
    for view, rows in inputs.rows.items():
        path = os.path.join(stage_dir, f"{view}.parquet")
        staged[view] = (path, len(rows), _write(_churn_arrow(rows), path))
    return staged


# -------------------------------------------------------- streaming CDC


@dataclass
class CdcInputs:
    base: pa.Table  # pre-load: one row per key
    files: list[pa.Table]  # change files, in trigger order


def cdc_inputs(
    seed: int, keys: int, n_files: int, rows_per_file: int, delete_share: float
) -> CdcInputs:
    """Pre-load rows for ``keys`` keys and ``n_files`` change files.

    Keys are uniform over the keyspace; a ``delete_share`` of ops are
    ``D``, the rest ``U``. ``ts`` and ``seq`` rise strictly across all
    files, so "last writer" is the same whether decided within a batch
    (by ``ts, seq``) or across batches (by trigger order).
    """
    rng = _rng(seed, 2)
    base = pa.table(
        {
            "user_id": pa.array(np.arange(keys), pa.int64()),
            "ts": pa.array(
                [_EPOCH] * keys, pa.timestamp("us", tz="UTC")
            ),
            "value": pa.array(
                np.round(rng.uniform(0, 1000, keys), 2), pa.float64()
            ),
        }
    )
    files = []
    seq = 0
    for _ in range(n_files):
        n = rows_per_file
        seqs = np.arange(seq + 1, seq + n + 1)
        seq += n
        files.append(
            pa.table(
                {
                    "user_id": pa.array(rng.integers(0, keys, n), pa.int64()),
                    "ts": pa.array(
                        [_EPOCH + datetime.timedelta(milliseconds=int(s)) for s in seqs],
                        pa.timestamp("us", tz="UTC"),
                    ),
                    "value": pa.array(
                        np.round(rng.uniform(0, 1000, n), 2), pa.float64()
                    ),
                    "seq": pa.array(seqs, pa.int64()),
                    "op": pa.array(
                        np.where(rng.random(n) < delete_share, "D", "U"),
                        pa.string(),
                    ),
                }
            )
        )
    return CdcInputs(base, files)


def stage_cdc(inputs: CdcInputs, landing: str, base_path: str) -> tuple[int, int]:
    """Write the pre-load file and the change files.

    Change files get strictly increasing modification times, one second
    apart, because the file stream source admits files oldest first.
    Returns ``(change_rows, change_bytes)``.
    """
    _write(inputs.base, base_path)
    os.makedirs(landing, exist_ok=True)
    t0 = 1_700_000_000
    n_bytes = 0
    for i, f in enumerate(inputs.files):
        path = os.path.join(landing, f"part-{i:04d}.parquet")
        n_bytes += _write(f, path)
        os.utime(path, (t0 + i, t0 + i))
    return sum(f.num_rows for f in inputs.files), n_bytes


# ------------------------------------------------ operator fixture tables

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_STATUS = ("F", "O", "P")
_PRIO = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _choice(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _ts_ms(rng, start: datetime.datetime, days: int, n: int) -> pa.Array:
    day = rng.integers(0, days, n)
    return pa.array(
        [start + datetime.timedelta(days=int(d)) for d in day],
        pa.timestamp("ms"),
    )


def fixture_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten fixture tables the registry queries read (FIXTURES.md
    schemas: TPC-H-like star plus events, documents, embeddings), with
    uniform random values. ``scale`` 1.0 gives lineitem 60,000 rows."""
    rng = _rng(seed, 3)
    n_cust = max(int(1500 * scale), 50)
    n_supp = max(int(100 * scale), 10)
    n_part = max(int(2000 * scale), 50)
    n_ord = max(int(15000 * scale), 200)
    n_line = 4 * n_ord
    n_ev = max(int(10000 * scale), 500)
    n_users = max(int(150 * scale), 30)
    n_docs = max(int(500 * scale), 100)
    n_vec = max(int(500 * scale), 100)
    t = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(
                np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)
            ),
            "c_mktsegment": pa.array(_choice(rng, _SEGMENTS, n_cust), pa.string()),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(
                np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)
            ),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                [
                    f"{a} {b}"
                    for a, b in zip(
                        _choice(rng, _ADJ, n_part), _choice(rng, _NOUN, n_part)
                    )
                ]
            ),
            "p_brand": pa.array(
                [f"Brand#{i}" for i in rng.integers(1, 26, n_part)]
            ),
            "p_type": pa.array(_choice(rng, _PTYPES, n_part), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900 + (np.arange(n_part) % 1000) / 10, 2)
            ),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(_choice(rng, _STATUS, n_ord), pa.string()),
            "o_totalprice": pa.array(
                np.round(rng.uniform(1000, 500000, n_ord), 2)
            ),
            "o_orderdate": _ts_ms(
                rng, datetime.datetime(1995, 1, 1), 2405, n_ord
            ),
            "o_orderpriority": pa.array(_choice(rng, _PRIO, n_ord), pa.string()),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(float)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(
                np.round(rng.uniform(900, 105000, n_line), 2)
            ),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(
                _choice(rng, ("A", "N", "R"), n_line), pa.string()
            ),
            "l_linestatus": pa.array(_choice(rng, ("F", "O"), n_line), pa.string()),
            "l_shipdate": _ts_ms(rng, datetime.datetime(1995, 1, 2), 2497, n_line),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(
                [
                    datetime.datetime(2024, 1, 1) + datetime.timedelta(microseconds=int(u))
                    for u in ev_us
                ],
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": pa.array(_choice(rng, _EVENT_TYPES, n_ev), pa.string()),
            "value": pa.array(
                np.round(np.maximum(rng.exponential(50, n_ev), 0.01), 2)
            ),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]
            ),
        }
    )
    texts = [
        " ".join(_choice(rng, _VOCAB, int(n)))
        for n in rng.integers(8, 100, n_docs)
    ]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(_choice(rng, _LANGS, n_docs), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    vecs = rng.normal(0, 0.13, (n_vec, 64)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
        }
    )
    return t


def stage_fixtures(tables: dict[str, pa.Table], sf_dir: str) -> tuple[int, int]:
    """Write ``<sf_dir>/<name>.parquet``; returns ``(rows, bytes)``."""
    rows = n_bytes = 0
    for name, table in tables.items():
        n_bytes += _write(table, os.path.join(sf_dir, f"{name}.parquet"))
        rows += table.num_rows
    return rows, n_bytes
