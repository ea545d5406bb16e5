"""Seeded synthetic inputs for the benchmark.

The engine's tables (TESTDATA.md: a TPC-H-ish star schema, an ``events``
stream table, a ``documents`` corpus and ``embeddings``) are generated here
from the workload seed, with the same column names, types and value domains
as the reference test tables: one parquet file per table, one row group
each. The engine only ever sees the written files.

``write_tables`` writes the ten tables; ``write_event_batches`` writes the
``store_ingest`` micro-batches (updates to existing ``event_id``s mixed with
inserts). Both are pure functions of their arguments: the same seed gives
byte-identical files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


@dataclass(frozen=True)
class Scale:
    """Row counts. ``sf`` scales the star schema and events like the
    reference test tables of TESTDATA.md (sf0.1 = 600k lineitem rows); the
    corpus tables are sized on their own because the index builds scale
    with them."""

    sf: float
    documents: int
    embeddings: int
    #: events rows; None scales them with ``sf``
    events: int | None = None

    def rows(self, per_sf1: int) -> int:
        return max(1, int(round(per_sf1 * self.sf)))


def _write(table: pa.Table, path: str) -> None:
    # one file, one row group, like the reference tables; no wall-clock
    # metadata, so equal inputs give equal bytes
    pq.write_table(table, path, row_group_size=max(1, table.num_rows), compression="snappy")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start_us: int, span_days: int, n: int) -> pa.Array:
    us = start_us + rng.integers(0, span_days, n) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(
        pa.string()
    )


def _events(rng: np.random.Generator, ids: np.ndarray, users: int, t0_us: int, span_us: int) -> pa.Table:
    n = len(ids)
    ts = t0_us + np.sort(rng.integers(0, span_us, n))
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
    return pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": _pick(rng, _EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array(props.tolist(), pa.string()),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.array(_VOCAB)[rng.integers(0, len(_VOCAB), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    # 5% near duplicates (a copy of another document plus one token) and a
    # few exact copies, so the dedup indexes have pairs to find
    for i in rng.choice(n, max(1, n // 20), replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, _LANGS, n, p=_LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    m = rng.standard_normal((n, dim)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    flat = pa.array(m.ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def write_tables(out_dir: str, seed: int, scale: Scale, only: tuple[str, ...] = TABLES) -> str:
    """Write the engine's tables to ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    # one child stream per table: a table's rows do not depend on which
    # other tables were written
    streams = dict(zip(TABLES, np.random.SeedSequence(seed).spawn(len(TABLES))))
    n_cust, n_supp, n_part = scale.rows(150_000), scale.rows(10_000), scale.rows(200_000)
    n_ord, n_line = scale.rows(1_500_000), scale.rows(6_000_000)
    n_ev = scale.events or scale.rows(1_000_000)

    def build(name: str, rng: np.random.Generator) -> pa.Table:
        if name == "region":
            return pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS})
        if name == "nation":
            keys = np.arange(25, dtype=np.int32)
            return pa.table(
                {
                    "n_nationkey": keys,
                    "n_name": [f"NATION_{k}" for k in keys],
                    "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
                }
            )
        if name == "customer":
            return pa.table(
                {
                    "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                    "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
                    "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                    "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                    "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
                }
            )
        if name == "supplier":
            return pa.table(
                {
                    "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                    "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
                    "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                    "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
                }
            )
        if name == "part":
            adj = rng.integers(0, len(_ADJ), n_part)
            noun = rng.integers(0, len(_NOUN), n_part)
            return pa.table(
                {
                    "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                    "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)],
                    "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                    "p_type": _pick(rng, _PTYPES, n_part),
                    "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                    "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
                }
            )
        if name == "orders":
            return pa.table(
                {
                    "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                    "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                    "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                    "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                    "o_orderdate": _days(rng, _EPOCH_1995, 2405, n_ord),
                    "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
                }
            )
        if name == "lineitem":
            return pa.table(
                {
                    "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                    "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                    "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                    "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                    "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                    "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
                    "l_discount": rng.integers(0, 11, n_line) / 100.0,
                    "l_tax": rng.integers(0, 9, n_line) / 100.0,
                    "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
                    "l_linestatus": _pick(rng, ["F", "O"], n_line),
                    "l_shipdate": _days(rng, _EPOCH_1995 + _DAY_US, 2499, n_line),
                }
            )
        if name == "events":
            # about 67 events per user, as in the reference tables
            return _events(rng, np.arange(n_ev), max(1, n_ev * 3 // 200), _EPOCH_2024, 30 * _DAY_US)
        if name == "documents":
            return _documents(rng, scale.documents)
        if name == "embeddings":
            return _embeddings(rng, scale.embeddings)
        raise KeyError(name)

    for name in only:
        _write(build(name, np.random.default_rng(streams[name])), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


@dataclass(frozen=True)
class BatchPlan:
    """The ``store_ingest`` generator's parameters, recorded in the output."""

    batches: int
    rows_per_batch: int
    update_ratio: float


def write_event_batches(events_path: str, out_dir: str, seed: int, plan: BatchPlan) -> list[str]:
    """Write ``plan.batches`` key-unique event micro-batches derived from the
    base events file: each batch updates ``update_ratio`` of its rows on
    ``event_id``s that exist by then (base rows or earlier inserts) and
    inserts the rest under new ids. Later batches win (last write wins).
    Returns the batch file paths in commit order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(np.random.SeedSequence([seed, 0xBA7C4]))
    base = pq.read_table(events_path, columns=["event_id", "user_id"])
    ids = base["event_id"].to_numpy()
    users = int(base["user_id"].to_numpy().max()) + 1
    next_id = int(ids.max()) + 1
    known = ids.copy()
    t0 = _EPOCH_2024 + 31 * _DAY_US
    paths = []
    n_upd = int(round(plan.rows_per_batch * plan.update_ratio))
    n_ins = plan.rows_per_batch - n_upd
    for b in range(plan.batches):
        upd = rng.choice(known, n_upd, replace=False)
        ins = np.arange(next_id, next_id + n_ins)
        next_id += n_ins
        known = np.concatenate([known, ins])
        batch_ids = rng.permutation(np.concatenate([upd, ins]))
        table = _events(rng, batch_ids, users, t0 + b * _DAY_US, _DAY_US)
        path = os.path.join(out_dir, f"batch-{b:04d}.parquet")
        _write(table, path)
        paths.append(path)
    return paths
