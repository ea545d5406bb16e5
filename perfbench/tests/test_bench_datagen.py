"""The seeded input generator: the same seed gives byte-identical files."""

import filecmp
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq  # noqa: E402

import datagen  # noqa: E402

SCALE = datagen.Scale(sf=0.001, documents=60, embeddings=40, events=500)
PLAN = datagen.BatchPlan(batches=4, rows_per_batch=50, update_ratio=0.4)


def _batches(tmp_path, name, seed):
    data = datagen.write_tables(str(tmp_path / f"data-{name}"), seed, SCALE, only=("events",))
    return datagen.write_event_batches(os.path.join(data, "events.parquet"), str(tmp_path / name), seed, PLAN)


def test_same_seed_gives_byte_identical_batches(tmp_path):
    a = _batches(tmp_path, "a", 7)
    b = _batches(tmp_path, "b", 7)
    assert [os.path.basename(p) for p in a] == [os.path.basename(p) for p in b]
    assert all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))


def test_other_seed_gives_other_batches(tmp_path):
    a = _batches(tmp_path, "a", 7)
    c = _batches(tmp_path, "c", 8)
    assert not all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, c))


def test_batches_mix_updates_and_inserts_at_the_ratio(tmp_path):
    paths = _batches(tmp_path, "a", 7)
    known = set(pq.read_table(tmp_path / "data-a" / "events.parquet")["event_id"].to_pylist())
    for p in paths:
        ids = pq.read_table(p)["event_id"].to_pylist()
        assert len(ids) == len(set(ids)) == PLAN.rows_per_batch  # key-unique
        updates = sum(1 for i in ids if i in known)
        assert updates == round(PLAN.rows_per_batch * PLAN.update_ratio)
        known.update(ids)


def test_tables_are_deterministic_and_match_the_engine_schema(tmp_path):
    a = datagen.write_tables(str(tmp_path / "a"), 3, SCALE)
    b = datagen.write_tables(str(tmp_path / "b"), 3, SCALE)
    for t in datagen.TABLES:
        fa, fb = os.path.join(a, f"{t}.parquet"), os.path.join(b, f"{t}.parquet")
        assert filecmp.cmp(fa, fb, shallow=False), t
        assert pq.ParquetFile(fa).metadata.num_row_groups == 1
    li = pq.read_table(os.path.join(a, "lineitem.parquet")).schema
    assert str(li.field("l_shipdate").type) == "timestamp[us]"
    assert str(li.field("l_linenumber").type) == "int32"
    emb = pq.read_table(os.path.join(a, "embeddings.parquet")).schema
    assert str(emb.field("embedding").type) == "list<element: float>"
