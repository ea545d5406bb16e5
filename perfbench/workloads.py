"""The benchmark's workloads. Each is one closed-loop client issuing ops
sequentially from the driver process, and drives the engine only through
the public functions of ``session``, ``plans.registry``,
``plans.dedup_index``, ``plans.extensions``, ``sources.versioned`` and
``streaming.pipeline``.

A workload has three phases, called by ``worker.py``:

* ``prepare(ctx)``: inputs and warm-up, before the timed phase (set-up);
* ``timed(ctx)``: the measured ops, each through ``ctx.op``;
* ``check(ctx)``: untimed output checks; returns one line per mismatch.

The amount of timed work is fixed per workload (``star_queries`` passes
and ``store_ingest`` batches scale with ``--seconds``, calibrated on a
4-core x86 box). It never depends on how fast the run goes, so ``wall_s``
compares like with like.
"""

from __future__ import annotations

import os
import random
import shutil

import datagen

ENGINE = "building_an_azure_data_lake_for_bikeshare_data_analytics_spark"
#: the maintained artifacts, in ``bench.py``'s build order, by module
ARTIFACTS = {
    "dup_pairs": "dedup_index",
    "dup_components": "dedup_index",
    "dup_pairs_lsh": "dedup_index",
    "corpus_signatures": "dedup_index",
    "probe_scored": "extensions",
}


def noop(df) -> None:
    """Force a plan end to end with no driver collect."""
    df.write.format("noop").mode("overwrite").save()


def collect(df):
    return df.toPandas()


def _oracle_con(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def compare(got, want) -> str | None:
    """The oracle gate's comparison (rows, columns, dtypes, value hash over
    ``tools/verify_oracle.canon``); None when equal."""
    from verify_oracle import canon

    gh, gcols, gdt = canon(got)
    wh, wcols, wdt = canon(want)
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    if gcols != wcols:
        return f"columns {gcols} vs {wcols}"
    if gdt != wdt:
        return f"dtypes {gdt} vs {wdt}"
    if gh != wh:
        return "value-hash mismatch"
    return None


def check_against_oracle(results: dict, data_dir: str) -> list[str]:
    """Compare collected query results with their DuckDB oracle SQL; a
    query without oracle SQL must return rows."""
    from importlib import import_module

    oracles = import_module(f"{ENGINE}.plans.registry").ORACLES
    con = _oracle_con(data_dir)
    bad = []
    try:
        for name, got in sorted(results.items()):
            if name not in oracles:
                if len(got) == 0:
                    bad.append(f"{name}: no rows")
                continue
            why = compare(got, con.execute(oracles[name]).arrow().to_pandas())
            if why:
                bad.append(f"{name}: {why}")
    finally:
        con.close()
    return bad


class StarQueries:
    """The paper's star-schema analytics: the non-fixture registry heads of
    ``plans/core.py`` (q01-q30, the reference notebook's aggregate queries
    over the star schema), each forced with a noop write."""

    name = "star_queries"
    scale = datagen.Scale(sf=0.01, documents=500, embeddings=500)
    #: seconds one warm timed pass takes on the reference box
    pass_seconds = 5.0
    #: each query runs at least this often in the timed phase, so that its
    #: median over the passes drops one pass a host hiccup slowed
    min_passes = 3

    def prepare(self, ctx) -> None:
        from importlib import import_module

        reg = import_module(f"{ENGINE}.plans.registry")
        self.queries = {
            n: s.fn
            for n, s in reg.REGISTRY.items()
            if not s.fixture and s.fn.__module__ == f"{ENGINE}.plans.core"
        }
        self.passes = max(self.min_passes, round(ctx.seconds / self.pass_seconds))
        # the untimed warm pass (q01, the engine's warm query, comes first)
        # collects every result for the output check
        self.results = {}
        with ctx.tracer.span("session.warm_pass"):
            for n in sorted(self.queries):
                self.results[n] = collect(self.queries[n](ctx.spark, ctx.data_dir))

    def timed(self, ctx) -> None:
        rng = random.Random(ctx.seed)
        names = sorted(self.queries)
        for _ in range(self.passes):
            rng.shuffle(names)
            for n in names:
                ctx.op(n, "op", lambda fn=self.queries[n]: fn(ctx.spark, ctx.data_dir), noop)

    def check(self, ctx) -> list[str]:
        return check_against_oracle(self.results, ctx.data_dir)

    def params(self) -> dict:
        return {"queries": len(self.queries), "passes": self.passes}


class IndexBuild:
    """The five maintained artifacts built cold in a fresh session (in
    ``bench.py``'s order), then their warm consumers in seeded order."""

    name = "index_build"
    scale = datagen.Scale(sf=0.01, documents=500, embeddings=500)
    consumers = ("q103_incremental_dedup", "q105_dup_group_canonical", "q145_logreg_probe")

    def prepare(self, ctx) -> None:
        from importlib import import_module

        self.queries = import_module(f"{ENGINE}.plans.registry").QUERIES
        self.builds = [
            (name, getattr(import_module(f"{ENGINE}.plans.{module}"), name))
            for name, module in ARTIFACTS.items()
        ]
        self.results = {}
        with ctx.tracer.span("session.warm_query"):
            noop(self.queries["q01_avg_price_by_dow"](ctx.spark, ctx.data_dir))

    def timed(self, ctx) -> None:
        for name, build in self.builds:
            ctx.op(f"artifact.{name}", "op", lambda b=build: b(ctx.spark, ctx.data_dir), noop, artifact=name)
        order = list(self.consumers)
        random.Random(ctx.seed).shuffle(order)
        for q in order:
            out = ctx.op(q, "op", lambda fn=self.queries[q]: fn(ctx.spark, ctx.data_dir), collect)
            if out is not None:
                self.results[q] = out

    def check(self, ctx) -> list[str]:
        return check_against_oracle(self.results, ctx.data_dir)

    def params(self) -> dict:
        return {"builds": [n for n, _ in self.builds], "consumers": len(self.consumers)}


class StoreIngest:
    """Writes beside reads: seeded event micro-batches land through
    ``streaming.pipeline.incremental_merge_stream`` (merge path) into one
    versioned store and through ``versioned.append_version`` (append path)
    into another. One op lands one batch on both paths; each commit is
    followed by a read-back aggregate through ``versioned.read_current``.
    The run ends with ``compact`` and ``vacuum`` on both stores."""

    name = "store_ingest"
    scale = datagen.Scale(sf=0.01, documents=500, embeddings=500, events=100_000)
    batch_seconds = 2.5
    rows_per_batch = 2000
    update_ratio = 0.3

    def prepare(self, ctx) -> None:
        from importlib import import_module

        self.spark = ctx.spark
        self.V = import_module(f"{ENGINE}.sources.versioned")
        self.P = import_module(f"{ENGINE}.streaming.pipeline")
        # one extra batch lands during set-up: the first merge into a store
        # pays one-off costs a long-running ingest never pays again
        self.plan = datagen.BatchPlan(
            batches=1 + max(4, round(ctx.seconds / self.batch_seconds)),
            rows_per_batch=self.rows_per_batch,
            update_ratio=self.update_ratio,
        )
        base = os.path.join(ctx.data_dir, "events.parquet")
        self.batches = datagen.write_event_batches(base, os.path.join(ctx.work, "batches"), ctx.seed, self.plan)
        self.src = os.path.join(ctx.work, "incoming")
        self.ckpt = os.path.join(ctx.work, "checkpoint")
        self.merge_store = os.path.join(ctx.work, "store_merge")
        self.append_store = os.path.join(ctx.work, "store_append")
        os.makedirs(self.src)
        ctx.store_dirs = [self.merge_store, self.append_store]
        # both stores start from the base table; the merge store is seeded
        # through the stream itself. Seeding is this workload's warm-up.
        with ctx.tracer.span("session.seed_stores"):
            shutil.copy(base, os.path.join(self.src, "base.parquet"))
            self._stream()
            self.V.write_version(self._read(base), self.append_store)
            self._land(self.batches[0])
        self.stored_bytes = None

    def _read(self, path: str):
        return self.spark.read.schema(self.P.EVENTS_SCHEMA).parquet(path)

    def _stream(self) -> int:
        events = self.P.read_events_stream(self.spark, self.src)
        return self.P.incremental_merge_stream(events, self.merge_store, checkpoint_dir=self.ckpt)

    def _land(self, path: str) -> int:
        """The batch arrives; the merge path drains it, the append path
        commits it."""
        arrived = os.path.join(self.src, os.path.basename(path))
        os.rename(path, arrived)
        if self._stream() != 1:
            raise RuntimeError(f"merge stream did not land {path} as one batch")
        return self.V.append_version(self._read(arrived), self.append_store)

    def timed(self, ctx) -> None:
        from pyspark.sql import functions as F

        def read_back(store: str):
            return self.V.read_current(ctx.spark, store).agg(F.count("*"), F.sum("value"))

        for i, path in enumerate(self.batches[1:], start=1):
            ctx.op(f"batch{i}", "op", None, lambda p=path: self._land(p), rows=self.plan.rows_per_batch)
            for store in (self.merge_store, self.append_store):
                ctx.op("read_current", "read", lambda s=store: read_back(s), lambda df: df.collect(), store_path=store)
        self.stored_bytes = _tree_bytes(self.merge_store) + _tree_bytes(self.append_store)
        for store in (self.merge_store, self.append_store):
            ctx.op("compact", "maint", None, lambda s=store: self.V.compact(ctx.spark, s), store_path=store)
            ctx.op("vacuum", "maint", None, lambda s=store: self.V.vacuum(s, keep=2, grace_seconds=0), store_path=store)

    def check(self, ctx) -> list[str]:
        """The merge store must equal last-write-wins over base plus
        batches, the append store their union, both computed in DuckDB from
        the generated files; every retained version must be readable."""
        import duckdb

        con = duckdb.connect()
        parts = [f"SELECT *, 0 AS __b FROM read_parquet('{ctx.data_dir}/events.parquet')"] + [
            f"SELECT *, {i + 1} AS __b FROM read_parquet('{os.path.join(self.src, os.path.basename(p))}')"
            for i, p in enumerate(self.batches)
        ]
        rows = " UNION ALL ".join(parts)
        lww = (
            f"SELECT * EXCLUDE (__b, __rn) FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY event_id ORDER BY __b DESC) AS __rn FROM ({rows})) WHERE __rn = 1"
        )
        everything = f"SELECT * EXCLUDE (__b) FROM ({rows})"
        bad = []
        try:
            for store, sql in ((self.merge_store, lww), (self.append_store, everything)):
                label = os.path.basename(store)
                why = multiset_diff(con, self.V.read_current(ctx.spark, store).toPandas(), sql)
                if why:
                    bad.append(f"{label}: {why}")
                for v in retained_versions(store):
                    try:
                        self.V.read_version(ctx.spark, store, v).count()
                    except Exception as e:  # noqa: BLE001 -- reported as a mismatch
                        bad.append(f"{label} v{v} unreadable: {type(e).__name__}: {e}")
        finally:
            con.close()
        return bad

    def params(self) -> dict:
        return {"base_rows": self.scale.events, "generator": vars(self.plan), "warm_batches": 1}

    def extra(self, ctx) -> dict:
        """The store-only end-to-end numbers."""
        fresh = os.path.join(ctx.work, "fresh")
        user = 0
        for store in (self.merge_store, self.append_store):
            out = os.path.join(fresh, os.path.basename(store))
            self.V.read_current(ctx.spark, store).write.parquet(out)
            user += _tree_bytes(out)
        return {
            "stored_bytes_per_user_byte": self.stored_bytes / user,
            "ingest_rows_per_s": (self.plan.batches - 1) * self.plan.rows_per_batch / ctx.wall_s,
        }


def multiset_diff(con, got, sql: str) -> str | None:
    """Row-multiset equality of a collected result and a DuckDB query."""
    con.register("__got", got)
    try:
        cols = ", ".join(f'"{c}"' for c in got.columns)
        missing = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM ({sql}) EXCEPT ALL SELECT * FROM __got)").fetchone()[0]
        extra = con.execute(f"SELECT count(*) FROM (SELECT * FROM __got EXCEPT ALL SELECT {cols} FROM ({sql}))").fetchone()[0]
    finally:
        con.unregister("__got")
    if missing or extra:
        return f"{missing} expected rows missing, {extra} unexpected rows"
    return None


def retained_versions(store: str) -> list[int]:
    return sorted(int(n[2:]) for n in os.listdir(store) if n.startswith("_v") and n[2:].isdigit())


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, n)) for root, _d, names in os.walk(path) for n in names
    )


WORKLOADS = {w.name: w for w in (StarQueries, IndexBuild, StoreIngest)}
