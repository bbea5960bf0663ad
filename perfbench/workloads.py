"""The three workloads. Each generates its inputs from the seed, runs
passes in a closed loop (the next call starts only after the previous
one returned), and checks its outputs in certificates that run outside
the timed phase.
"""

from __future__ import annotations

import importlib.util
import os
import re
import sys
import time
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.probes import TimedClientFactory, TimedTransform

SOURCE_DB = "perfbench"
TIMESTAMP = "2024-01-01T00:00:00"


@dataclass
class Ctx:
    """What a workload needs from the run. ``trace_dir`` is set only in
    traced runs; ``phase`` is ``w`` (warm-up), ``u`` (untraced) or
    ``t`` (timed or traced)."""

    spark: Any
    workload: str
    run_dir: str
    seed: int
    cpus: int
    trace_dir: str | None = None
    phase: str = "w"
    pass_no: int = 0

    @property
    def traced(self) -> bool:
        return self.trace_dir is not None and self.phase == "t"

    def tag(self, layer: str, call: str) -> str:
        """Name the job group of the next call (traced runs only)."""
        group = f"{self.workload}|{layer}|{call}|{self.phase}{self.pass_no}"
        if self.trace_dir is not None:
            self.spark.sparkContext.setJobGroup(group, group)
        return group


@dataclass
class Pass:
    """One pass: wall time, work moved, per-call latencies, failures."""

    wall_s: float
    rows: int
    nbytes: int
    start_ms: int
    end_ms: int
    ops: list[tuple[str, float]] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    #: driver-side timings the per-layer split needs
    marks: dict[str, Any] = field(default_factory=dict)


def _timed_plan(migrator, marks: dict[str, float]) -> None:
    """Time ``.plan()`` when ``migrate()`` calls it, with no extra call."""
    plan = migrator.plan

    def timed(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return plan(*args, **kwargs)
        finally:
            marks["build_s"] = marks.get("build_s", 0.0) + time.perf_counter() - t0

    migrator.plan = timed


def _migrate(ctx: Ctx, cfg: dict, marks: dict, *, adapters=None, transform=None):
    """Migrator(...) + migrate(); returns (ok, stats, seconds)."""
    from vectordb_migrator_spark.plans.pipeline import Migrator

    t0 = time.perf_counter()
    m = Migrator(ctx.spark, cfg, adapters=adapters)
    marks["build_s"] = marks.get("build_s", 0.0) + time.perf_counter() - t0
    if ctx.traced:
        _timed_plan(m, marks)
    ok = m.migrate(transform)
    return ok, m.stats, time.perf_counter() - t0


def _stats_failure(what: str, ok: bool, stats: dict, rows: int) -> list[str]:
    if ok and stats.get("total_rows") == rows and stats.get("rows_with_vector") == rows:
        return []
    return [f"{what}: ok={ok} stats={stats} expected {rows} rows"]


def _warm_passes(workload, ctx: Ctx, n: int) -> Pass:
    """``n`` untimed passes as one: the first pays for cold Python
    workers and code generation, later ones for JIT compilation still
    under way after it."""
    ps = [workload.run_pass(ctx) for _ in range(n)]
    return Pass(
        sum(p.wall_s for p in ps), sum(p.rows for p in ps), sum(p.nbytes for p in ps),
        ps[0].start_ms, ps[-1].end_ms, [o for p in ps for o in p.ops],
        [f for p in ps for f in p.failures],
    )


def check_canonical_output(
    path: str, corpus: gen.Corpus, keys: dict[str, str | None]
) -> list[str]:
    """Certificate for a canonical parquet output: row count, distinct
    ids equal to the generator's, the float64 vector checksum, and each
    metadata key in ``keys`` on every row (with the given value, unless
    the value is ``None``)."""
    t = pq.read_table(path)
    if t.num_rows != corpus.rows:
        return [f"{path}: {t.num_rows} rows, expected {corpus.rows}"]
    fails = []
    ids = pc.cast(t.column("id"), pa.int64()).to_numpy()
    if not np.array_equal(np.sort(ids), np.sort(corpus.ids)):
        fails.append(f"{path}: ids differ from the generated ids")
    vec = t.column("vector").combine_chunks()
    if pc.min(pc.list_value_length(vec)).as_py() != gen.DIM or vec.null_count:
        return fails + [f"{path}: vectors are not all {gen.DIM}-dim"]
    flat = pc.list_flatten(vec).to_numpy().reshape(-1, gen.DIM)
    got = gen.vector_checksum(ids, flat)
    if abs(got - corpus.checksum) > 1e-9 * max(1.0, abs(corpus.checksum)):
        fails.append(f"{path}: vector checksum {got!r} != {corpus.checksum!r}")
    meta = t.column("metadata").combine_chunks()
    for key, value in keys.items():
        mask = pc.equal(meta.keys, key)
        n = pc.sum(mask).as_py() or 0
        if n != corpus.rows:
            fails.append(f"{path}: metadata key {key!r} on {n} of {corpus.rows} rows")
        elif value is not None:
            vals = pc.filter(meta.items, mask)
            if pc.sum(pc.not_equal(vals, value)).as_py():
                fails.append(f"{path}: metadata {key!r} != {value!r} on some rows")
    return fails


class MigrateFile:
    """parquet -> parquet through ``Migrator`` with the reference
    ``add_source_tracking`` transform."""

    name = "migrate_file"
    rows = 100_000
    files = 8
    certificates = 1

    def generate(self, ctx: Ctx) -> None:
        self.corpus = gen.make_corpus(
            os.path.join(ctx.run_dir, "mf_src"), self.rows, self.files, ctx.seed
        )
        self.out = os.path.join(ctx.run_dir, "mf_out")
        self.cfg = {
            "source": {"type": "parquet", "query": {
                "path": self.corpus.path, "id_column": "id", "vector_column": "vector",
                "metadata_columns": ["label", "src"]}},
            "target": {"type": "parquet", "load": {"path": self.out, "recreate_table": True}},
        }

    def warm_up(self, ctx: Ctx) -> Pass:
        return _warm_passes(self, ctx, 1)

    def run_pass(self, ctx: Ctx) -> Pass:
        from vectordb_migrator_spark.operators.transform import add_source_tracking

        fn = add_source_tracking(SOURCE_DB, TIMESTAMP)
        if ctx.traced:
            fn = TimedTransform(fn, ctx.trace_dir)
        ctx.tag("plans.pipeline", "migrate")
        marks: dict[str, Any] = {}
        start = time.time()
        ok, stats, wall = _migrate(ctx, self.cfg, marks, transform=fn)
        return Pass(
            wall, self.rows, self.corpus.logical_bytes, int(start * 1e3),
            int(time.time() * 1e3), [("migrate", wall)],
            _stats_failure("migrate", ok, stats, self.rows), marks,
        )

    def certify(self, ctx: Ctx) -> list[str]:
        return check_canonical_output(
            self.out, self.corpus,
            {"source_db": SOURCE_DB, "migration_timestamp": TIMESTAMP,
             "label": None, "src": None},
        )


class QdrantRoundtrip:
    """parquet -> Qdrant (demo backend) -> parquet, two ``Migrator``s
    over an injected ``QdrantAdapter``; no transform."""

    name = "qdrant_roundtrip"
    rows = 20_000
    files = 4
    certificates = 1
    collection = "perfbench"

    def generate(self, ctx: Ctx) -> None:
        self.corpus = gen.make_corpus(
            os.path.join(ctx.run_dir, "qr_src"), self.rows, self.files, ctx.seed
        )
        conn = {"store_dir": os.path.join(ctx.run_dir, "qdrant_store")}
        self.out = os.path.join(ctx.run_dir, "qr_out")
        self.load_cfg = {
            "source": {"type": "parquet", "query": {
                "path": self.corpus.path, "id_column": "id", "vector_column": "vector",
                "metadata_columns": ["label", "src"]}},
            "target": {"type": "qdrant", "connection": conn, "load": {
                "collection_name": self.collection, "batch_size": 1000,
                "vector_dimension": gen.DIM, "recreate_collection": True}},
        }
        self.export_cfg = {
            "source": {"type": "qdrant", "connection": conn, "query": {
                "collection_name": self.collection, "num_partitions": ctx.cpus,
                "batch_size": 1000}},
            "target": {"type": "parquet", "load": {"path": self.out, "recreate_table": True}},
        }

    def warm_up(self, ctx: Ctx) -> Pass:
        # the connector legs still speed up on the second pass
        return _warm_passes(self, ctx, 2)

    def run_pass(self, ctx: Ctx) -> Pass:
        from vectordb_migrator_spark.sources.demo_backend import qdrant_demo_factory
        from vectordb_migrator_spark.sources.qdrant import QdrantAdapter

        factory = qdrant_demo_factory
        if ctx.traced:
            factory = TimedClientFactory(qdrant_demo_factory, ctx.trace_dir)
        adapters = {"qdrant": QdrantAdapter(client_factory=factory)}
        marks: dict[str, Any] = {}
        start = time.time()
        ctx.tag("sources.qdrant", "load")
        ok1, stats1, load_s = _migrate(ctx, self.load_cfg, marks, adapters=adapters)
        ctx.tag("sources.qdrant", "export")
        ok2, stats2, export_s = _migrate(ctx, self.export_cfg, marks, adapters=adapters)
        marks.update(load_s=load_s, export_s=export_s)
        return Pass(
            load_s + export_s, 2 * self.rows, 2 * self.corpus.logical_bytes,
            int(start * 1e3), int(time.time() * 1e3),
            [("load", load_s), ("export", export_s)],
            _stats_failure("load", ok1, stats1, self.rows)
            + _stats_failure("export", ok2, stats2, self.rows),
            marks,
        )

    def certify(self, ctx: Ctx) -> list[str]:
        return check_canonical_output(self.out, self.corpus, {"label": None, "src": None})


#: the curation slice: dedup, similarity search, text and multimodal
#: registry queries, small enough for two passes to fit a run (building
#: x4_ivf_topk and x6_thumbnail takes most of their time)
SLICE = (
    "x1_dedup_exact_text",
    "x3_cosine_topk", "x3_knn_join", "x4_ivf_topk",
    "x5_gopher_rules",
    "x6_thumbnail",
)


def _load_check_oracle(root: str):
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_oracle", os.path.join(root, "tools", "check_oracle.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class CurationSuite:
    """Registry queries over generated ``documents``/``embeddings``
    tables, each built and then written to the noop sink, in an order
    the seed permutes."""

    name = "curation_suite"
    docs = 5000
    vecs = 2000
    #: the warm-up calls are the certificates, already counted as calls
    certificates = 0

    def generate(self, ctx: Ctx) -> None:
        from vectordb_migrator_spark.suite import ORACLES

        self.tables = gen.make_suite_tables(
            os.path.join(ctx.run_dir, "sf"), self.docs, self.vecs, ctx.seed
        )
        self.order = [SLICE[i] for i in np.random.default_rng(ctx.seed).permutation(len(SLICE))]
        self.inputs = {
            q: [t for t in self.tables.rows if re.search(rf"\b{t}\b", ORACLES[q])]
            for q in SLICE
        }

    def _work(self) -> tuple[int, int]:
        rows = sum(self.tables.rows[t] for q in SLICE for t in self.inputs[q])
        nbytes = sum(self.tables.logical_bytes[t] for q in SLICE for t in self.inputs[q])
        return rows, nbytes

    def warm_up(self, ctx: Ctx) -> Pass:
        """First run of every query, each checked against its DuckDB
        oracle over the same files (the curation certificate)."""
        import duckdb

        from vectordb_migrator_spark.suite import ORACLES, QUERIES

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        compare = _load_check_oracle(root).compare
        con = duckdb.connect()
        for t in self.tables.rows:
            path = os.path.join(self.tables.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        start = time.time()
        t_pass = time.perf_counter()
        ops, self.cert_failures = [], []
        for q in self.order:
            ctx.tag("suite", f"warmup:{q}")
            t0 = time.perf_counter()
            try:
                oracle = con.sql(ORACLES[q])
                ok, msg = compare(q, QUERIES[q](ctx.spark, self.tables.sf_dir), oracle,
                                  oracle.df())
            except Exception as exc:  # noqa: BLE001 - a failed query is a failed certificate
                ok, msg = False, f"{type(exc).__name__}: {exc}"
            ops.append((q, time.perf_counter() - t0))
            if not ok:
                self.cert_failures.append(f"{q}: {msg}")
        con.close()
        rows, nbytes = self._work()
        return Pass(time.perf_counter() - t_pass, rows, nbytes, int(start * 1e3),
                    int(time.time() * 1e3), ops)

    def run_pass(self, ctx: Ctx) -> Pass:
        from vectordb_migrator_spark.suite import QUERIES

        start = time.time()
        t_pass = time.perf_counter()
        ops, builds, writes = [], {}, {}
        for q in self.order:
            ctx.tag("suite", f"build:{q}")
            t0 = time.perf_counter()
            df = QUERIES[q](ctx.spark, self.tables.sf_dir)
            t1 = time.perf_counter()
            group = ctx.tag("suite", f"exec:{q}")
            called_ms = time.time() * 1e3
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            ops.append((q, t2 - t0))
            builds[q] = t1 - t0
            writes[group] = (called_ms, t2 - t1)
        rows, nbytes = self._work()
        return Pass(time.perf_counter() - t_pass, rows, nbytes, int(start * 1e3),
                    int(time.time() * 1e3), ops, [], {"builds": builds, "writes": writes})

    def certify(self, ctx: Ctx) -> list[str]:
        return list(self.cert_failures)


WORKLOADS = {w.name: w for w in (MigrateFile, QdrantRoundtrip, CurationSuite)}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
