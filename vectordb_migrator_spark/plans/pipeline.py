"""The migration pipeline — reference orchestrator, Spark-first.

Reference lifecycle (``core/migrator.py:42-111`` + ``cli/migrate.py``):
config parse/validate → load transform UDF → bind adapters → connect →
extract (full list in driver RAM) → empty-guard → transform → connect
target → load → disconnect. Strictly sequential, fully materialized
between stages.

Here the same config compiles to ONE lazy DataFrame DAG
(``read → project/filter/limit → mapInArrow(transform) → write``), so
Catalyst fuses the stages, pushdown reaches the source scan, and
nothing is ever materialized on the driver. The config schema is
wire-compatible with the reference (``README.md:26-121``), including
tolerance for the ``connection_params``/``query_params``/``load_params``
key aliases used by the reference's Docker example
(``examples/pgvector_to_milvus_docker_config.json`` — which the
reference itself fails to read, SURVEY.md header note).
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from vectordb_migrator_spark.operators.transform import (
    TransformFn,
    apply_transform,
    load_transform_function,
)
from vectordb_migrator_spark.sources.registry import get_adapter, list_adapters

_ALIASES = {
    "connection": ("connection", "connection_params"),
    "query": ("query", "query_params"),
    "load": ("load", "load_params"),
}


def _section(side_cfg: dict[str, Any], key: str) -> dict[str, Any]:
    for k in _ALIASES[key]:
        if k in side_cfg:
            return side_cfg[k] or {}
    return {}


def load_config(path_or_dict: str | dict[str, Any]) -> dict[str, Any]:
    """Parse + validate a migration config (``cli/migrate.py:29-63``).

    Checks: ``source``/``target`` present, each has a ``type``, and the
    type is registered. Errors raise ``ValueError`` exactly like the
    reference.
    """
    if isinstance(path_or_dict, str):
        with open(path_or_dict) as f:
            config = json.load(f)
    else:
        config = path_or_dict
    for side in ("source", "target"):
        if side not in config:
            raise ValueError(f"config missing required section: {side!r}")
        side_cfg = config[side]
        db_type = side_cfg.get("type")
        if not db_type:
            raise ValueError(f"{side} config missing 'type'")
        if get_adapter(db_type) is None:
            raise ValueError(
                f"unsupported {side} type {db_type!r}; supported: {list_adapters()}"
            )
    mode = config["target"].get("publish_mode")
    if mode is not None and mode not in ("append", "staging_swap"):
        raise ValueError(
            f"target publish_mode must be 'append' or 'staging_swap', got {mode!r}"
        )
    return config


class Migrator:
    """Reference ``DBMigrator`` (``core/migrator.py:20-111``), lazily.

    ``plan`` returns the un-executed DataFrame (extract + transform);
    ``migrate`` executes plan → sink write and returns success.
    """

    def __init__(
        self,
        spark: SparkSession,
        config: str | dict[str, Any],
        *,
        adapters: dict[str, Any] | None = None,
    ):
        """``adapters`` overrides registry instances by type name —
        dependency injection for integration tests with fake DB
        clients (the reference wires MockAdapters the same way,
        ``tests/test_core.py:15-41``)."""
        self.spark = spark
        self.config = load_config(config)
        adapters = adapters or {}

        def _bind(side: str):
            t = self.config[side]["type"]
            return adapters.get(t) or get_adapter(t)()

        self.source_adapter = _bind("source")
        self.target_adapter = _bind("target")
        # always present, even before migrate() runs or when the config
        # has no validate section — callers can read them unconditionally
        self.validation: list[dict[str, Any]] = []
        self.stats: dict[str, Any] = {}

    def plan(self, transform: TransformFn | None = None) -> DataFrame:
        src = self.config["source"]
        df = self.source_adapter.read(
            self.spark, _section(src, "connection"), _section(src, "query")
        )
        if transform is None and self.config.get("transform_module"):
            transform = load_transform_function(self.config["transform_module"])
        return apply_transform(df, transform)

    def migrate(
        self,
        transform: TransformFn | None = None,
        *,
        allow_empty: bool = True,
    ) -> bool:
        """Run the pipeline. ``allow_empty=False`` reproduces the
        reference's abort-on-zero-rows guard (``core/migrator.py:71-74``)
        at the cost of one extra action; default is the scale-friendly
        zero-row write. Load accounting lands in ``self.stats``."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        df = self.plan(transform)
        if not allow_empty and df.isEmpty():
            return False
        vcfg = self.config.get("validate")
        if vcfg:
            # opt-in quality gate: ALL declared constraints evaluate in
            # one aggregate over one scan, BEFORE anything reaches the
            # sink (the explicit price is that one extra source pass —
            # a config that gates has chosen correctness over it)
            from vectordb_migrator_spark.operators.validation import (
                check_constraints,
                constraints_from_config,
            )

            report = check_constraints(
                df, constraints_from_config(vcfg)
            ).collect()
            self.validation = [r.asDict() for r in report]
            if any(not r["passed"] for r in report):
                return False
        tgt = self.config["target"]
        load_sec = dict(_section(tgt, "load"))
        # target-level `publish_mode: "staging_swap"` (wired like
        # `validate`) routes sinks that support atomic publish through
        # their staged path — for pgvector: JDBC-load {table}__staging,
        # then ONE transactional DROP+RENAME so concurrent readers
        # never see a half-written table (SURVEY §7.6.5)
        if tgt.get("publish_mode") == "staging_swap":
            load_sec["staging_swap"] = True
        # Pre-resolve the vector dimension on the UNOBSERVED plan and
        # hand it to sinks that read it: they would otherwise sniff it
        # with a short-circuiting first() that completes the
        # observation below with that partial action's counts. The
        # sniff is its own job (scan + transform on one partition), so
        # sinks that never read the dimension (parquet, jsonl) skip it.
        # No vector at all resolves to 0, as the sinks' own sniff does.
        if (
            getattr(self.target_adapter, "reads_vector_dimension", False)
            and load_sec.get("vector_dimension") is None
            and "vector" in df.columns
        ):
            first = (
                df.select(F.size("vector").alias("d"))
                .filter("d is not null")
                .first()
            )
            load_sec["vector_dimension"] = int(first["d"]) if first else 0

        # Reference-style load accounting (adapters/milvus.py:266-291),
        # always in the SAME action as the write — never a second pass
        # (a separate df.agg().collect() would re-execute the whole
        # upstream DAG: a 2× source read at 100 TB). Every sink writes
        # with exactly one SQL action over the frame it is given
        # (SparkAdapter.write), which completes this Observation.
        obs = Observation("migrate_stats")
        df = df.observe(
            obs,
            F.count(F.lit(1)).alias("total_rows"),
            F.count("id").alias("rows_with_id"),
            F.count("vector").alias("rows_with_vector"),
        )
        self.target_adapter.write(df, _section(tgt, "connection"), load_sec)
        self.stats = dict(obs.get)
        return True


def run_migration(
    spark: SparkSession,
    config: str | dict[str, Any],
    transform: TransformFn | None = None,
) -> bool:
    """Reference ``vectordb_migration.run_migration``
    (``__init__.py:24-39`` → ``cli/migrate.py:96``): one-call API."""
    return Migrator(spark, config).migrate(transform)


# ---------------------------------------------------------------- stream

_STREAM_SOURCES = ("qdrant", "milvus", "pinecone", "parquet")
_STREAM_TARGETS = ("qdrant", "milvus", "pinecone", "parquet")


def _flat_options(*sections: dict[str, Any] | None) -> dict[str, str]:
    """Flatten config sections into DataSource option strings (dicts
    and lists ride as JSON — e.g. a ``connection`` blob)."""
    out: dict[str, str] = {}
    for sec in sections:
        for k, v in (sec or {}).items():
            if v is None:
                continue
            if isinstance(v, (dict, list)):
                out[k] = json.dumps(v)
            elif isinstance(v, bool):
                out[k] = "true" if v else "false"
            else:
                out[k] = str(v)
    return out


class StreamMigrator:
    """The reference's "future work" incremental-migration story
    (``README.md:286``) as one config: the SAME JSON schema as
    :class:`Migrator`, but compiled to ``readStream.format(source)`` →
    transform → ``writeStream.format(target)``. All three API
    connectors stream on both sides (watermark cursors on the read
    side, idempotent-by-id upserts on the write side), so a continuous
    migration is exactly-once-per-id end to end.

    Extra config surface: a ``stream`` section with ``checkpoint``
    (required — cursor offsets live there) and optional ``trigger``
    (``"available_now"``, the catch-up default, or a processing-time
    interval string like ``"10 seconds"``)."""

    def __init__(self, spark: SparkSession, config: str | dict[str, Any]):
        self.spark = spark
        self.config = load_config(config)
        for side, allowed in (("source", _STREAM_SOURCES),
                              ("target", _STREAM_TARGETS)):
            t = self.config[side]["type"]
            if t not in allowed:
                raise ValueError(
                    f"{side} type {t!r} has no streaming endpoint; "
                    f"streamable: {sorted(allowed)}"
                )
        scfg = self.config.get("stream") or {}
        self.checkpoint = scfg.get("checkpoint")
        if not self.checkpoint:
            raise ValueError(
                "streaming migration requires stream.checkpoint "
                "(offsets/watermarks persist there)"
            )
        self.trigger = scfg.get("trigger", "available_now")

    def start(self, transform: TransformFn | None = None):
        from vectordb_migrator_spark.sources.pyds import register_data_sources

        register_data_sources(self.spark)
        src = self.config["source"]
        stype = src["type"]
        q = _section(src, "query")
        conn = _section(src, "connection")
        if stype == "parquet":
            schema = q.get("schema")
            path = q.get("path")
            if not schema or not path:
                raise ValueError(
                    "file stream source requires query.schema and query.path"
                )
            rest = {k: v for k, v in q.items() if k not in ("schema", "path")}
            df = (
                self.spark.readStream.format(stype)
                .schema(schema)
                .options(**_flat_options(conn, rest))
                .load(path)
            )
        else:
            df = (
                self.spark.readStream.format(stype)
                .options(**_flat_options(conn, q))
                .load()
            )
        if transform is None and self.config.get("transform_module"):
            transform = load_transform_function(self.config["transform_module"])
        df = apply_transform(df, transform)
        tgt = self.config["target"]
        writer = (
            df.writeStream.format(tgt["type"])
            .options(**_flat_options(_section(tgt, "connection"),
                                     _section(tgt, "load")))
            .option("checkpointLocation", self.checkpoint)
        )
        if self.trigger == "available_now":
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=self.trigger)
        return writer.start()


def run_stream_migration(
    spark: SparkSession,
    config: str | dict[str, Any],
    transform: TransformFn | None = None,
    *,
    timeout_sec: int | None = None,
) -> bool:
    """One-call streaming migration. With the default ``available_now``
    trigger this drains the current backlog and returns; a
    processing-time trigger keeps running until ``timeout_sec``."""
    query = StreamMigrator(spark, config).start(transform)
    query.awaitTermination(timeout_sec)
    if query.isActive:
        query.stop()
    return query.exception() is None
