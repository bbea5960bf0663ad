"""Parquet (and generic Spark-format) adapter.

Not in the reference (its backends are all vector DBs), but it is the
local/lakehouse edge every Spark pipeline needs, and it is the adapter
the test harness exercises against ``/root/testdata``. Query-param
semantics mirror the pgvector extractor exactly
(``adapters/pgvector.py:64-108``): projection via column config,
``filter_condition`` as a SQL predicate string (F1), ``limit``/``offset``
(L1/L2).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectordb_migrator_spark.canonical import to_canonical_columns
from vectordb_migrator_spark.operators.slicing import limit_offset
from vectordb_migrator_spark.sources.base import SparkAdapter


class ParquetAdapter(SparkAdapter):
    name = "parquet"
    _format = "parquet"

    def read(
        self,
        spark: SparkSession,
        connection: dict[str, Any],
        query: dict[str, Any],
    ) -> DataFrame:
        path = query.get("path") or connection.get("path")
        if not path:
            raise ValueError(f"{self.name} source requires 'path'")
        reader = spark.read.format(self._format)
        # optional explicit DDL schema — schema-on-read formats (jsonl)
        # should pin types instead of inferring them per run; parquet
        # callers can use it for projection-by-schema
        if query.get("schema"):
            reader = reader.schema(query["schema"])
        df = reader.load(path)

        # F1 — raw predicate string, pushed into the parquet scan by
        # Catalyst (the reference appends it verbatim to the WHERE
        # clause, adapters/pgvector.py:99-100).
        cond = query.get("filter_condition")
        if cond:
            df = df.filter(F.expr(cond))

        id_column = query.get("id_column", "id")
        vector_column = query.get("vector_column")
        metadata_columns = query.get("metadata_columns", [])

        # L1/L2 — deterministic limit/offset needs a total order; the
        # reference inherits the backend's implicit order, we sort by id.
        df = limit_offset(
            df,
            limit=query.get("limit"),
            offset=query.get("offset", 0),
            order_by=id_column,
        )
        return to_canonical_columns(
            df,
            id_column=id_column,
            vector_column=vector_column,
            metadata_columns=metadata_columns,
        )

    def write(
        self,
        df: DataFrame,
        connection: dict[str, Any],
        load: dict[str, Any],
    ) -> dict[str, Any]:
        path = load.get("path") or connection.get("path")
        if not path:
            raise ValueError(f"{self.name} sink requires 'path'")
        mode = "overwrite" if load.get("recreate_table") else load.get("mode", "append")
        writer = df.write.format(self._format).mode(mode)
        if load.get("partition_by"):
            writer = writer.partitionBy(*load["partition_by"])
        writer.save(path)
        return {"path": path, "mode": mode}


class JsonlAdapter(ParquetAdapter):
    """JSON-Lines flavor of the file adapter — the interchange format
    training-data pipelines actually trade (one canonical record per
    line; metadata maps serialize as JSON objects, vectors as arrays).
    Same query/load semantics as the parquet adapter; pass ``schema``
    (a DDL string) on the read side to pin types instead of paying
    per-run inference — at 100 TB an inference pass IS a full scan."""

    name = "jsonl"
    _format = "json"
