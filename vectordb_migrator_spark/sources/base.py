"""Adapter contract — the Spark re-statement of the reference ABC.

Reference: ``core/adapter.py:12-67`` defines
``connect/disconnect/extract_data/load_data/get_schema_info`` over
driver-materialized lists. Here the contract is DataFrame-in /
DataFrame-out and connections are opened *per executor partition* at
write time (``foreachPartition``) rather than held as adapter state —
adapter objects must stay picklable and cheap because they are shipped
into tasks.
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from typing import Any

from pyspark.sql import DataFrame, SparkSession


def make_write_counters(df: DataFrame) -> dict[str, Any]:
    """Spark accumulators for sink-side load accounting.

    foreachPartition sinks count rows *inside their own write pass*
    (local ints per partition, one ``.add`` per counter at partition
    end) so accounting costs zero extra actions — the alternative, a
    separate ``df.agg(...).collect()``, re-executes the entire upstream
    DAG, i.e. a second full source scan at 100 TB. After the write
    action completes, ``.value`` is final on the driver.
    """
    sc = df.sparkSession.sparkContext
    return {
        "total_rows": sc.accumulator(0),
        "rows_with_id": sc.accumulator(0),
        "rows_with_vector": sc.accumulator(0),
    }


class SparkAdapter(ABC):
    """One backend's read/write edge.

    ``read`` returns the *canonical* DataFrame (``id``, ``vector``,
    ``metadata`` — see ``canonical.CANONICAL_SCHEMA``) with the
    reference's query params (projection / filter / limit / offset,
    ``adapters/pgvector.py:64-108``) applied as lazy DataFrame ops so
    Catalyst pushes them into the scan.

    ``write`` consumes a canonical DataFrame. Sinks should be
    idempotent-by-id upserts where the backend allows (the Qdrant
    model, ``adapters/qdrant.py:224-247``) so Spark task retries are
    safe; append-only sinks must document the weaker guarantee.
    """

    name: str = "base"

    #: True when ``write`` executes through the SQL engine (df.write…)
    #: — such writes complete ``df.observe`` metrics. foreachPartition
    #: sinks run on the RDD path, which NEVER fires SQL observations
    #: (an Observation.get on such a plan blocks forever); they must
    #: set this False so callers account stats another way.
    write_is_sql_action: bool = False

    #: True when ``write`` reads ``load["vector_dimension"]`` (and would
    #: sniff it from the data when absent). ``Migrator.migrate``
    #: pre-resolves the dimension only for such sinks.
    reads_vector_dimension: bool = False

    @abstractmethod
    def read(
        self,
        spark: SparkSession,
        connection: dict[str, Any],
        query: dict[str, Any],
    ) -> DataFrame: ...

    @abstractmethod
    def write(
        self,
        df: DataFrame,
        connection: dict[str, Any],
        load: dict[str, Any],
    ) -> dict[str, Any]:
        """Write and return an accounting dict (the Milvus sink's
        result-accounting shape, ``adapters/milvus.py:266-291``).

        foreachPartition sinks should include a ``"stats"`` key
        (``total_rows`` / ``rows_with_id`` / ``rows_with_vector``,
        counted via :func:`make_write_counters` inside the write pass
        over the rows actually presented to the backend) so callers
        never need a second pass for accounting."""

    def get_schema_info(
        self, spark: SparkSession, connection: dict[str, Any], entity: str
    ) -> dict[str, Any]:
        """Catalog introspection (``core/adapter.py:57-67``)."""
        raise NotImplementedError
