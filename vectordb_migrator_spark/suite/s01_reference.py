"""Registry family ``s01_reference`` — split from the monolithic
suite.py (round 8); registration order preserved via the
package ``__init__`` import sequence."""

from __future__ import annotations

# ruff: noqa: E501
from vectordb_migrator_spark.suite._shared import (
    DataFrame,
    F,
    Migrator,
    SparkSession,
    _t,
    apply_transform,
    coerce_id,
    format_pgvector_text,
    parse_pgvector_text,
    query,
    to_canonical_columns,
)

# =====================================================================
# Reference surface (SURVEY.md §2.1-2.8)
# =====================================================================


@query(
    "s1_scan_projection",
    """
    SELECT vec_id AS id, label::BIGINT AS label
    FROM embeddings WHERE label >= 5 ORDER BY id LIMIT 50
    """,
)
def s1_scan_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/P1/F1/L1 — projection+predicate+limit pushed into the parquet
    scan (reference builds this SELECT by f-string,
    adapters/pgvector.py:95-106)."""
    return (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("label") >= 5)
        .select(F.col("vec_id").alias("id"), F.col("label").cast("long"))
        .orderBy("id")
        .limit(50)
    )


@query(
    "p2_normalize_canonical",
    """
    SELECT vec_id::VARCHAR AS id, len(embedding)::BIGINT AS dim,
           1::BIGINT AS n_meta
    FROM embeddings ORDER BY vec_id
    """,
)
def p2_normalize_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 — normalize any layout to the canonical triple
    (adapters/pgvector.py:117-126)."""
    canon = to_canonical_columns(
        _t(spark, sf_dir, "embeddings"),
        id_column="vec_id",
        vector_column="embedding",
        metadata_columns=["label"],
    )
    return canon.select(
        "id",
        F.size("vector").cast("long").alias("dim"),
        F.size("metadata").cast("long").alias("n_meta"),
    ).orderBy(F.col("id").cast("long"))


@query(
    "p3_metadata_null_drop",
    """
    SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
           (CASE WHEN l_returnflag = 'N' THEN 1 ELSE 2 END)::BIGINT AS meta_keys
    FROM lineitem ORDER BY l_orderkey, l_linenumber
    """,
)
def p3_metadata_null_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 — NULL-valued metadata keys dropped (adapters/milvus.py:120):
    build a 2-key map with one key NULLed, count surviving keys."""
    li = _t(spark, sf_dir, "lineitem")
    meta = F.map_filter(
        F.create_map(
            F.lit("rf"), F.nullif(F.col("l_returnflag"), F.lit("N")),
            F.lit("ls"), F.col("l_linestatus"),
        ),
        lambda _, v: v.isNotNull(),
    )
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("long"),
        F.size(meta).cast("long").alias("meta_keys"),
    ).orderBy("l_orderkey", "l_linenumber")


@query(
    "f1_filter_predicate",
    """
    SELECT count(*)::BIGINT AS n,
           sum((l_extendedprice * l_discount)::DECIMAL(18,4))::DOUBLE
             AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def f1_filter_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — raw SQL predicate passthrough (adapters/pgvector.py:99-100)
    exercised via F.expr, TPC-H Q6 shape; decimal sum = order-exact."""
    li = _t(spark, sf_dir, "lineitem")
    cond = (
        "l_shipdate >= timestamp '1996-01-01' AND "
        "l_shipdate < timestamp '1997-01-01' AND "
        "l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"
    )
    return li.filter(F.expr(cond)).agg(
        F.count("*").alias("n"),
        F.sum(
            (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,4)")
        ).cast("double").alias("revenue"),
    )


@query(
    "l1_limit_offset",
    """
    SELECT c_custkey, c_name FROM customer
    ORDER BY c_custkey LIMIT 20 OFFSET 5
    """,
)
def l1_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1/L2 — deterministic limit/offset anchored to a sort key
    (reference: adapters/pgvector.py:103-106)."""
    from vectordb_migrator_spark.operators.slicing import limit_offset

    return limit_offset(
        _t(spark, sf_dir, "customer").select("c_custkey", "c_name"),
        limit=20,
        offset=5,
        order_by="c_custkey",
    )


@query(
    "c1_pgvector_roundtrip",
    """
    SELECT vec_id AS id, len(embedding)::BIGINT AS dim,
           round(embedding[1]::DOUBLE, 4) AS first_val
    FROM embeddings ORDER BY id LIMIT 100
    """,
)
def c1_pgvector_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 — array<float> → pgvector text literal → parsed back
    (the JDBC bridge both directions, adapters/pgvector.py:120)."""
    e = _t(spark, sf_dir, "embeddings")
    parsed = parse_pgvector_text(format_pgvector_text(F.col("embedding")))
    return (
        e.select(
            F.col("vec_id").alias("id"),
            F.size(parsed).cast("long").alias("dim"),
            F.round(parsed.getItem(0).cast("double"), 4).alias("first_val"),
        )
        .orderBy("id")
        .limit(100)
    )


@query(
    "c2_id_coercion",
    """
    SELECT doc_id,
           CASE WHEN regexp_matches(raw, '^[0-9]+$')
                THEN regexp_replace(raw, '^0+(.)', '\\1') ELSE raw END AS coerced
    FROM (SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0 THEN '00' || doc_id::VARCHAR
                      WHEN doc_id % 3 = 1 THEN 'doc-' || doc_id::VARCHAR
                      ELSE doc_id::VARCHAR END AS raw
          FROM documents) ORDER BY doc_id
    """,
)
def c2_id_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 — digit-string ids canonicalized to ints, other ids pass
    through (adapters/qdrant.py:219-222)."""
    d = _t(spark, sf_dir, "documents")
    raw = (
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("00"), F.col("doc_id").cast("string")))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("doc-"), F.col("doc_id").cast("string")))
        .otherwise(F.col("doc_id").cast("string"))
    )
    return d.select(
        "doc_id", coerce_id(raw).alias("coerced")
    ).orderBy("doc_id")


@query(
    "c4_c6_conform_schema",
    """
    SELECT o_orderkey::VARCHAR AS id, o_orderpriority AS priority,
           NULL::VARCHAR AS missing_field
    FROM orders WHERE o_orderkey % 100 != 7 ORDER BY o_orderkey
    """,
)
def c4_c6_conform_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 — rows with NULL id skipped (adapters/milvus.py:188-192);
    C6 — conform to target schema: unknown keys dropped, missing keys
    null-filled (adapters/milvus.py:224-233)."""
    from vectordb_migrator_spark.canonical import conform_to_schema, drop_missing_ids

    o = _t(spark, sf_dir, "orders")
    canon = o.select(
        F.when(F.col("o_orderkey") % 100 != 7, F.col("o_orderkey").cast("string")).alias("id"),
        F.lit(None).cast("array<float>").alias("vector"),
        F.create_map(
            F.lit("priority"), F.col("o_orderpriority"),
            F.lit("extra_key"), F.lit("dropme"),
        ).alias("metadata"),
        F.col("o_orderkey").alias("_ord"),
    )
    kept = drop_missing_ids(canon)
    conformed = conform_to_schema(kept, ["priority", "missing_field"])
    return (
        conformed.join(kept.select("id", "_ord"), "id")
        .orderBy("_ord")
        .select("id", "priority", "missing_field")
    )


@query(
    "t1_transform_contract",
    """
    SELECT vec_id::VARCHAR AS id, label::BIGINT AS label,
           'sf-test' AS source_db
    FROM embeddings WHERE label < 8 ORDER BY vec_id
    """,
)
def t1_transform_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T2/F4 — the reference-contract transform(data) surface over
    mapInArrow (core/migrator.py:79-87, examples/add_source_tracking.py):
    enriches metadata AND drops rows, exactly as user modules may."""

    def transform(data):
        out = []
        for item in data:
            if int(item["metadata"]["label"]) >= 8:
                continue  # item-level filter (F4)
            item["metadata"]["source_db"] = "sf-test"
            out.append(item)
        return out

    canon = to_canonical_columns(
        _t(spark, sf_dir, "embeddings"),
        id_column="vec_id",
        vector_column="embedding",
        metadata_columns=["label"],
    )
    result = apply_transform(canon, transform)
    return result.select(
        "id",
        F.col("metadata").getItem("label").cast("long").alias("label"),
        F.col("metadata").getItem("source_db").alias("source_db"),
    ).orderBy(F.col("id").cast("long"))


@query(
    "pipeline_migrate_plan",
    """
    SELECT vec_id::VARCHAR AS id, len(embedding)::BIGINT AS dim,
           label::BIGINT AS label
    FROM embeddings WHERE label >= 5 ORDER BY vec_id LIMIT 100
    """,
)
def pipeline_migrate_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole config-driven migration pipeline as one lazy plan
    (reference lifecycle core/migrator.py:42-111) — source, pushdown
    query params, canonical normalize."""
    cfg = {
        "source": {
            "type": "parquet",
            "connection": {},
            "query": {
                "path": f"{sf_dir}/embeddings.parquet",
                "id_column": "vec_id",
                "vector_column": "embedding",
                "metadata_columns": ["label"],
                "filter_condition": "label >= 5",
                "limit": 100,
            },
        },
        "target": {"type": "parquet", "connection": {}, "load": {"path": "/tmp/unused"}},
    }
    df = Migrator(spark, cfg).plan()
    return df.select(
        "id",
        F.size("vector").cast("long").alias("dim"),
        F.col("metadata").getItem("label").cast("long").alias("label"),
    ).orderBy(F.col("id").cast("long"))


@query(
    "agg_counts",
    """
    SELECT 'documents' AS tbl, count(*)::BIGINT AS n FROM documents
    UNION ALL SELECT 'embeddings', count(*)::BIGINT FROM embeddings
    UNION ALL SELECT 'events', count(*)::BIGINT FROM events
    ORDER BY tbl
    """,
)
def agg_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 — the reference's only aggregation surface: counts
    (core/migrator.py:76,83; adapters/qdrant.py:93)."""
    parts = [
        _t(spark, sf_dir, n).agg(F.count("*").alias("n")).select(F.lit(n).alias("tbl"), "n")
        for n in ("documents", "embeddings", "events")
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("tbl")
