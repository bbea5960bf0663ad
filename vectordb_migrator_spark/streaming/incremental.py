"""X8 — streaming incremental migration (the reference's declared but
unbuilt feature: "Implementing incremental migration capabilities",
reference ``README.md:286``).

Structured Streaming over a canonical-record stream:
``readStream → withWatermark → [windowed agg | passthrough] →
foreachBatch(idempotent upsert)``. Reusing the Qdrant sink's
idempotent-by-id upsert semantics (``adapters/qdrant.py:224-247``)
makes each micro-batch exactly-once-per-id even under retries: an id
re-upserted by a replayed batch converges to the same state.

At scale: the source is a file/Kafka stream partitioned by arrival;
state for windowed aggs is bounded by the watermark; sinks receive
per-partition batched upserts exactly like the batch path.

Every ingest here starts its stream through one runner
(``_run_stream``): a parquet ``readStream`` → ``foreachBatch`` under
the caller's checkpoint, triggered ``availableNow`` — each call
processes the backlog the checkpoint has not seen, then stops (the
incremental-batch pattern: run it from a scheduler, state carried by
the checkpoint). ``reader_options`` pass verbatim to the stream reader
for the backpressure knobs a production run sets
(``maxFilesPerTrigger`` / ``maxBytesPerTrigger``): bounding the
micro-batch bounds each batch's shuffle and the size of every
per-batch store partial.

A failed micro-batch re-executes with the SAME ``batch_id`` (the
foreachBatch contract), so every store is written under one of two
replay contracts:

* **partial append** — the batch folds to mergeable partials keyed by
  ``(keys…, batch_id)`` (id-keyed stores: by id alone), and one guard
  (``_unseen``) anti-joins them against the keys already in the store
  before the append, so a replay appends nothing. Only a store that
  does not exist yet skips the guard; any other read error (a store
  whose columns differ from the keys, say) fails the batch rather
  than appending unguarded.
* **batch-keyed overwrite** — the batch writes ``…/batch=<batch_id>``
  with mode=overwrite, so a replay replaces its own earlier attempt
  (``validated_ingest``, ``decontaminated_ingest`` and the state
  versions of ``transitions_ingest``).

``gated_ingest`` appends without a guard; its docstring states that
weaker contract.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectordb_migrator_spark.operators.transform import TransformFn, apply_transform

#: ``getCondition()`` of a parquet read whose store does not exist
#: yet: no such path, or a directory that holds no data files
_NO_STORE = frozenset({"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"})


def _run_stream(
    spark: SparkSession,
    ingest: Callable[[DataFrame, int], Any],
    source_path: str,
    source_schema: str | None,
    checkpoint: str,
    reader_options: dict | None,
    transform: TransformFn | None = None,
):
    """Start ``foreachBatch(ingest)`` over the parquet files at
    ``source_path`` (``transform`` applied first, when given) and
    return the query; it stops once the backlog is processed."""
    reader = spark.readStream.options(**(reader_options or {}))
    if source_schema:
        reader = reader.schema(source_schema)
    stream = apply_transform(reader.parquet(source_path), transform)
    return (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def _read_store(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet store at ``path``, or None while it does not exist
    yet. Every other analysis error propagates."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() in _NO_STORE:
            return None
        raise


def _unseen(df: DataFrame, path: str, keys: list[str]) -> DataFrame:
    """The replay guard: ``df`` minus the rows whose ``keys`` already
    sit in the store at ``path``."""
    store = _read_store(df.sparkSession, path)
    if store is None:
        return df
    return df.join(store.select(*keys), keys, "left_anti")


def windowed_event_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window counts with late-data handling — works on a
    streaming OR batch DataFrame (same code path, Spark unifies them).
    State is dropped once the watermark passes the window end."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def incremental_migration(
    spark: SparkSession,
    *,
    source_path: str,
    source_schema: str | None,
    upsert: Callable[[DataFrame, int], Any],
    transform: TransformFn | None = None,
    checkpoint: str,
    reader_options: dict | None = None,
):
    """Continuously migrate newly-arriving canonical records.

    ``upsert(batch_df, batch_id)`` receives each micro-batch; pair it
    with any adapter's idempotent write (e.g.
    ``QdrantAdapter().write``). Each call processes the backlog then
    stops — the incremental-batch pattern (run from a scheduler, state
    carried by the checkpoint).
    """
    return _run_stream(
        spark, upsert, source_path, source_schema, checkpoint,
        reader_options, transform,
    )


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    *,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch joins against
    the (batch) dimension table. The dim side is broadcast, so no
    stream state accrues and no shuffle touches the stream — the
    standard pattern for decorating an event stream with reference
    data. The static side is re-read per micro-batch, so a dim backed
    by a mutable table picks up updates between batches."""
    return stream.join(F.broadcast(dim), on, how)


def deduped_ingest(
    spark: SparkSession,
    *,
    source_path: str,
    source_schema: str,
    corpus_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
    reader_options: dict | None = None,
    compact_every: int | None = 16,
    compact_partitions: int = 4,
):
    """Streaming ingest with near-dup filtering — X2 meets X8: every
    micro-batch dedups against the PERSISTED corpus (and its own
    earlier rows) via :func:`~vectordb_migrator_spark.operators.dedup
    .incremental_dedup`, and only survivors append to the corpus.

    Replay safety: before dedup, batch rows whose id already exists in
    the corpus are dropped (a replayed micro-batch would otherwise
    collide with its own surviving copies), so restarts from the
    checkpoint are exactly-once-per-id.

    History is shingled exactly once: survivors' ``(id, sh, sh_n)``
    rows are appended to a shingle store at ``{corpus_path}__shingles``
    alongside the corpus itself, and each micro-batch dedups against
    the STORE (``corpus_pre_shingled``) — the corpus text is never
    re-read or re-shingled at ingest time. The id anti-join also runs
    against the store (its ids are exactly the corpus ids). A corpus
    that predates the store is backfilled once, on the first batch
    that finds it missing. Appending the store inside ``foreachBatch``
    keeps it replay-consistent: a replayed batch's survivors were
    already id-filtered out, so their shingles never double-append.

    Store compaction: per-micro-batch appends leave one small parquet
    file set per batch, and a store read over thousands of tiny files
    rots every later batch's dedup scan (per-file open + footer cost
    dominates). Every ``compact_every``-th batch the store is rewritten
    into ``compact_partitions`` files: materialize off the input files
    (``localCheckpoint``), write to a ``__compacting`` sibling, then
    swap via two FileSystem renames. Crash-safe: if the process dies
    between the renames, the next batch finds the finished
    ``__compacting`` dir and completes the swap (and the worst pre-swap
    crash loses only the compaction attempt, never store rows);
    replayed batches at most redo one idempotent rewrite. Set
    ``compact_every=None`` to disable."""
    from vectordb_migrator_spark.operators.dedup import (
        incremental_dedup,
        shingle_table,
    )

    shingle_path = f"{corpus_path}__shingles"
    compact_tmp = f"{shingle_path}__compacting"

    def _hadoop(path: str):
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath

    def _finish_swap() -> None:
        """Complete a compaction interrupted between its two renames:
        a finished __compacting dir + missing store = rename it in."""
        fs, tmp = _hadoop(compact_tmp)
        _, dst = _hadoop(shingle_path)
        if fs.exists(tmp) and not fs.exists(dst):
            fs.rename(tmp, dst)

    def _compact() -> None:
        store = _read_store(spark, shingle_path)
        if store is None:
            return
        # sever lineage from the files about to be replaced — the
        # compacted rows live in block storage, not the input parquet
        compacted = store.localCheckpoint(eager=True)
        compacted.coalesce(max(1, compact_partitions)).write.mode(
            "overwrite"
        ).parquet(compact_tmp)
        fs, tmp = _hadoop(compact_tmp)
        _, dst = _hadoop(shingle_path)
        fs.delete(dst, True)
        fs.rename(tmp, dst)
        compacted.unpersist()

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        _finish_swap()
        store = _read_store(batch_df.sparkSession, shingle_path)
        if store is None:
            corpus = _read_store(batch_df.sparkSession, corpus_path)
            if corpus is not None:
                # one-time backfill for a corpus that predates the store
                shingle_table(
                    corpus, id_col=id_col, text_col=text_col, n=n
                ).write.mode("append").parquet(shingle_path)
                store = _read_store(batch_df.sparkSession, shingle_path)
        if store is not None:
            fresh = batch_df.join(
                store.select(F.col("id").alias(id_col)), id_col, "left_anti"
            )
            survivors = incremental_dedup(
                fresh, store, id_col=id_col, text_col=text_col,
                n=n, threshold=threshold, corpus_pre_shingled=True,
            )
        else:
            # empty corpus: batch still dedups against itself
            empty = batch_df.limit(0)
            survivors = incremental_dedup(
                batch_df, empty, id_col=id_col, text_col=text_col,
                n=n, threshold=threshold,
            )
        # materialize before the two writes: the survivors plan READS
        # shingle_path, which the second write appends to — truncating
        # the lineage avoids a self-referential read-during-append
        # (and computes the dedup once instead of twice)
        survivors = survivors.localCheckpoint(eager=True)
        survivors.write.mode("append").parquet(corpus_path)
        shingle_table(
            survivors, id_col=id_col, text_col=text_col, n=n
        ).write.mode("append").parquet(shingle_path)
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            _compact()

    return _run_stream(
        spark, _ingest, source_path, source_schema, checkpoint, reader_options
    )


def indexed_ingest(
    spark: SparkSession,
    *,
    source_path: str,
    source_schema: str,
    index_path: str,
    checkpoint: str,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    reader_options: dict | None = None,
):
    """Continuous ANN-index maintenance — X4 meets X8: every
    micro-batch of new vectors appends into a
    :func:`~vectordb_migrator_spark.operators.similarity
    .build_lsh_index` layout via :func:`~vectordb_migrator_spark
    .operators.similarity.lsh_index_append`, so probes see fresh rows
    as soon as their batch commits (directory pruning needs no index
    rebuild — LSH bucketing is stateless).

    Replay safety: a replayed micro-batch drops rows whose id already
    exists in the index (one partition-pruned id scan of the layout),
    so restarts from the checkpoint are exactly-once-per-id even
    though parquet appends are not idempotent by themselves.
    """
    from vectordb_migrator_spark.operators.similarity import lsh_index_append

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        fresh = _unseen(batch_df, index_path, [id_col])
        lsh_index_append(fresh, planes, index_path, vec_col=vec_col)

    return _run_stream(
        spark, _ingest, source_path, source_schema, checkpoint, reader_options
    )


def sketch_ingest(
    spark: SparkSession,
    *,
    source_path: str,
    source_schema: str,
    sketch_path: str,
    checkpoint: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    reader_options: dict | None = None,
):
    """Continuous mergeable-sketch maintenance — X7 meets X8: every
    micro-batch appends one (day, batch_id, HLL sketch, n_events) row
    per day it touches, and readers answer "distinct keys over any
    date range" by ``hll_union_agg`` over the kilobyte-sized store —
    raw history is NEVER rescanned. Appending per-batch partial
    sketches (instead of read-modify-writing a merged row) keeps the
    ingest write conflict-free and idempotent to replays *within the checkpoint
    lineage* (the foreachBatch contract: a failed batch re-executes
    with the SAME batch_id, and the pre-append anti-join on
    (day, batch_id) drops its rows). Starting over with a fresh
    checkpoint is a new pipeline identity and re-ingests by design.

    Compaction (merging a day's partials into one row) is an optional
    offline pass — estimates are identical either way because HLL
    union is associative and commutative.
    """

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        partials = (
            batch_df.groupBy(F.to_date(F.col(ts_col)).alias("day"))
            .agg(
                F.hll_sketch_agg(key_col).alias("sk"),
                F.count("*").alias("n_events"),
            )
            .withColumn("batch_id", F.lit(batch_id))
        )
        partials = _unseen(partials, sketch_path, ["day", "batch_id"])
        partials.write.mode("append").parquet(sketch_path)

    return _run_stream(
        spark, _ingest, source_path, source_schema, checkpoint, reader_options
    )


def sketch_distinct_over(
    spark: SparkSession,
    sketch_path: str,
    *,
    start_day: str | None = None,
    end_day: str | None = None,
) -> DataFrame:
    """Answer "distinct keys in [start_day, end_day]" from a
    :func:`sketch_ingest` store: filter the (tiny) sketch table on the
    partition-prunable day column and union the sketches — the raw
    event history never enters the plan."""
    df = spark.read.parquet(sketch_path)
    if start_day:
        df = df.filter(F.col("day") >= F.lit(start_day))
    if end_day:
        df = df.filter(F.col("day") <= F.lit(end_day))
    return df.agg(
        F.count("*").cast("long").alias("n_partials"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.hll_sketch_estimate(F.hll_union_agg("sk"))
        .cast("long")
        .alias("distinct_est"),
    )


def validated_ingest(
    spark: SparkSession,
    *,
    source_path: str,
    source_schema: str,
    corpus_path: str,
    quarantine_path: str,
    checkpoint: str,
    validate: dict[str, Any],
    reader_options: dict | None = None,
):
    """Streaming ingest with a PER-MICRO-BATCH quality gate — X12 meets
    X8: every batch evaluates the same declarative constraint set the
    batch Migrator's ``validate`` section uses (N constraints = ONE
    aggregate over one batch scan), and lands batch-atomically in the
    corpus when every constraint passes or in the quarantine when any
    fails. The per-batch validation report (check, value, threshold,
    passed) is persisted next to the quarantine, so a data-quality
    incident has its evidence attached.

    Replay safety without id bookkeeping: each batch writes to its own
    ``batch=<id>`` subdirectory with mode=overwrite, so a replayed
    micro-batch overwrites its previous attempt instead of appending a
    duplicate — idempotent by construction, and both stores read back
    as ordinary partitioned parquet.

    At scale the gate costs one extra pass over the BATCH (not the
    corpus) — micro-batch-sized by definition; the report is
    constraint-count rows.
    """
    from vectordb_migrator_spark.operators.validation import (
        check_constraints,
        constraints_from_config,
    )

    cons = constraints_from_config(validate)

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.localCheckpoint(eager=True)  # gate + write, one compute
        report = check_constraints(batch_df, cons)
        rows = report.collect()  # len(constraints) rows — driver-tiny
        ok = all(r["passed"] for r in rows)
        target = corpus_path if ok else quarantine_path
        batch_df.write.mode("overwrite").parquet(f"{target}/batch={batch_id}")
        report.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "overwrite"
        ).parquet(f"{quarantine_path}__reports/batch={batch_id}")

    return _run_stream(
        spark, _ingest, source_path, source_schema, checkpoint, reader_options
    )


def mixture_ingest(
    spark: SparkSession,
    *,
    source_path: str,
    source_schema: str,
    counts_path: str,
    checkpoint: str,
    source_col: str = "source",
    size_col: str | None = None,
    reader_options: dict | None = None,
):
    """Continuous mixture-statistics maintenance — X10 meets X8: every
    micro-batch appends one ``(source, batch_id, size)`` partial per
    source it touches, and :func:`mixture_over` derives the CURRENT
    temperature-mixing plan from the kilobyte-sized counts store — the
    growing corpus is never rescanned to re-plan a mixture. Same
    partial-append contract as ``sketch_ingest``: appends are
    conflict-free, and the pre-append anti-join on
    ``(source, batch_id)`` makes foreachBatch replays idempotent
    within the checkpoint lineage. ``size_col`` measures per-row size
    (e.g. a token count expression name); default is row count."""

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        size = (
            F.count(F.lit(1)) if size_col is None else F.sum(F.col(size_col))
        )
        partials = (
            batch_df.groupBy(F.col(source_col).alias("source"))
            .agg(size.cast("double").alias("size"))
            .withColumn("batch_id", F.lit(batch_id))
        )
        partials = _unseen(partials, counts_path, ["source", "batch_id"])
        partials.write.mode("append").parquet(counts_path)

    return _run_stream(
        spark, _ingest, source_path, source_schema, checkpoint, reader_options
    )


def mixture_over(
    spark: SparkSession,
    counts_path: str,
    *,
    alpha: float = 0.5,
    budget: int = 1_000_000,
) -> DataFrame:
    """The current temperature-mixing plan from a :func:`mixture_ingest`
    counts store: sum the per-batch partials per source (associative,
    so partial appends and a merged store answer identically) and run
    the standard ``source_mixture`` math over the tiny aggregate —
    same output schema (source, size, weight, target, epochs), fed to
    ``apply_source_mixture`` unchanged."""
    from vectordb_migrator_spark.operators.slicing import source_mixture

    per = (
        spark.read.parquet(counts_path)
        .groupBy("source")
        .agg(F.sum("size").alias("__n"))
    )
    return source_mixture(
        per, source_col="source", size_col="__n", alpha=alpha, budget=budget
    )


def decontaminated_ingest(
    spark: SparkSession,
    *,
    source_path: str,
    source_schema: str,
    corpus_path: str,
    quarantine_path: str,
    benchmark: DataFrame,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    reader_options: dict | None = None,
):
    """Streaming benchmark-decontamination gate — X5 meets X8: every
    arriving micro-batch is checked against a STATIC eval benchmark
    (per-doc n-gram contamination, the same detector as the batch
    ``ngram_contamination``); documents at or above the contamination
    threshold are quarantined (with their measured fraction attached),
    the rest land in the corpus — so eval material can never leak into
    a training corpus that is continuously ingested. The benchmark's
    distinct-gram side is benchmark-sized and broadcast per batch; the
    batch side is micro-batch-sized by definition — no history is ever
    rescanned. Batch-keyed overwrite writes make replays idempotent,
    exactly like ``validated_ingest``."""
    from vectordb_migrator_spark.operators.cleaning import ngram_contamination

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.localCheckpoint(eager=True)
        report = ngram_contamination(
            benchmark,
            batch_df,
            id_col=id_col,
            text_col=text_col,
            n=n,
            threshold=threshold,
        ).select(id_col, "contamination", "is_contaminated")
        marked = batch_df.join(report, id_col, "left")
        clean = marked.filter(~F.coalesce("is_contaminated", F.lit(False)))
        dirty = marked.filter(F.coalesce("is_contaminated", F.lit(False)))
        clean.drop("contamination", "is_contaminated").write.mode(
            "overwrite"
        ).parquet(f"{corpus_path}/batch={batch_id}")
        dirty.drop("is_contaminated").write.mode("overwrite").parquet(
            f"{quarantine_path}/batch={batch_id}"
        )

    return _run_stream(
        spark, _ingest, source_path, source_schema, checkpoint, reader_options
    )


def curation_ingest(
    spark: SparkSession,
    *,
    source_path: str,
    source_schema: str,
    grain_path: str,
    checkpoint: str,
    source_col: str = "source",
    text_col: str = "text",
    reader_options: dict | None = None,
):
    """Continuous curation-report maintenance — X0 meets X8: every
    micro-batch appends per-(source, lang_pred, bucket, batch_id)
    GRAIN partials (:func:`~vectordb_migrator_spark.operators.cleaning
    .curation_grain` with ``sketch=True``): doc/token/quality counts
    are associative sums, and the exact-dup measure is a mergeable HLL
    sketch of text md5s — the one signal a streaming store cannot keep
    exact, because per-batch distinct counts do not sum.
    :func:`curation_report_over` then derives the SAME (section, k, v)
    tables as the batch ``x0_curation_report`` from the kilobyte store
    — the growing corpus is never rescanned to refresh the report.
    Same partial-append contract as ``sketch_ingest``/
    ``mixture_ingest``: appends are conflict-free, and the pre-append
    anti-join on the grain keys + ``batch_id`` makes foreachBatch
    replays idempotent within the checkpoint lineage."""
    from vectordb_migrator_spark.operators.cleaning import curation_grain

    keys = ["source", "lang_pred", "bucket", "batch_id"]

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        partials = curation_grain(
            batch_df, source_col=source_col, text_col=text_col, sketch=True
        ).withColumn("batch_id", F.lit(batch_id))
        partials = _unseen(partials, grain_path, keys)
        partials.write.mode("append").parquet(grain_path)

    return _run_stream(
        spark, _ingest, source_path, source_schema, checkpoint, reader_options
    )


def curation_report_over(spark: SparkSession, grain_path: str) -> DataFrame:
    """The current curation report from a :func:`curation_ingest` grain
    store: merge the per-batch partials per grain (sums are
    associative; dup distincts union as HLL sketches), then run the
    same :func:`~vectordb_migrator_spark.operators.cleaning
    .curation_sections` fold the batch report uses. Every section
    except ``dup_by_source`` is EXACT and equal to the batch report on
    the same rows; dup rates carry HLL estimate error (~±2% at
    default precision) — the price of never rescanning history."""
    from vectordb_migrator_spark.operators.cleaning import curation_sections

    grain = (
        spark.read.parquet(grain_path)
        .groupBy("source", "lang_pred", "bucket")
        .agg(
            F.sum("n").alias("n"),
            F.sum("tok").alias("tok"),
            F.hll_sketch_estimate(F.hll_union_agg("sk"))
            .cast("double")
            .alias("dist"),
            F.sum("passed").alias("passed"),
        )
    )
    return curation_sections(grain)


def cms_ingest(
    spark: SparkSession,
    *,
    source_path: str,
    source_schema: str,
    cells_path: str,
    checkpoint: str,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    reader_options: dict | None = None,
):
    """Continuous count-min maintenance — X7's frequency twin of
    ``sketch_ingest``: every micro-batch appends its own CMS cell
    partial (:func:`~vectordb_migrator_spark.operators.sketches
    .cms_build` + ``batch_id``), and :func:`cms_estimate_over` answers
    point-frequency queries from the summed cells — CMS merge IS
    counter addition, so partial appends and a monolithic build answer
    identically. Same replay contract as every partial store here:
    the pre-append anti-join on (d, w, batch_id) makes foreachBatch
    replays idempotent within the checkpoint lineage."""
    from vectordb_migrator_spark.operators.sketches import cms_build

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        partials = cms_build(
            batch_df, key_col, depth=depth, width=width
        ).withColumn("batch_id", F.lit(batch_id))
        partials = _unseen(partials, cells_path, ["d", "w", "batch_id"])
        partials.write.mode("append").parquet(cells_path)

    return _run_stream(
        spark, _ingest, source_path, source_schema, checkpoint, reader_options
    )


def cms_estimate_over(
    spark: SparkSession,
    cells_path: str,
    keys: DataFrame,
    key_col: str,
    *,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-frequency estimates from a :func:`cms_ingest` store: sum
    the per-batch cell partials (the CMS merge), then probe — raw
    history never enters the plan. ``depth``/``width`` MUST match the
    ingest."""
    from vectordb_migrator_spark.operators.sketches import cms_estimate

    cells = (
        spark.read.parquet(cells_path)
        .groupBy("d", "w")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    return cms_estimate(cells, keys, key_col, depth=depth, width=width)


def histogram_ingest(
    spark: SparkSession,
    *,
    source_path: str,
    source_schema: str,
    hist_path: str,
    checkpoint: str,
    value_col: str,
    base: float = 1.05,
    reader_options: dict | None = None,
    nonpositive: str = "drop",
):
    """Continuous quantile maintenance — the log-bucket histogram as a
    mergeable store: per-batch (bucket, batch_id, n) partials append;
    :func:`quantiles_over` reads current quantiles with relative value
    error ≤ base−1 without rescanning history. Replay-idempotent via
    the (bucket, batch_id) anti-join. ``nonpositive`` follows
    :func:`log_histogram` — 'drop' (default) so one zero-valued row
    can never wedge the stream, 'error' to fail the batch."""
    from vectordb_migrator_spark.operators.sketches import log_histogram

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        partials = log_histogram(
            batch_df, value_col, base=base, nonpositive=nonpositive
        ).withColumn("batch_id", F.lit(batch_id))
        partials = _unseen(partials, hist_path, ["bucket", "batch_id"])
        partials.write.mode("append").parquet(hist_path)

    return _run_stream(
        spark, _ingest, source_path, source_schema, checkpoint, reader_options
    )


def quantiles_over(
    spark: SparkSession,
    hist_path: str,
    qs: list[float],
    *,
    base: float = 1.05,
) -> DataFrame:
    """Current quantile estimates from a :func:`histogram_ingest`
    store: sum the per-batch bucket partials (histogram merge is
    addition) and read the quantile edges off the tiny merged table."""
    from vectordb_migrator_spark.operators.sketches import (
        histogram_quantiles,
    )

    hist = (
        spark.read.parquet(hist_path)
        .groupBy("bucket")
        .agg(F.sum("n").cast("long").alias("n"))
        .localCheckpoint(eager=True)
    )
    return histogram_quantiles(hist, qs, base=base)


def daily_stats_ingest(
    spark: SparkSession,
    *,
    source_path: str,
    source_schema: str,
    store_path: str,
    checkpoint: str,
    ts_col: str = "ts",
    value_col: str = "value",
    reader_options: dict | None = None,
):
    """Continuous changepoint-monitor maintenance — per-batch
    (day, sum, cnt, batch_id) partials append to a day-sized store;
    :func:`changepoints_over` reads the current CUSUM table without
    rescanning history (daily means merge as weighted sums). The
    store is the (days × batches) grain — kilobytes for years of
    data. Replay-idempotent via the (day, batch_id) anti-join."""

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        partials = (
            batch_df.groupBy(
                F.date_format(
                    F.date_trunc("day", F.col(ts_col)), "yyyy-MM-dd"
                ).alias("day")
            )
            .agg(
                F.sum(value_col).cast("double").alias("s"),
                F.count(F.lit(1)).cast("long").alias("cnt"),
            )
            .withColumn("batch_id", F.lit(batch_id))
        )
        partials = _unseen(partials, store_path, ["day", "batch_id"])
        partials.write.mode("append").parquet(store_path)

    return _run_stream(
        spark, _ingest, source_path, source_schema, checkpoint, reader_options
    )


def changepoints_over(
    spark: SparkSession,
    store_path: str,
    *,
    threshold: float = 3.0,
) -> DataFrame:
    """Current CUSUM changepoint table from a
    :func:`daily_stats_ingest` store: merge the per-batch partials
    into daily means (weighted-sum merge, exact — not a mean of
    means), then run the shared day-sized statistic
    (``operators.timeseries.cusum_from_daily``). Matches the batch
    ``cusum_changepoints`` output on the same data exactly."""
    from vectordb_migrator_spark.operators.timeseries import (
        cusum_from_daily,
    )

    daily = (
        spark.read.parquet(store_path)
        .groupBy("day")
        .agg(
            F.round(
                F.sum("s") / F.sum("cnt"),
                6,
            ).alias("v")
        )
        .localCheckpoint(eager=True)
    )
    return cusum_from_daily(daily, threshold=threshold)


def gated_ingest(
    spark: SparkSession,
    *,
    source_path: str,
    source_schema: str,
    clean_path: str,
    quarantine_path: str,
    rules: "list[tuple[str, Any]]",
    checkpoint: str,
    reader_options: dict | None = None,
):
    """Streaming contract enforcement — X12 meets X8: every
    micro-batch is gated by :func:`~vectordb_migrator_spark.operators
    .validation.enforce_rules`; conforming rows append to the clean
    corpus, violators append to a quarantine store WITH their
    violated-rule names and batch id (the machine-readable reason a
    triage job reads instead of the stream dying on one bad row —
    the Delta Live Tables expectations pattern).

    Both writes happen inside one ``foreachBatch`` off the SAME gated
    frame (one gate evaluation; the projection is codegen, so the two
    filtered writes re-run the scan but never a shuffle). Replays
    re-emit the same rows to both stores idempotently only if the
    upstream checkpoint advanced; the quarantine rows carry
    ``batch_id`` so a replayed batch's duplicates are identifiable
    and the store can be compacted by (batch_id) max-wins."""
    from vectordb_migrator_spark.operators.validation import enforce_rules

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        gated = enforce_rules(batch_df, rules).localCheckpoint(eager=True)
        gated.filter(F.size("violations") == 0).drop("violations").write.mode(
            "append"
        ).parquet(clean_path)
        (
            gated.filter(F.size("violations") > 0)
            .withColumn(
                "violations",
                F.array_join(F.sort_array(F.col("violations")), ","),
            )
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(quarantine_path)
        )

    return _run_stream(
        spark, _ingest, source_path, source_schema, checkpoint, reader_options
    )


def psi_bin_ingest(
    spark: SparkSession,
    *,
    source_path: str,
    source_schema: str,
    store_path: str,
    checkpoint: str,
    value_col: str,
    edges: list[float],
    reader_options: dict | None = None,
):
    """Continuous drift monitoring — the streaming twin of
    ``operators/validation.py:psi_drift``: the REFERENCE window is
    frozen offline (its percentile ``edges`` and bin shares computed
    once); each micro-batch of the live stream then folds to
    (bin, batch_id, n) partials against those fixed edges — mergeable
    by addition like every sketch store here, so :func:`psi_over`
    reads the CURRENT PSI without rescanning stream history.
    Replay-idempotent via the (bin, batch_id) anti-join. NULL values
    drop (they have no bin; track null rates separately)."""

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        v = F.col(value_col).cast("double")
        bin_expr = F.when(v <= edges[0], 1)
        for i in range(1, len(edges)):
            bin_expr = bin_expr.when(v <= edges[i], i + 1)
        bin_expr = bin_expr.otherwise(len(edges) + 1)
        partials = (
            batch_df.filter(v.isNotNull())
            .select(bin_expr.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .withColumn("batch_id", F.lit(batch_id))
        )
        partials = _unseen(partials, store_path, ["bin", "batch_id"])
        partials.write.mode("append").parquet(store_path)

    return _run_stream(
        spark, _ingest, source_path, source_schema, checkpoint, reader_options
    )


def psi_over(
    spark: SparkSession,
    store_path: str,
    ref_shares: list[float],
    *,
    eps: float = 1e-6,
    threshold: float = 0.2,
) -> DataFrame:
    """Current PSI of a :func:`psi_bin_ingest` store against the
    frozen reference: merge the per-batch bin partials (addition),
    fill bins the stream never hit with share 0, and fold
    Σ (p_cur − p_ref)·ln(p_cur/p_ref) with the same eps clamp the
    batch operator uses. ``ref_shares[i]`` is the reference share of
    bin i+1 (len = n_edges + 1). One tiny-frame read; returns one row
    (n_cur, psi, drifted)."""
    k = len(ref_shares)
    bins = spark.range(1, k + 1).select(
        F.col("id").cast("int").alias("bin")
    )
    ref = bins.withColumn(
        "ref_share",
        F.element_at(
            F.array(*[F.lit(float(s)) for s in ref_shares]), F.col("bin")
        ),
    )
    cur = (
        spark.read.parquet(store_path)
        .groupBy("bin")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    merged = ref.join(cur, "bin", "left").select(
        "bin",
        "ref_share",
        F.coalesce("n", F.lit(0)).alias("n"),
    )
    from pyspark.sql import Window

    tot = F.sum("n").over(Window.partitionBy())
    shares = merged.withColumn(
        "cur_share", F.try_divide(F.col("n"), tot)
    ).withColumn("cur_share", F.coalesce("cur_share", F.lit(0.0)))
    pr = F.greatest(F.col("ref_share"), F.lit(eps))
    pc = F.greatest(F.col("cur_share"), F.lit(eps))
    return shares.agg(
        F.sum("n").cast("long").alias("n_cur"),
        F.round(F.sum((pc - pr) * F.log(pc / pr)), 6).alias("psi"),
    ).withColumn("drifted", F.col("psi") > threshold)


def transitions_ingest(
    spark: SparkSession,
    *,
    source_path: str,
    source_schema: str,
    store_path: str,
    state_path: str,
    checkpoint: str,
    unit_col: str,
    state_col: str,
    order_col: str,
    tiebreak_col: str,
    reader_options: dict | None = None,
):
    """Continuous Markov-transition maintenance — the streaming twin
    of ``operators/relational.py:transition_matrix`` with the one
    thing a per-batch fold cannot see handled explicitly: the
    BOUNDARY pair between a unit's last event of batch k−1 and its
    first event of batch k. Each micro-batch contributes its
    within-batch lag-1 pairs plus those boundary pairs (read from a
    per-unit last-event state store), appended as mergeable
    (from_state, to_state, batch_id, n) partials;
    :func:`transitions_over` reads current probabilities without
    rescanning stream history.

    The state store is VERSIONED BY BATCH (``state_path/batch=<k>``
    holds the per-unit last event as of batch k): a replayed batch k
    re-reads state version k−1 and regenerates byte-identical pairs,
    and the (batch_id) anti-join keeps the count store
    replay-idempotent — the same contract as every sketch store here.
    Assumes per-unit order_col monotonicity ACROSS batches (the
    append-log case); a unit's batch rows older than its stored state
    contribute no boundary pair."""

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        rows = batch_df.select(
            F.col(unit_col).alias("__u"),
            F.col(state_col).alias("__s"),
            F.col(order_col).alias("__o"),
            F.col(tiebreak_col).alias("__tb"),
        )
        within = (
            rows.withColumn(
                "__next",
                F.lead("__s").over(
                    Window.partitionBy("__u").orderBy("__o", "__tb")
                ),
            )
            .filter(F.col("__next").isNotNull())
            .select(
                F.col("__s").alias("from_state"),
                F.col("__next").alias("to_state"),
            )
        )
        firsts = (
            rows.withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy("__u").orderBy("__o", "__tb")
                ),
            )
            .filter(F.col("__rn") == 1)
            .select("__u", "__s", "__o")
        )
        lasts = (
            rows.withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy("__u").orderBy(
                        F.desc("__o"), F.desc("__tb")
                    )
                ),
            )
            .filter(F.col("__rn") == 1)
            .select("__u", "__s", "__o", "__tb")
        )
        import os

        versions = (
            [
                int(d.split("=", 1)[1])
                for d in os.listdir(state_path)
                if d.startswith("batch=") and d.split("=", 1)[1].isdigit()
            ]
            if os.path.isdir(state_path)
            else []
        )
        prior = [v for v in versions if v < batch_id]
        prev = (
            batch_df.sparkSession.read.parquet(
                f"{state_path}/batch={max(prior)}"
            )
            if prior
            else None
        )
        boundary = None
        if prev is not None:
            boundary = (
                prev.join(firsts, "__u")
                .filter(prev["__po"] <= F.col("__o"))
                .select(
                    F.col("__ps").alias("from_state"),
                    F.col("__s").alias("to_state"),
                )
            )
        pairs = within if boundary is None else within.unionByName(boundary)
        partials = (
            pairs.groupBy("from_state", "to_state")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .withColumn("batch_id", F.lit(batch_id))
        )
        partials = _unseen(
            partials, store_path, ["from_state", "to_state", "batch_id"]
        )
        partials.write.mode("append").parquet(store_path)
        # new state version: previous state overridden by this batch's
        # last events (overwrite of THIS version dir only = replay-safe)
        new_state = lasts.select(
            "__u",
            F.col("__s").alias("__ps"),
            F.col("__o").alias("__po"),
        )
        if prev is not None:
            carried = prev.join(new_state, "__u", "left_anti")
            new_state = new_state.unionByName(carried)
        new_state.write.mode("overwrite").parquet(
            f"{state_path}/batch={batch_id}"
        )

    return _run_stream(
        spark, _ingest, source_path, source_schema, checkpoint, reader_options
    )


def transitions_over(spark: SparkSession, store_path: str) -> DataFrame:
    """Current transition matrix from a :func:`transitions_ingest`
    store: merge the per-batch pair partials (addition) and
    row-normalize — identical to the batch operator's output on the
    same prefix of the stream."""
    from pyspark.sql import Window

    counts = (
        spark.read.parquet(store_path)
        .groupBy("from_state", "to_state")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    tot = Window.partitionBy("from_state")
    return (
        counts.withColumn(
            "p", F.round(F.col("n") / F.sum("n").over(tot), 6)
        )
        .orderBy("from_state", "to_state")
    )


def jackknife_ingest(
    spark: SparkSession,
    *,
    source_path: str,
    source_schema: str,
    store_path: str,
    checkpoint: str,
    value_col: str,
    unit_col: str,
    buckets: int = 50,
    seed: int = 7,
    group_cols: list[str] | None = None,
    reader_options: dict | None = None,
):
    """Continuous jackknife-CI maintenance — the streaming twin of
    ``operators/scale.py:jackknife_ci``: each micro-batch folds to
    per-(group, md5-cohort) exact decimal (sum, count) partials, which
    merge by ADDITION like every sketch store here, so
    :func:`jackknife_over` reads the CURRENT delete-one-bucket CI
    without rescanning stream history — live experiment dashboards
    with honest error bars at O(batch) cost per batch.
    Replay-idempotent via the (group, bucket, batch_id) anti-join."""

    gcols = list(group_cols or [])

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        bkt = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col(unit_col).cast("string"),
                            F.lit(f":{seed}"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % buckets
        )
        partials = (
            batch_df.select(
                *gcols, bkt.alias("bkt"),
                F.col(value_col).alias("__v"),
            )
            .groupBy(*gcols, "bkt")
            .agg(
                F.sum(F.col("__v").cast("decimal(28,6)")).alias("s"),
                F.count(F.lit(1)).cast("long").alias("n"),
            )
            .withColumn("batch_id", F.lit(batch_id))
        )
        partials = _unseen(partials, store_path, [*gcols, "bkt", "batch_id"])
        partials.write.mode("append").parquet(store_path)

    return _run_stream(
        spark, _ingest, source_path, source_schema, checkpoint, reader_options
    )


def jackknife_over(
    spark: SparkSession,
    store_path: str,
    *,
    group_cols: list[str] | None = None,
    z: float = 1.96,
) -> DataFrame:
    """Current delete-one-bucket jackknife CI from a
    :func:`jackknife_ingest` store: merge the per-batch cohort
    partials (exact decimal addition) and run the closed-form
    leave-one-out arithmetic on the tiny merged frame — identical to
    the batch operator on the same stream prefix."""

    gcols = list(group_cols or [])
    per = (
        spark.read.parquet(store_path)
        .groupBy(*gcols, "bkt")
        .agg(
            F.sum("s").alias("s"),
            F.sum("n").cast("long").alias("n"),
        )
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Window

    w = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    tot = (
        per.withColumn("__St", F.sum("s").over(w))
        .withColumn("__Nt", F.sum("n").over(w))
        .withColumn("nb", F.count(F.lit(1)).over(w))
    )
    loo = tot.withColumn(
        "m",
        (F.col("__St") - F.col("s")).cast("double")
        / F.nullif(F.col("__Nt") - F.col("n"), F.lit(0)).cast("double"),
    )
    mbar = loo.groupBy(*gcols).agg(
        F.avg("m").alias("__mbar"),
        F.max("nb").alias("__nb"),
        F.max("__Nt").cast("long").alias("__n_total"),
        F.round(
            F.max("__St").cast("double") / F.max("__Nt").cast("double"),
            6,
        ).alias("__mean"),
    )
    joined = (
        loo.select(*gcols, "m").join(F.broadcast(mbar), gcols)
        if gcols
        else loo.select("m").crossJoin(F.broadcast(mbar))
    )
    var = joined.groupBy(*gcols).agg(
        F.max("__n_total").alias("n"),
        F.max("__mean").alias("mean"),
        F.max("__nb").alias("__nb"),
        F.sum(
            (F.col("m") - F.col("__mbar"))
            * (F.col("m") - F.col("__mbar"))
        ).alias("__ss"),
    )
    se = F.sqrt(
        (F.col("__nb") - 1).cast("double") / F.col("__nb") * F.col("__ss")
    )
    out = var.select(
        *gcols,
        "n",
        "mean",
        F.col("__nb").cast("long").alias("n_buckets"),
        F.round(se, 6).alias("se"),
        F.round(F.col("mean") - F.lit(z) * se, 6).alias("ci_lo"),
        F.round(F.col("mean") + F.lit(z) * se, 6).alias("ci_hi"),
    )
    return out.orderBy(*gcols) if gcols else out


def sprt_ingest(
    spark: SparkSession,
    *,
    source_path: str,
    source_schema: str,
    store_path: str,
    checkpoint: str,
    variant_expr: str,
    success_expr: str,
    ts_col: str = "ts",
    reader_options: dict | None = None,
):
    """Continuous sequential-test maintenance: per batch, trials fold
    to (variant, day, n, k, batch_id) partials — the SPRT's mergeable
    sufficient statistic — appended to a day-sized store;
    :func:`sprt_over` reads the current early-stopping trace without
    rescanning trial history. ``variant_expr`` / ``success_expr`` are
    SQL expressions over the source schema (e.g. the md5-coin variant
    assignment), evaluated inside the batch so the raw stream needs no
    pre-shaping. Replay-idempotent via the (variant, day, batch_id)
    anti-join, exactly the :func:`daily_stats_ingest` contract."""

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        partials = (
            batch_df.select(
                F.expr(variant_expr).alias("variant"),
                F.date_format(
                    F.date_trunc("day", F.col(ts_col)), "yyyy-MM-dd"
                ).alias("day"),
                F.expr(success_expr).cast("long").alias("__s"),
            )
            .groupBy("variant", "day")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_p"),
                F.sum("__s").cast("long").alias("k_p"),
            )
            .withColumn("batch_id", F.lit(batch_id))
        )
        partials = _unseen(
            partials, store_path, ["variant", "day", "batch_id"]
        )
        partials.write.mode("append").parquet(store_path)

    return _run_stream(
        spark, _ingest, source_path, source_schema, checkpoint, reader_options
    )


def sprt_over(
    spark: SparkSession,
    store_path: str,
    *,
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta: float = 0.05,
) -> DataFrame:
    """Current SPRT trace from a :func:`sprt_ingest` store: merge the
    per-batch (variant, day) partials by plain summation (counts are
    exactly mergeable — no approximation), then run the shared
    day-grain kernel (``operators.scale.sprt_from_daily``). Matches
    the batch ``sprt_trace`` output on the same data exactly."""
    from vectordb_migrator_spark.operators.scale import sprt_from_daily

    day = (
        spark.read.parquet(store_path)
        .groupBy("variant", F.col("day").alias("period"))
        .agg(
            F.sum("n_p").cast("long").alias("n_p"),
            F.sum("k_p").cast("long").alias("k_p"),
        )
        .localCheckpoint(eager=True)
    )
    return sprt_from_daily(day, p0=p0, p1=p1, alpha=alpha, beta=beta)


def cdc_chunk_ingest(
    spark: SparkSession,
    *,
    source_path: str,
    source_schema: str,
    store_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    avg_tokens: int = 8,
    reader_options: dict | None = None,
):
    """Continuous maintenance of the shift-robust dedup index — the
    CDC sibling of the shingle store ``deduped_ingest`` keeps: each
    micro-batch chunks its documents (``operators.dedup.cdc_chunks``,
    the linear codegen fold) and appends the distinct (id, chunk_md5)
    rows; :func:`cdc_pairs_over` then answers "which documents share
    chunks" against the STORE without ever rescanning corpus text.
    Chunk hashes are content-only, so the store composes across
    batches with no rebuild — an inserted paragraph in tomorrow's
    copy still collides with yesterday's chunks. Replay-idempotent
    via the per-id anti-join (a replayed batch's ids already sit in
    the store)."""
    from vectordb_migrator_spark.operators.dedup import cdc_chunks

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        chunks = (
            cdc_chunks(
                batch_df,
                id_col=id_col,
                text_col=text_col,
                avg_tokens=avg_tokens,
            )
            .select("id", "chunk_md5")
            .distinct()
        )
        chunks = _unseen(chunks, store_path, ["id"])
        chunks.write.mode("append").parquet(store_path)

    return _run_stream(
        spark, _ingest, source_path, source_schema, checkpoint, reader_options
    )


def cdc_pairs_over(
    spark: SparkSession,
    store_path: str,
    *,
    min_shared: int = 2,
    max_bucket: int = 50,
) -> DataFrame:
    """Current shift-robust candidate pairs from a
    :func:`cdc_chunk_ingest` store: the same star-capped chunk-hash
    join the batch ``cdc_pair_candidates`` runs, applied to the
    accumulated (id, chunk_md5) index — matches the batch operator
    on the full corpus exactly, with zero corpus rescans."""
    from vectordb_migrator_spark.operators.dedup import (
        cdc_pair_candidates,
    )

    chunks = spark.read.parquet(store_path)
    return cdc_pair_candidates(
        chunks, min_shared=min_shared, max_bucket=max_bucket
    )


def periodogram_over(
    spark: SparkSession,
    store_path: str,
    *,
    periods: tuple[int, ...] = (2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14),
) -> DataFrame:
    """Current dominant-period spectrum from a
    :func:`daily_stats_ingest` store: merge the per-batch partials
    into exact daily counts (sums of counts — associative, so batch
    splits and replays can't skew the series), then run the shared
    day-sized periodogram
    (``operators.timeseries.periodogram_daily``). Matches the batch
    operator on the same data exactly — the continuous twin of
    ``x13_periodogram``, answering "did the metric's CYCLE change"
    (a weekly pattern collapsing to a 3-day cadence is a pipeline
    regime change CUSUM sees only as noise) without rescanning
    history."""
    from vectordb_migrator_spark.operators.timeseries import (
        periodogram_daily,
    )

    daily = (
        spark.read.parquet(store_path)
        .groupBy("day")
        .agg(F.sum("cnt").cast("double").alias("y"))
        .select(F.to_date("day").alias("day"), "y")
        .localCheckpoint(eager=True)
    )
    return periodogram_daily(daily, day_col="day", value_col="y", periods=periods)


def mmd_moment_ingest(
    spark: SparkSession,
    *,
    source_path: str,
    source_schema: str,
    store_path: str,
    checkpoint: str,
    vec_col: str = "embedding",
    d: int = 64,
    reader_options: dict | None = None,
):
    """Continuous embedding-drift monitoring — the streaming twin of
    ``operators/scale.py:mmd_two_sample``: the quadratic-kernel MMD²
    is a closed form over FIRST and SECOND moments, and moments are
    the archetypal mergeable sketch — each micro-batch folds to
    ``(kind, key, s, n)`` partials (kind 'mu': per-dimension
    exact-decimal sums; kind 's2': upper-triangle pairwise-product
    sums, the same ``ij = i·d + j`` layout and slice construction the
    batch operator uses), appended to the store and merged by
    ADDITION at read time — so :func:`mmd_over` reports the CURRENT
    MMD² against a frozen reference store without rescanning stream
    history, and matches the batch operator bit-for-bit (decimal
    partials are associativity-free). Replay-idempotent via the
    (kind, key, batch_id) anti-join."""

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        v = F.col(vec_col).cast("array<double>")
        base = batch_df.select(v.alias("__v"))
        mu = (
            base.select(F.posexplode("__v").alias("i", "x"))
            .groupBy("i")
            .agg(
                F.sum(F.col("x").cast("decimal(28,12)")).alias("s"),
                F.count(F.lit(1)).cast("long").alias("n"),
            )
            .select(
                F.lit("mu").alias("kind"),
                F.col("i").cast("long").alias("key"),
                "s",
                "n",
            )
        )
        pairs = F.flatten(
            F.transform(
                F.col("__v"),
                lambda xi, i: F.transform(
                    F.slice(F.col("__v"), i + 1, F.lit(d) - i),
                    lambda xj, jo: F.struct(
                        (i * F.lit(d) + i + jo).alias("ij"),
                        (xi * xj).alias("p"),
                    ),
                ),
            )
        )
        s2 = (
            base.select(F.explode(pairs).alias("e"))
            .groupBy(F.col("e.ij").alias("key"))
            .agg(
                F.sum(F.col("e.p").cast("decimal(28,12)")).alias("s"),
                F.count(F.lit(1)).cast("long").alias("n"),
            )
            .select(
                F.lit("s2").alias("kind"),
                F.col("key").cast("long").alias("key"),
                "s",
                "n",
            )
        )
        partials = mu.unionByName(s2).withColumn(
            "batch_id", F.lit(batch_id)
        )
        partials = _unseen(partials, store_path, ["kind", "key", "batch_id"])
        partials.write.mode("append").parquet(store_path)

    return _run_stream(
        spark, _ingest, source_path, source_schema, checkpoint, reader_options
    )


def mmd_over(
    spark: SparkSession,
    cur_store: str,
    ref_store: str,
    *,
    d: int = 64,
) -> DataFrame:
    """Current MMD² of a :func:`mmd_moment_ingest` store against a
    frozen reference store (built by the same ingest over the
    reference corpus): merge each store's exact-decimal partials by
    addition, form the per-key means with the SAME division the batch
    operator uses, and fold the closed form
    2‖μA−μB‖²/d + ‖SA−SB‖²_F/d² with the upper-triangle weights —
    bit-identical to ``mmd_two_sample`` on the same rows. Two
    model-row reads; returns one row (n_a, n_b, mean_term, cov_term,
    mmd2)."""

    def merged(path: str, tag: str) -> DataFrame:
        return (
            spark.read.parquet(path)
            .groupBy("kind", "key")
            .agg(
                F.sum("s").alias("s"),
                F.sum("n").cast("long").alias("n"),
            )
            .select(
                "kind",
                "key",
                (F.col("s").cast("double") / F.col("n").cast("double"))
                .alias(f"m_{tag}"),
                F.col("n").alias(f"n_{tag}"),
            )
        )
    a = merged(ref_store, "a")
    b = merged(cur_store, "b")
    j = a.join(b, ["kind", "key"])
    mu = j.filter(F.col("kind") == "mu")
    s2 = j.filter(F.col("kind") == "s2")
    mean_term = mu.agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        (
            F.lit(2.0)
            * F.sum(
                (F.col("m_a") - F.col("m_b"))
                * (F.col("m_a") - F.col("m_b"))
            )
            / F.lit(float(d))
        ).alias("mean_term"),
    )
    wgt = F.when(
        (F.col("key") % F.lit(d)) == F.floor(F.col("key") / F.lit(d)),
        F.lit(1.0),
    ).otherwise(F.lit(2.0))
    cov_term = s2.agg(
        (
            F.sum(
                wgt
                * (F.col("m_a") - F.col("m_b"))
                * (F.col("m_a") - F.col("m_b"))
            )
            / F.lit(float(d) * d)
        ).alias("cov_term")
    )
    return mean_term.crossJoin(cov_term).select(
        "n_a",
        "n_b",
        F.round("mean_term", 9).alias("mean_term"),
        F.round("cov_term", 9).alias("cov_term"),
        F.round(F.col("mean_term") + F.col("cov_term"), 9).alias("mmd2"),
    )


def cusum_daily_ingest(
    spark: SparkSession,
    *,
    source_path: str,
    source_schema: str,
    store_path: str,
    checkpoint: str,
    group_col: str = "event_type",
    time_col: str = "ts",
    value_col: str = "value",
    reader_options: dict | None = None,
):
    """Continuous metric-drift monitoring — the streaming twin of
    ``operators/timeseries.py:cusum_changepoint``: the CUSUM chart
    consumes one number per (group, day), and daily sums are the
    archetypal mergeable sketch — each micro-batch folds to
    ``(group, day, exact-decimal sum, n)`` partials appended to the
    store and merged by ADDITION at read time, so
    :func:`cusum_over` re-runs the alarm recursion over the CURRENT
    day series without rescanning stream history and matches the
    batch operator bit-for-bit on the same rows (decimal partials are
    associativity-free; the recursion input is the identical rounded
    series however the stream was batched). Replay-idempotent via the
    (group, day, batch_id) anti-join."""

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        partials = (
            batch_df.filter(F.col(value_col).isNotNull())
            .groupBy(
                F.col(group_col).alias("g"),
                F.to_date(F.col(time_col)).alias("day"),
            )
            .agg(
                F.sum(
                    F.col(value_col).cast("decimal(28,12)")
                ).alias("s"),
                F.count(F.lit(1)).cast("long").alias("n"),
            )
            .withColumn("batch_id", F.lit(batch_id))
        )
        partials = _unseen(partials, store_path, ["g", "day", "batch_id"])
        partials.write.mode("append").parquet(store_path)

    return _run_stream(
        spark, _ingest, source_path, source_schema, checkpoint, reader_options
    )


def cusum_over(
    spark: SparkSession,
    store_path: str,
    *,
    baseline: int = 14,
    k: float = 0.5,
    h: float = 4.0,
) -> DataFrame:
    """Current CUSUM drift report of a :func:`cusum_daily_ingest`
    store: merge the exact-decimal daily partials by addition, round
    to the batch operator's 6dp series convention, and run the SAME
    ``cusum_changepoint`` recursion — bit-identical to the batch
    operator fed the same daily sums. One model-row read (days ×
    groups); returns the batch report schema."""
    from vectordb_migrator_spark.operators.timeseries import (
        cusum_changepoint,
    )

    daily = (
        spark.read.parquet(store_path)
        .groupBy("g", "day")
        .agg(F.sum("s").alias("s"))
        .select(
            "g", "day", F.round(F.col("s").cast("double"), 6).alias("v")
        )
    )
    return cusum_changepoint(
        daily, "v", time_col="day", group_cols=["g"],
        baseline=baseline, k=k, h=h,
    )


def ks_binned_ingest(
    spark: SparkSession,
    *,
    source_path: str,
    source_schema: str,
    store_path: str,
    checkpoint: str,
    value_col: str,
    edges: list[float],
    group_col: str = "event_type",
    split_expr=None,
    reader_options: dict | None = None,
):
    """Continuous two-sample drift monitoring — the streaming twin of
    ``operators/scale.py:ks_binned_report`` (r10 verdict ask #5): the
    exact KS needs pooled order statistics, but against FIXED bin
    ``edges`` the sufficient statistic is per-(group, bin) counts for
    each sample — mergeable by pure addition like every sketch store
    here. Each micro-batch folds to ``(g, bin, ca, cb, batch_id)``
    partials using the SAME ``ks_bin_expr`` binning rule as the batch
    operator, so :func:`ks_over` reproduces the batch report
    BIT-FOR-BIT on the same rows however the stream was batched.
    Replay-idempotent via the (g, bin, batch_id) anti-join. NULL
    values drop (no bin; track null rates separately)."""
    from vectordb_migrator_spark.operators.scale import ks_bin_expr

    if split_expr is None:
        raise ValueError("split_expr (the sample-A membership) is required")

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        partials = (
            batch_df.filter(F.col(value_col).isNotNull())
            .select(
                F.col(group_col).alias("g"),
                ks_bin_expr(value_col, edges).alias("bin"),
                F.when(split_expr, F.lit(1)).otherwise(F.lit(0)).alias(
                    "a"
                ),
            )
            .groupBy("g", "bin")
            .agg(
                F.sum("a").cast("long").alias("ca"),
                F.sum(F.lit(1) - F.col("a")).cast("long").alias("cb"),
            )
            .withColumn("batch_id", F.lit(batch_id))
        )
        partials = _unseen(partials, store_path, ["g", "bin", "batch_id"])
        partials.write.mode("append").parquet(store_path)

    return _run_stream(
        spark, _ingest, source_path, source_schema, checkpoint, reader_options
    )


def ks_over(
    spark: SparkSession,
    store_path: str,
    *,
    n_edges: int,
    alpha: float = 0.05,
) -> DataFrame:
    """Current binned-KS drift report of a :func:`ks_binned_ingest`
    store: merge the per-batch bin partials by addition and run the
    SAME integer fold as the batch operator — prefix-cumulate the
    per-bin counts in bin order and take ``max |n2·cum_a − n1·cum_b|``
    in exact int64 — bit-identical to ``ks_binned_report`` fed the
    same rows. One tiny-frame read (groups × bins); returns the batch
    schema (g, n1, n2, n_bins, d_num, d, lambda, significant)."""
    from pyspark.sql import Window as W

    crit = {0.05: 1.358102, 0.01: 1.627624, 0.1: 1.223848}.get(alpha)
    if crit is None:
        raise ValueError("alpha must be one of 0.1, 0.05, 0.01")
    cnt = (
        spark.read.parquet(store_path)
        .groupBy("g", "bin")
        .agg(
            F.sum("ca").cast("long").alias("ca"),
            F.sum("cb").cast("long").alias("cb"),
        )
    )
    w_cum = W.partitionBy("g").orderBy("bin").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    w_all = W.partitionBy("g")
    stepped = cnt.select(
        "g",
        F.sum("ca").over(w_cum).alias("cum_a"),
        F.sum("cb").over(w_cum).alias("cum_b"),
        F.sum("ca").over(w_all).alias("n1"),
        F.sum("cb").over(w_all).alias("n2"),
    )
    agg = stepped.groupBy("g").agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.max(
            F.abs(
                F.col("n2") * F.col("cum_a") - F.col("n1") * F.col("cum_b")
            )
        ).cast("long").alias("d_num"),
    )
    ok = (F.col("n1") > 0) & (F.col("n2") > 0)
    d = F.col("d_num").cast("double") / (
        F.col("n1").cast("double") * F.col("n2").cast("double")
    )
    lam = d * F.sqrt(
        F.col("n1").cast("double")
        * F.col("n2").cast("double")
        / (F.col("n1") + F.col("n2")).cast("double")
    )
    return agg.select(
        "g",
        "n1",
        "n2",
        F.lit(n_edges + 1).cast("int").alias("n_bins"),
        F.when(ok, F.col("d_num")).alias("d_num"),
        F.when(ok, F.round(d, 6)).alias("d"),
        F.when(ok, F.round(lam, 6)).alias("lambda"),
        F.when(ok, F.round(lam, 6) > F.lit(crit)).alias("significant"),
    ).orderBy("g")


def novelty_ingest(
    spark: SparkSession,
    *,
    source_path: str,
    source_schema: str,
    store_path: str,
    scores_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    reader_options: dict | None = None,
):
    """Ingest-time n-gram novelty — the streaming twin of
    ``operators/dedup.py:ngram_novelty_report`` in its production
    shape: each arriving document is scored AGAINST EVERYTHING SEEN SO
    FAR at the moment it lands ("how much new text is this crawl
    adding"), and the only state carried between batches is the
    (gram, min_id) first-occurrence table — mergeable by pure MIN,
    the same way the CUSUM/KS stores merge by addition. Per batch:
    shingle, fold the batch's own gram minima, join the store's
    minima (min of mins = the global first occurrence), score each
    batch document (novel gram = one whose global minimum IS the
    document), append the scores and the new gram partials.

    Equivalence contract: when the stream respects id order (ids only
    grow across batches — the append-log norm), the concatenated
    ingest-time scores are BIT-FOR-BIT the batch operator's output on
    the full corpus, because a later-arriving larger id can never
    steal a gram's minimum (runtime-tested). Out-of-order arrivals
    get honest ARRIVAL-order novelty — the at-ingest semantics a gate
    actually acts on. Replay-idempotent via (gram|doc, batch_id)
    anti-joins on both stores."""
    from vectordb_migrator_spark.operators.dedup import shingle_table

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        sh = shingle_table(
            batch_df, id_col=id_col, text_col=text_col, n=n
        )
        ex = sh.select("id", F.explode("sh").alias("gram"))
        bmin = ex.groupBy("gram").agg(F.min("id").alias("bmin"))
        hist = _read_store(batch_df.sparkSession, store_path)
        if hist is None:
            gmin = bmin.select(
                "gram", "bmin", F.col("bmin").alias("gmin")
            )
        else:
            hist = hist.groupBy("gram").agg(F.min("min_id").alias("hmin"))
            gmin = bmin.join(hist, "gram", "left").select(
                "gram",
                "bmin",
                F.least(
                    F.col("bmin"), F.coalesce("hmin", F.col("bmin"))
                ).alias("gmin"),
            )
        novel = (
            ex.join(gmin.select("gram", "gmin"), "gram")
            .filter(F.col("gmin") == F.col("id"))
            .groupBy("id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
        )
        scores = (
            sh.select("id", "sh_n")
            .join(novel, "id", "left")
            .select(
                F.col("id"),
                F.col("sh_n").cast("long").alias("n_shingles"),
                F.coalesce("n_novel", F.lit(0)).cast("long").alias(
                    "n_novel"
                ),
                F.when(
                    F.col("sh_n") > 0,
                    F.round(
                        F.coalesce("n_novel", F.lit(0)).cast("double")
                        / F.col("sh_n").cast("double"),
                        6,
                    ),
                ).alias("novelty"),
            )
            .withColumn("batch_id", F.lit(batch_id))
        )
        partials = gmin.select(
            "gram", F.col("bmin").alias("min_id")
        ).withColumn("batch_id", F.lit(batch_id))
        scores = _unseen(scores, scores_path, ["id", "batch_id"])
        scores.write.mode("append").parquet(scores_path)
        partials = _unseen(partials, store_path, ["gram", "batch_id"])
        partials.write.mode("append").parquet(store_path)

    return _run_stream(
        spark, _ingest, source_path, source_schema, checkpoint, reader_options
    )


def novelty_over(spark: SparkSession, scores_path: str) -> DataFrame:
    """Current per-document novelty scores of a :func:`novelty_ingest`
    run, in the batch operator's schema and order — one score per
    document (the at-ingest value; replay re-delivery appends
    nothing)."""
    return (
        spark.read.parquet(scores_path)
        .select(
            F.col("id").alias("doc_id"),
            "n_shingles",
            "n_novel",
            "novelty",
        )
        .orderBy("doc_id")
    )


def hll_md5_ingest(
    spark: SparkSession,
    *,
    source_path: str,
    source_schema: str,
    store_path: str,
    checkpoint: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    reader_options: dict | None = None,
):
    """Continuous DETERMINISTIC md5-HLL maintenance (round 12) — the
    streaming maintainer of the ``x7_hll_md5_daily`` store, pairing
    ``sketch_ingest`` the way the md5 registers pair the DataSketches
    binary: every micro-batch appends ONE row per day it touched —
    ``(day, batch_id, n_events, regs: array<struct<reg,m>>)``, the
    batch's register maxima packed as an explicit ≤256-entry array —
    so the store stays kilobyte-sized, append-only and conflict-free,
    and :func:`hll_md5_daily_over` answers the same prefix-union
    rollup BIT-FOR-BIT as the batch operator (register MAX and event
    SUM are associative/commutative, and the estimator sees identical
    register values). Same replay contract as every partial store
    here: the pre-append anti-join on (day, batch_id) makes
    foreachBatch re-deliveries idempotent within the checkpoint
    lineage."""
    from vectordb_migrator_spark.operators.sketches import (
        hll_md5_day_registers,
    )

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        regs = hll_md5_day_registers(batch_df, key_col, ts_col=ts_col)
        counts = batch_df.groupBy(
            F.to_date(F.col(ts_col)).alias("day")
        ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        partials = (
            regs.groupBy("day")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("reg", "m"))
                ).alias("regs")
            )
            .join(counts, "day")
            .select("day", F.lit(batch_id).alias("batch_id"),
                    "n_events", "regs")
        )
        partials = _unseen(partials, store_path, ["day", "batch_id"])
        partials.write.mode("append").parquet(store_path)

    return _run_stream(
        spark, _ingest, source_path, source_schema, checkpoint, reader_options
    )


def hll_md5_daily_over(
    spark: SparkSession, store_path: str
) -> DataFrame:
    """The per-day + prefix-union distinct readout of a
    :func:`hll_md5_ingest` store, in the batch
    ``hll_md5_daily_rollup`` schema and order: explode the per-batch
    register arrays, MAX-merge to the (day, reg, m) frame, SUM-merge
    the event counts, and run the SHARED rollup tail — raw event
    history never enters the plan, and the output is bit-for-bit the
    batch operator's (store-only columns; the exact-truth certificate
    columns of ``hll_md5_daily_report`` need raw data by definition)."""
    from vectordb_migrator_spark.operators.sketches import (
        hll_md5_daily_rollup,
    )

    store = spark.read.parquet(store_path)
    regs = (
        store.select("day", F.explode("regs").alias("e"))
        .groupBy("day", F.col("e.reg").alias("reg"))
        .agg(F.max("e.m").alias("m"))
    )
    counts = store.groupBy("day").agg(
        F.sum("n_events").cast("long").alias("n_events")
    )
    return hll_md5_daily_rollup(regs, counts)
