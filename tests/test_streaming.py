"""Streaming incremental migration tests (X8)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vectordb_migrator_spark.streaming.incremental import (
    incremental_migration,
    windowed_event_counts,
)


@pytest.fixture()
def canon_source(spark, tmp_path):
    src = str(tmp_path / "src")
    df = spark.createDataFrame(
        [(str(i), [float(i), 0.0], {"n": str(i)}) for i in range(30)],
        "id string, vector array<float>, metadata map<string,string>",
    )
    df.write.parquet(src)
    return src


def test_incremental_migration_foreachbatch(spark, tmp_path, canon_source):
    out = str(tmp_path / "out")

    def upsert(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    q = incremental_migration(
        spark,
        source_path=canon_source,
        source_schema="id string, vector array<float>, metadata map<string,string>",
        upsert=upsert,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 30

    # restart with same checkpoint: no new data → no duplicates
    q2 = incremental_migration(
        spark,
        source_path=canon_source,
        source_schema="id string, vector array<float>, metadata map<string,string>",
        upsert=upsert,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 30


def test_incremental_with_transform(spark, tmp_path, canon_source):
    out = str(tmp_path / "out2")

    def transform(data):
        for d in data:
            d["metadata"]["seen"] = "1"
        return data

    def upsert(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    q = incremental_migration(
        spark,
        source_path=canon_source,
        source_schema="id string, vector array<float>, metadata map<string,string>",
        upsert=upsert,
        transform=transform,
        checkpoint=str(tmp_path / "ckpt2"),
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    assert all(r["metadata"]["seen"] == "1" for r in rows)


def test_windowed_counts_batch_equivalence(spark):
    """The windowed agg runs identically on batch input (Spark's
    unified model) — verify window math on a known dataset."""
    df = spark.createDataFrame(
        [("2024-01-01 00:10:00", "a", 1.0), ("2024-01-01 00:50:00", "a", 2.0),
         ("2024-01-01 01:10:00", "b", 3.0)],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        (r["window_start"].isoformat(), r["event_type"]): (r["n"], r["total_value"])
        for r in windowed_event_counts(df).collect()
    }
    assert out == {
        ("2024-01-01T00:00:00", "a"): (2, 3.0),
        ("2024-01-01T01:00:00", "b"): (1, 3.0),
    }


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """The stream-stream interval join, run as an actual streaming
    query (file sources, availableNow, memory sink), must produce
    exactly the batch twin's rows — Spark's unified model, asserted."""
    from datetime import datetime, timedelta

    from vectordb_migrator_spark.streaming.stateful import stream_interval_join

    t0 = datetime(2026, 1, 1, 12, 0, 0)
    purchases = [
        (100 + i, 1, t0 + timedelta(minutes=10 * i)) for i in range(4)
    ]
    clicks = [(200 + i, 1, t0 + timedelta(minutes=7 * i - 5)) for i in range(6)]
    schema = "event_id long, user_id long, ts timestamp"
    lp, rp = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame(purchases, schema).write.parquet(lp)
    spark.createDataFrame(clicks, schema).write.parquet(rp)

    def join(l, r):
        return stream_interval_join(
            l, r, lookback="15 minutes", right_prefix="c_"
        ).select("event_id", "c_event_id")

    batch = {
        (r["event_id"], r["c_event_id"])
        for r in join(
            spark.read.parquet(lp), spark.read.parquet(rp)
        ).collect()
    }
    assert batch  # non-vacuous fixture

    ls = spark.readStream.schema(schema).parquet(lp)
    rs = spark.readStream.schema(schema).parquet(rp)
    q = (
        join(ls, rs)
        .writeStream.format("memory")
        .queryName("ivj")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["event_id"], r["c_event_id"])
        for r in spark.sql("SELECT * FROM ivj").collect()
    }
    assert streamed == batch


def test_enrich_stream_static_join(spark, tmp_path):
    """Stream-static broadcast enrichment: micro-batches pick up the
    dim attributes; rows without a dim match survive (left join)."""
    from vectordb_migrator_spark.streaming.incremental import enrich_stream

    src = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (9, 90.0)], "k long, v double"
    ).write.parquet(src)
    dim = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], "k long, label string"
    )
    stream = spark.readStream.schema("k long, v double").parquet(src)
    out = enrich_stream(stream, dim, on="k")
    q = (
        out.writeStream.format("memory")
        .queryName("enriched")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["k"]: r["label"] for r in spark.sql("select * from enriched").collect()}
    assert rows == {1: "one", 2: "two", 3: "three", 9: None}


def test_deduped_ingest_streaming(spark, tmp_path):
    """X2 + X8: micro-batches dedup against the growing corpus — the
    second batch's near-dup of an already-ingested doc is dropped,
    its novel doc survives, and ids never duplicate."""
    from vectordb_migrator_spark.streaming.incremental import deduped_ingest

    src = str(tmp_path / "in")
    corpus = str(tmp_path / "corpus")
    schema = "doc_id long, text string"

    def run():
        q = deduped_ingest(
            spark,
            source_path=src,
            source_schema=schema,
            corpus_path=corpus,
            checkpoint=str(tmp_path / "ckpt"),
            n=3,
            threshold=0.5,
        )
        q.awaitTermination(120)

    spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "completely different first text"),
            (3, "alpha beta gamma delta epsilon"),  # in-batch dup of 1
        ],
        schema,
    ).write.parquet(src)
    run()
    first = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    assert first == [1, 2]

    spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon"),  # dups corpus doc 1
            (11, "a genuinely novel second batch"),
        ],
        schema,
    ).write.mode("append").parquet(src)
    run()
    second = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    assert second == [1, 2, 11]

    # the shingle store was appended per batch (history shingled once)
    # and mirrors the corpus exactly: one (id, sh, sh_n) row per doc
    store = spark.read.parquet(corpus + "__shingles")
    assert sorted(r["id"] for r in store.collect()) == [1, 2, 11]
    from vectordb_migrator_spark.operators.dedup import shingle_table

    expected = {
        r["id"]: (sorted(r["sh"]), r["sh_n"])
        for r in shingle_table(spark.read.parquet(corpus)).collect()
    }
    got = {r["id"]: (sorted(r["sh"]), r["sh_n"]) for r in store.collect()}
    assert got == expected


def test_deduped_ingest_backfills_preexisting_corpus(spark, tmp_path):
    """A corpus that predates the shingle store is backfilled once;
    dedup then runs against the store with identical semantics."""
    from vectordb_migrator_spark.streaming.incremental import deduped_ingest

    src = str(tmp_path / "in")
    corpus = str(tmp_path / "corpus")
    schema = "doc_id long, text string"
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], schema
    ).write.parquet(corpus)  # pre-existing corpus, no store

    spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon"),  # dups corpus doc 1
            (11, "a genuinely novel second batch"),
        ],
        schema,
    ).write.parquet(src)
    q = deduped_ingest(
        spark,
        source_path=src,
        source_schema=schema,
        corpus_path=corpus,
        checkpoint=str(tmp_path / "ckpt"),
        n=3,
        threshold=0.5,
    )
    q.awaitTermination(120)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(corpus).collect()
    ) == [1, 11]
    assert sorted(
        r["id"] for r in spark.read.parquet(corpus + "__shingles").collect()
    ) == [1, 11]


def test_windowed_counts_watermark_drops_late_rows(spark, tmp_path):
    """RUNTIME watermark semantics in append mode: a window emits
    exactly once when the watermark passes its end, and a row arriving
    after its window closed is DROPPED (bounded state — the property
    that lets the agg run forever at 100 TB/day)."""
    import uuid

    src = str(tmp_path / "wm_src")
    ckpt = str(tmp_path / "wm_ckpt")
    schema = "ts timestamp, event_type string, value double"

    def drop(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    import datetime as dt

    T = lambda s: dt.datetime.fromisoformat(s)
    # batch 1: two rows in the 10:00 window
    drop([(T("2024-01-01 10:05:00"), "a", 1.0),
          (T("2024-01-01 10:20:00"), "a", 2.0)], "b1")

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    table = f"wm_out_{uuid.uuid4().hex[:8]}"
    q = (
        windowed_event_counts(stream, window="1 hour", watermark="2 hours")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(table)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # nothing closed yet: watermark = 10:20 - 2h < 11:00
        assert spark.table(table).count() == 0

        # batch 2: 13:30 advances the watermark to 11:30 → the 10:00
        # window closes and emits
        drop([(T("2024-01-01 13:30:00"), "b", 1.0)], "b2")
        q.processAllAvailable()
        out = spark.table(table).collect()
        assert [(r["window_start"].isoformat(), r["event_type"], r["n"])
                for r in out] == [("2024-01-01T10:00:00", "a", 2)]

        # batch 3: a row for the CLOSED 10:00 window must be dropped;
        # 14:30 advances the watermark but closes only empty windows
        drop([(T("2024-01-01 10:40:00"), "a", 99.0),
              (T("2024-01-01 14:30:00"), "b", 1.0)], "b3")
        q.processAllAvailable()
        out2 = spark.table(table).collect()
        assert len(out2) == 1 and out2[0]["n"] == 2  # late row never lands
    finally:
        q.stop()


def test_indexed_ingest_maintains_lsh_layout(spark, tmp_path):
    """Streaming ANN-index maintenance: two availableNow runs append
    only fresh ids into the LSH layout; a probe after each run sees
    the rows ingested so far; a replayed batch never double-appends."""
    import shutil

    from pyspark.sql import functions as F

    from vectordb_migrator_spark.streaming.incremental import indexed_ingest

    planes = [[1.0, 0.0], [0.0, 1.0]]
    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    schema = "vec_id long, embedding array<float>"

    def seed(ids):
        spark.createDataFrame(
            [(i, [float(i % 7) - 3.0, 1.0]) for i in ids], schema
        ).coalesce(1).write.mode("append").parquet(src)

    seed(range(10))
    q = indexed_ingest(
        spark, source_path=src, source_schema=schema, index_path=idx,
        checkpoint=ckpt, planes=planes,
    )
    q.awaitTermination(120)
    first = spark.read.parquet(idx)
    assert first.count() == 10

    seed(range(10, 15))
    q2 = indexed_ingest(
        spark, source_path=src, source_schema=schema, index_path=idx,
        checkpoint=ckpt, planes=planes,
    )
    q2.awaitTermination(120)
    after = spark.read.parquet(idx)
    assert sorted(r["vec_id"] for r in after.collect()) == list(range(15))

    # replay: wipe the checkpoint so the same files re-process — the
    # id anti-join must keep the index unchanged
    shutil.rmtree(ckpt)
    q3 = indexed_ingest(
        spark, source_path=src, source_schema=schema, index_path=idx,
        checkpoint=ckpt, planes=planes,
    )
    q3.awaitTermination(120)
    assert spark.read.parquet(idx).count() == 15

    # probes read through partition pruning and see ingested rows
    pruned = spark.read.parquet(idx).filter(F.col("bucket") == 3)
    assert pruned.count() > 0
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_sketch_ingest_incremental_distinct(spark, tmp_path):
    """Two ingest runs maintain the per-day sketch store; the ranged
    distinct estimate equals the exact count (tiny cardinalities are
    exact under HLL) WITHOUT rescanning raw events; a replayed batch
    never double-appends."""
    from datetime import datetime

    from vectordb_migrator_spark.streaming.incremental import (
        sketch_distinct_over,
        sketch_ingest,
    )

    src = str(tmp_path / "src")
    store = str(tmp_path / "sk")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, user_id long, ts timestamp"

    def seed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        q = sketch_ingest(
            spark, source_path=src, source_schema=schema,
            sketch_path=store, checkpoint=ckpt,
        )
        q.awaitTermination(120)

    d1, d2 = datetime(2026, 3, 1, 10), datetime(2026, 3, 2, 10)
    seed([(i, i % 5, d1) for i in range(20)])          # day 1: users 0-4
    run()
    est1 = sketch_distinct_over(spark, store).first()
    assert est1["distinct_est"] == 5 and est1["n_events"] == 20

    seed([(100 + i, 3 + i % 4, d2) for i in range(12)])  # day 2: users 3-6
    run()
    both = sketch_distinct_over(spark, store).first()
    assert both["distinct_est"] == 7 and both["n_events"] == 32
    only_d2 = sketch_distinct_over(spark, store, start_day="2026-03-02").first()
    assert only_d2["distinct_est"] == 4

    # replay: delete the last commit marker so Structured Streaming
    # re-executes batch 1 with the SAME batch_id (the foreachBatch
    # failure contract) — the (day, batch_id) anti-join holds
    import os

    os.remove(f"{ckpt}/commits/1")
    crc = f"{ckpt}/commits/.1.crc"
    if os.path.exists(crc):
        os.remove(crc)
    run()
    assert sketch_distinct_over(spark, store).first()["n_events"] == 32


def test_deduped_ingest_shingle_store_compaction(spark, tmp_path):
    """Round-5: per-batch appends would leave one small file set per
    micro-batch forever; every compact_every-th batch must rewrite the
    shingle store into compact_partitions files (rename-swap, crash-
    safe) so the file count stays bounded across >= 3N batches while
    contents keep mirroring the corpus exactly."""
    import os

    from vectordb_migrator_spark.streaming.incremental import deduped_ingest

    src = str(tmp_path / "in")
    corpus = str(tmp_path / "corpus")
    store_dir = tmp_path / "corpus__shingles"
    schema = "doc_id long, text string"

    def run():
        q = deduped_ingest(
            spark,
            source_path=src,
            source_schema=schema,
            corpus_path=corpus,
            checkpoint=str(tmp_path / "ckpt"),
            n=3,
            threshold=0.5,
            compact_every=2,
            compact_partitions=1,
        )
        q.awaitTermination(120)

    def parquet_files():
        return [f for f in os.listdir(store_dir) if f.endswith(".parquet")]

    counts = []
    for b in range(7):  # batches 0..6 -> compactions at 2, 4, 6
        spark.createDataFrame(
            [
                (100 + b, f"novel document number {b} with words w{b} x{b} y{b}"),
                (200 + b, "alpha beta gamma delta epsilon"),  # dup family
            ],
            schema,
        ).write.mode("append").parquet(src)
        run()
        counts.append(len(parquet_files()))

    # batch 6 just compacted: the store is exactly compact_partitions
    # files, not one file set per batch
    assert counts[-1] == 1
    # bounded throughout: never more than compact_partitions plus the
    # appends since the last compaction (2 batches x small writes)
    assert max(counts) <= 1 + 2 * 2
    # contents survive every swap and still mirror the corpus
    ids = sorted(r["id"] for r in spark.read.parquet(str(store_dir)).collect())
    expect = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    assert ids == expect and 200 in ids and 201 not in ids


def test_deduped_ingest_compaction_swap_recovery(spark, tmp_path):
    """A compaction interrupted between its two renames (finished
    __compacting dir, store dir gone) is completed by the next batch —
    no backfill, no lost shingles."""
    import shutil

    from vectordb_migrator_spark.streaming.incremental import deduped_ingest

    src = str(tmp_path / "in")
    corpus = str(tmp_path / "corpus")
    schema = "doc_id long, text string"
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], schema
    ).write.parquet(src)
    q = deduped_ingest(
        spark, source_path=src, source_schema=schema, corpus_path=corpus,
        checkpoint=str(tmp_path / "ckpt"), n=3, threshold=0.5,
    )
    q.awaitTermination(120)

    # simulate the crash window: store fully written to __compacting,
    # original already deleted, final rename never happened
    shutil.move(str(tmp_path / "corpus__shingles"),
                str(tmp_path / "corpus__shingles__compacting"))

    spark.createDataFrame(
        [(2, "a genuinely novel second text")], schema
    ).write.mode("append").parquet(src)
    q = deduped_ingest(
        spark, source_path=src, source_schema=schema, corpus_path=corpus,
        checkpoint=str(tmp_path / "ckpt"), n=3, threshold=0.5,
    )
    q.awaitTermination(120)
    ids = sorted(
        r["id"] for r in spark.read.parquet(str(tmp_path / "corpus__shingles")).collect()
    )
    assert ids == [1, 2]  # swap finished, store intact, new doc ingested


def test_validated_ingest_gates_and_quarantines(spark, tmp_path):
    """Round-5 X12×X8: the streaming quality gate lands a clean batch
    in the corpus, routes a failing batch (null ids) to the quarantine
    batch-atomically, and persists the per-batch constraint report."""
    from vectordb_migrator_spark.streaming.incremental import validated_ingest

    src = str(tmp_path / "in")
    corpus = str(tmp_path / "corpus")
    quarantine = str(tmp_path / "quarantine")
    schema = "doc_id long, text string"

    def run():
        q = validated_ingest(
            spark,
            source_path=src,
            source_schema=schema,
            corpus_path=corpus,
            quarantine_path=quarantine,
            checkpoint=str(tmp_path / "ckpt"),
            validate={"min_rows": 1, "not_null": ["doc_id"]},
        )
        q.awaitTermination(120)

    spark.createDataFrame(
        [(1, "clean row one"), (2, "clean row two")], schema
    ).write.parquet(src)
    run()
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(corpus).collect()
    ) == [1, 2]

    spark.createDataFrame(
        [(None, "poisoned row"), (4, "fine row")], schema
    ).write.mode("append").parquet(src)
    run()
    # corpus unchanged; the whole bad batch quarantined atomically
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(corpus).collect()
    ) == [1, 2]
    q_rows = spark.read.parquet(quarantine).collect()
    assert sorted(r["text"] for r in q_rows) == ["fine row", "poisoned row"]
    # the report names the failing constraint with its measured value
    reports = spark.read.parquet(quarantine + "__reports").collect()
    bad = [r for r in reports if not r["passed"]]
    assert bad and bad[0]["check_name"].startswith("not_null")


def test_mixture_ingest_plan_tracks_growth(spark, tmp_path):
    """Round-5 X10×X8: the counts store accumulates per-batch partials;
    mixture_over's plan equals source_mixture computed directly over
    the full corpus at every point — without rescanning it."""
    from vectordb_migrator_spark.operators.slicing import source_mixture
    from vectordb_migrator_spark.streaming.incremental import (
        mixture_ingest,
        mixture_over,
    )

    src = str(tmp_path / "in")
    counts = str(tmp_path / "counts")
    schema = "doc_id long, source string"

    def run():
        q = mixture_ingest(
            spark,
            source_path=src,
            source_schema=schema,
            counts_path=counts,
            checkpoint=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)

    def plan():
        return {
            r["source"]: (r["size"], r["epochs"])
            for r in mixture_over(
                spark, counts, alpha=0.5, budget=100
            ).collect()
        }

    batch1 = [(i, "web") for i in range(8)] + [(100 + i, "book") for i in range(2)]
    spark.createDataFrame(batch1, schema).write.parquet(src)
    run()
    direct = {
        r["source"]: (r["size"], r["epochs"])
        for r in source_mixture(
            spark.createDataFrame(batch1, schema), alpha=0.5, budget=100
        ).collect()
    }
    assert plan() == direct

    batch2 = [(200 + i, "book") for i in range(6)]
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(src)
    run()
    direct2 = {
        r["source"]: (r["size"], r["epochs"])
        for r in source_mixture(
            spark.createDataFrame(batch1 + batch2, schema), alpha=0.5, budget=100
        ).collect()
    }
    assert plan() == direct2
    # the store itself stays kilobyte-sized: one partial per (source, batch)
    assert spark.read.parquet(counts).count() <= 4


def test_decontaminated_ingest_quarantines_eval_leaks(spark, tmp_path):
    """Round-5 X5×X8: a doc whose grams overlap the static benchmark
    above threshold is quarantined with its measured contamination;
    clean docs land in the corpus. No history rescans — the benchmark
    side broadcasts per batch."""
    from vectordb_migrator_spark.streaming.incremental import (
        decontaminated_ingest,
    )

    schema = "doc_id long, text string"
    bench = spark.createDataFrame(
        [(900, "the secret eval question about turtles")], schema
    )
    src = str(tmp_path / "in")
    spark.createDataFrame(
        [
            (1, "the secret eval question about turtles verbatim copy"),
            (2, "a perfectly ordinary training document here"),
        ],
        schema,
    ).write.parquet(src)
    q = decontaminated_ingest(
        spark,
        source_path=src,
        source_schema=schema,
        corpus_path=str(tmp_path / "corpus"),
        quarantine_path=str(tmp_path / "quarantine"),
        benchmark=bench,
        checkpoint=str(tmp_path / "ckpt"),
        n=3,
        threshold=0.4,
    )
    q.awaitTermination(120)
    clean = [r["doc_id"] for r in spark.read.parquet(str(tmp_path / "corpus")).collect()]
    dirty = {
        r["doc_id"]: r["contamination"]
        for r in spark.read.parquet(str(tmp_path / "quarantine")).collect()
    }
    assert clean == [2]
    assert set(dirty) == {1} and dirty[1] >= 0.4


def test_curation_ingest_report_tracks_batch_report(spark, tmp_path):
    """Round-6 X0×X8: the streaming grain store must reproduce the
    batch curation report without rescanning history — every section
    exact except dup_by_source (HLL estimate, tolerance-checked), and
    the report stays current as the corpus grows."""
    from vectordb_migrator_spark.operators.cleaning import (
        curation_grain,
        curation_sections,
    )
    from vectordb_migrator_spark.streaming.incremental import (
        curation_ingest,
        curation_report_over,
    )

    src = str(tmp_path / "in")
    grain = str(tmp_path / "grain")
    schema = "doc_id long, source string, text string"

    def run():
        q = curation_ingest(
            spark,
            source_path=src,
            source_schema=schema,
            grain_path=grain,
            checkpoint=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)

    def report(df):
        g = curation_grain(df).localCheckpoint(eager=True)
        return {
            (r["section"], r["k"]): r["v"]
            for r in curation_sections(g).collect()
        }

    def streamed():
        return {
            (r["section"], r["k"]): r["v"]
            for r in curation_report_over(spark, grain).collect()
        }

    texts = [
        "the quick brown fox jumps over the lazy dog " * 3,
        "le chat est sur la table et il dort",
        "short",
    ]
    batch1 = [
        (i, "web" if i % 3 else "book", texts[i % 3]) for i in range(12)
    ]
    spark.createDataFrame(batch1, schema).write.parquet(src)
    run()
    got, want = streamed(), report(spark.createDataFrame(batch1, schema))
    assert set(got) == set(want)
    for key in want:
        if key[0] == "dup_by_source":
            assert abs(got[key] - want[key]) <= 0.05, (key, got[key], want[key])
        else:
            assert got[key] == want[key], key

    # growth: append a second batch; the refreshed report equals the
    # batch report over the FULL corpus — history never rescanned
    batch2 = [(100 + i, "forum", texts[0]) for i in range(5)]
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(src)
    run()
    got2 = streamed()
    want2 = report(spark.createDataFrame(batch1 + batch2, schema))
    assert set(got2) == set(want2)
    for key in want2:
        if key[0] == "dup_by_source":
            assert abs(got2[key] - want2[key]) <= 0.05
        else:
            assert got2[key] == want2[key], key

    # replay idempotence: a third run with no new input appends nothing
    n_rows = spark.read.parquet(grain).count()
    run()
    assert spark.read.parquet(grain).count() == n_rows


def test_reader_options_bound_micro_batches(spark, tmp_path):
    """Round-6: reader_options pass through to the stream reader —
    maxFilesPerTrigger=1 over two input files yields two distinct
    per-batch partials in the store instead of one merged batch."""
    from vectordb_migrator_spark.streaming.incremental import cms_ingest

    src = str(tmp_path / "in")
    schema = "k string"
    spark.createDataFrame([("a",)] * 5, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame([("b",)] * 5, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = cms_ingest(
        spark,
        source_path=src,
        source_schema=schema,
        cells_path=str(tmp_path / "cells"),
        checkpoint=str(tmp_path / "ckpt"),
        key_col="k",
        depth=2,
        width=16,
        reader_options={"maxFilesPerTrigger": "1"},
    )
    q.awaitTermination(120)
    batches = (
        spark.read.parquet(str(tmp_path / "cells"))
        .select("batch_id")
        .distinct()
        .count()
    )
    assert batches == 2


def test_gated_ingest_routes_clean_and_quarantine(spark, tmp_path):
    """Round-7 X12×X8: streaming contract gate — conforming rows reach
    the clean corpus, violators land in quarantine with sorted rule
    names and batch id; a second batch appends incrementally."""
    from pyspark.sql import functions as F

    from vectordb_migrator_spark.streaming.incremental import gated_ingest

    src = str(tmp_path / "in")
    schema = "id long, value double, kind string"
    rules = [
        ("value_positive", F.col("value") > 0),
        ("known_kind", F.col("kind").isin("a", "b")),
    ]
    b1 = [(1, 5.0, "a"), (2, -1.0, "a"), (3, 5.0, "z"), (4, -2.0, "z")]
    spark.createDataFrame(b1, schema).write.parquet(src)

    def run():
        q = gated_ingest(
            spark,
            source_path=src,
            source_schema=schema,
            clean_path=str(tmp_path / "clean"),
            quarantine_path=str(tmp_path / "quar"),
            rules=rules,
            checkpoint=str(tmp_path / "ck"),
        )
        q.awaitTermination(120)

    run()
    clean = {r["id"] for r in
             spark.read.parquet(str(tmp_path / "clean")).collect()}
    quar = {r["id"]: r["violations"] for r in
            spark.read.parquet(str(tmp_path / "quar")).collect()}
    assert clean == {1}
    assert quar == {
        2: "value_positive",
        3: "known_kind",
        4: "known_kind,value_positive",
    }

    spark.createDataFrame([(5, 1.0, "b"), (6, 0.0, "b")], schema) \
        .write.mode("append").parquet(src)
    run()
    clean2 = {r["id"] for r in
              spark.read.parquet(str(tmp_path / "clean")).collect()}
    quar2 = spark.read.parquet(str(tmp_path / "quar"))
    assert clean2 == {1, 5}
    assert {r["id"] for r in quar2.collect()} == {2, 3, 4, 6}
    # replay idempotence: checkpoint advanced, nothing re-appends
    n_c = spark.read.parquet(str(tmp_path / "clean")).count()
    n_q = quar2.count()
    run()
    assert spark.read.parquet(str(tmp_path / "clean")).count() == n_c
    assert spark.read.parquet(str(tmp_path / "quar")).count() == n_q


def test_psi_ingest_matches_batch_psi(spark, tmp_path):
    """Streaming PSI store: two micro-batched ingests against frozen
    reference edges reproduce the batch psi_drift score on the same
    ref/cur split, and replay appends nothing."""
    from vectordb_migrator_spark.operators.validation import psi_drift
    from vectordb_migrator_spark.streaming.incremental import (
        psi_bin_ingest,
        psi_over,
    )

    schema = "val double"
    ref_rows = [(float(i % 100),) for i in range(500)]
    cur1 = [(float((i % 100) + 40),) for i in range(300)]
    cur2 = [(float((i % 100) + 40),) for i in range(200)]

    ref = spark.createDataFrame(ref_rows, schema)
    probs = [0.1 * i for i in range(1, 10)]
    edges = ref.agg(
        F.expr(f"percentile(val, array({','.join(str(p) for p in probs)}))")
    ).first()[0]
    # frozen reference shares per bin (deciles of the ref itself)
    bin_of = lambda v: next(  # noqa: E731
        (i + 1 for i, e in enumerate(edges) if v <= e), len(edges) + 1
    )
    from collections import Counter

    rc = Counter(bin_of(v) for (v,) in ref_rows)
    ref_shares = [rc.get(b, 0) / len(ref_rows)
                  for b in range(1, len(edges) + 2)]

    src = str(tmp_path / "in")
    spark.createDataFrame(cur1, schema).write.parquet(src)

    def run():
        q = psi_bin_ingest(
            spark, source_path=src, source_schema=schema,
            store_path=str(tmp_path / "store"),
            checkpoint=str(tmp_path / "ck"),
            value_col="val", edges=list(edges),
        )
        q.awaitTermination(120)

    run()
    spark.createDataFrame(cur2, schema).write.mode("append").parquet(src)
    run()

    got = psi_over(spark, str(tmp_path / "store"), ref_shares).first()
    want = psi_drift(
        ref, spark.createDataFrame(cur1 + cur2, schema), "val"
    ).first()
    assert got["n_cur"] == 500
    assert abs(got["psi"] - want["psi"]) < 1e-6
    assert got["drifted"] == want["drifted"]

    n_store = spark.read.parquet(str(tmp_path / "store")).count()
    run()  # replay: no new data -> no new partials
    assert spark.read.parquet(str(tmp_path / "store")).count() == n_store


def test_transitions_ingest_matches_batch(spark, tmp_path):
    """Streaming transition maintenance: two micro-batched ingests
    (boundary pairs recovered from the versioned last-event state)
    reproduce the batch transition_matrix on the full log, and replay
    appends nothing."""
    from vectordb_migrator_spark.operators.relational import (
        transition_matrix,
    )
    from vectordb_migrator_spark.streaming.incremental import (
        transitions_ingest,
        transitions_over,
    )

    schema = "uid long, t long, eid long, state string"
    b1 = [
        (1, 1, 11, "view"), (1, 2, 12, "click"),
        (2, 1, 21, "view"), (2, 3, 22, "view"),
    ]
    b2 = [
        (1, 5, 13, "purchase"),  # boundary: click -> purchase
        (2, 4, 23, "click"),     # boundary: view -> click
        (3, 1, 31, "view"), (3, 2, 32, "error"),  # whole journey in b2
    ]
    src = str(tmp_path / "in")
    spark.createDataFrame(b1, schema).write.parquet(src)

    def run():
        q = transitions_ingest(
            spark, source_path=src, source_schema=schema,
            store_path=str(tmp_path / "store"),
            state_path=str(tmp_path / "state"),
            checkpoint=str(tmp_path / "ck"),
            unit_col="uid", state_col="state", order_col="t",
            tiebreak_col="eid",
        )
        q.awaitTermination(120)

    run()
    spark.createDataFrame(b2, schema).write.mode("append").parquet(src)
    run()

    got = {
        (r["from_state"], r["to_state"]): (r["n"], r["p"])
        for r in transitions_over(spark, str(tmp_path / "store")).collect()
    }
    want = {
        (r["from_state"], r["to_state"]): (r["n"], r["p"])
        for r in transition_matrix(
            spark.createDataFrame(b1 + b2, schema),
            unit_col="uid", state_col="state", order_col="t",
            tiebreak_col="eid",
        ).collect()
    }
    assert got == want
    assert got[("click", "purchase")][0] == 1  # the boundary pair

    n_store = spark.read.parquet(str(tmp_path / "store")).count()
    run()  # replay: no new data
    assert spark.read.parquet(str(tmp_path / "store")).count() == n_store


def test_jackknife_ingest_matches_batch(spark, tmp_path):
    """Streaming jackknife store: two micro-batched ingests reproduce
    the batch jackknife_ci on the full stream exactly (decimal
    partials merge by addition), and replay appends nothing."""
    from vectordb_migrator_spark.operators.scale import jackknife_ci
    from vectordb_migrator_spark.streaming.incremental import (
        jackknife_ingest,
        jackknife_over,
    )

    schema = "g string, uid long, v double"
    b1 = [("g", i % 23, float((i * 3) % 50)) for i in range(200)]
    b2 = [("g", i % 23, float((i * 7) % 50)) for i in range(150)]
    src = str(tmp_path / "in")
    spark.createDataFrame(b1, schema).write.parquet(src)

    def run():
        q = jackknife_ingest(
            spark, source_path=src, source_schema=schema,
            store_path=str(tmp_path / "store"),
            checkpoint=str(tmp_path / "ck"),
            value_col="v", unit_col="uid", buckets=8,
            group_cols=["g"],
        )
        q.awaitTermination(120)

    run()
    spark.createDataFrame(b2, schema).write.mode("append").parquet(src)
    run()

    got = jackknife_over(
        spark, str(tmp_path / "store"), group_cols=["g"]
    ).first().asDict()
    want = jackknife_ci(
        spark.createDataFrame(b1 + b2, schema), "v",
        unit_col="uid", buckets=8, group_cols=["g"],
    ).first().asDict()
    assert got == want

    n_store = spark.read.parquet(str(tmp_path / "store")).count()
    run()
    assert spark.read.parquet(str(tmp_path / "store")).count() == n_store


def test_replay_guard_fails_on_a_store_missing_its_keys(spark, tmp_path):
    """The replay guard treats only a store that does not exist yet as
    empty: re-running a jackknife store with a group column it was not
    built with fails the batch (UNRESOLVED_COLUMN) instead of appending
    unguarded partials."""
    from pyspark.errors import StreamingQueryException

    from vectordb_migrator_spark.streaming.incremental import jackknife_ingest

    schema = "event_type string, uid long, v double"
    src = str(tmp_path / "in")
    store = str(tmp_path / "store")

    def run(**kw):
        jackknife_ingest(
            spark, source_path=src, source_schema=schema, store_path=store,
            checkpoint=str(tmp_path / "ck"), value_col="v", unit_col="uid",
            buckets=4, **kw,
        ).awaitTermination(120)

    spark.createDataFrame(
        [("a", i, float(i)) for i in range(20)], schema
    ).write.parquet(src)
    run()
    n_store = spark.read.parquet(store).count()
    spark.createDataFrame(
        [("b", i, float(i)) for i in range(20, 30)], schema
    ).write.mode("append").parquet(src)
    with pytest.raises(StreamingQueryException, match="UNRESOLVED_COLUMN"):
        run(group_cols=["event_type"])
    assert spark.read.parquet(store).count() == n_store


def test_mmd_ingest_matches_batch(spark, tmp_path):
    """Streaming MMD drift monitor: moment stores built by two
    micro-batched ingests reproduce the batch mmd_two_sample on the
    same ref/cur split BIT-FOR-BIT (decimal partials merge by
    addition), and replay appends nothing."""
    import numpy as np

    from vectordb_migrator_spark.operators.scale import mmd_two_sample
    from vectordb_migrator_spark.streaming.incremental import (
        mmd_moment_ingest,
        mmd_over,
    )

    d = 8
    rng = np.random.RandomState(3)
    ref_rows = [
        (i, [float(x) for x in rng.randn(d)]) for i in range(200)
    ]
    cur1 = [
        (1000 + i, [float(x) + 0.3 for x in rng.randn(d)])
        for i in range(120)
    ]
    cur2 = [
        (2000 + i, [float(x) + 0.3 for x in rng.randn(d)])
        for i in range(80)
    ]
    schema = "vec_id long, embedding array<double>"

    ref_src = str(tmp_path / "ref_in")
    spark.createDataFrame(ref_rows, schema).write.parquet(ref_src)
    q = mmd_moment_ingest(
        spark, source_path=ref_src, source_schema=schema,
        store_path=str(tmp_path / "ref_store"),
        checkpoint=str(tmp_path / "ref_ck"), d=d,
    )
    q.awaitTermination(120)

    cur_src = str(tmp_path / "cur_in")
    spark.createDataFrame(cur1, schema).write.parquet(cur_src)

    def run_cur():
        q = mmd_moment_ingest(
            spark, source_path=cur_src, source_schema=schema,
            store_path=str(tmp_path / "cur_store"),
            checkpoint=str(tmp_path / "cur_ck"), d=d,
        )
        q.awaitTermination(120)

    run_cur()
    spark.createDataFrame(cur2, schema).write.mode("append").parquet(
        cur_src
    )
    run_cur()

    got = mmd_over(
        spark, str(tmp_path / "cur_store"), str(tmp_path / "ref_store"),
        d=d,
    ).first()
    union = spark.createDataFrame(ref_rows + cur1 + cur2, schema)
    want = mmd_two_sample(
        union, group_expr=(F.col("vec_id") < 1000), d=d
    ).first()
    assert (got["n_a"], got["n_b"]) == (want["n_a"], want["n_b"]) == (200, 200)
    # decimal partials merge exactly -> identical rounded values
    assert got["mean_term"] == want["mean_term"]
    assert got["cov_term"] == want["cov_term"]
    assert got["mmd2"] == want["mmd2"]
    # the planted 0.3 mean shift is visible
    assert got["mean_term"] > 0.01

    n_store = spark.read.parquet(str(tmp_path / "cur_store")).count()
    run_cur()  # replay: no new data -> no new partials
    assert (
        spark.read.parquet(str(tmp_path / "cur_store")).count() == n_store
    )


def test_cusum_ingest_matches_batch(spark, tmp_path):
    """Streaming CUSUM drift monitor: a daily-partial store built by a
    micro-batched ingest reproduces the batch cusum_changepoint on the
    same rows BIT-FOR-BIT (decimal partials merge by addition), and
    replay appends nothing."""
    import datetime

    from vectordb_migrator_spark.operators.timeseries import (
        cusum_changepoint,
    )
    from vectordb_migrator_spark.streaming.incremental import (
        cusum_daily_ingest,
        cusum_over,
    )

    d0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    for g, shift in (("a", 4.0), ("b", 0.0)):
        for i in range(30):
            # several raw events per day so partial sums matter
            for e in range(3):
                v = 10.0 + ((i * 7 + e) % 5) * 0.31
                if i >= 14:
                    v += shift
                rows.append(
                    (g, d0 + datetime.timedelta(days=i, hours=e), v)
                )
    schema = "event_type string, ts timestamp, value double"
    chunk1 = [r for r in rows if r[1].day % 2 == 0]
    chunk2 = [r for r in rows if r[1].day % 2 == 1]

    src = str(tmp_path / "in")
    store = str(tmp_path / "store")
    spark.createDataFrame(chunk1, schema).write.parquet(src)

    def run():
        q = cusum_daily_ingest(
            spark, source_path=src, source_schema=schema,
            store_path=store, checkpoint=str(tmp_path / "ck"),
        )
        q.awaitTermination(120)

    run()
    spark.createDataFrame(chunk2, schema).write.mode("append").parquet(src)
    run()

    got = sorted(tuple(r) for r in cusum_over(spark, store).collect())
    daily = (
        spark.createDataFrame(rows, schema)
        .groupBy(
            F.col("event_type").alias("g"),
            F.to_date("ts").alias("day"),
        )
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(28,12)")).cast(
                    "double"
                ),
                6,
            ).alias("v")
        )
    )
    want = sorted(
        tuple(r)
        for r in cusum_changepoint(
            daily, "v", time_col="day", group_cols=["g"]
        ).collect()
    )
    assert got == want
    by_g = {r[0]: r for r in got}
    assert by_g["a"][-1] is True  # the planted +4 shift alarms
    assert by_g["b"][-1] is False

    # replay idempotence: re-running on the SAME checkpoint with no
    # new files appends nothing (and the (g, day, batch_id) anti-join
    # guards foreachBatch re-delivery of an already-stored batch id
    # after a crash) — the report is unchanged
    n_store = spark.read.parquet(store).count()
    run()
    assert spark.read.parquet(store).count() == n_store
    again = sorted(tuple(r) for r in cusum_over(spark, store).collect())
    assert again == got


def test_ks_binned_ingest_matches_batch(spark, tmp_path):
    """Streaming binned-KS drift monitor (r10 verdict ask): a bin-count
    store built by a micro-batched ingest reproduces the batch
    ks_binned_report on the same rows BIT-FOR-BIT (integer partials
    merge by addition), a planted variance drift alarms, and replay
    appends nothing."""
    import datetime

    from vectordb_migrator_spark.operators.scale import ks_binned_report
    from vectordb_migrator_spark.streaming.incremental import (
        ks_binned_ingest,
        ks_over,
    )

    d0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    for i in range(600):
        # group "a": sample A (even uid) has 3x the spread of B
        ua = 50.0 + ((i * 37) % 100 - 50) * (3.0 if i % 2 == 0 else 1.0)
        rows.append((i, d0, "a", ua))
        # group "b": identical distributions
        rows.append((i, d0, "b", 50.0 + ((i * 37) % 100 - 50) * 1.0))
    schema = "user_id long, ts timestamp, event_type string, value double"
    edges = [10.0, 25.0, 40.0, 50.0, 60.0, 75.0, 90.0]
    split = F.col("user_id") % 2 == 0

    src = str(tmp_path / "in")
    store = str(tmp_path / "store")
    chunk1 = [r for r in rows if r[0] % 3 != 0]
    chunk2 = [r for r in rows if r[0] % 3 == 0]
    spark.createDataFrame(chunk1, schema).write.parquet(src)

    def run():
        q = ks_binned_ingest(
            spark, source_path=src, source_schema=schema,
            store_path=store, checkpoint=str(tmp_path / "ck"),
            value_col="value", edges=edges, split_expr=split,
        )
        q.awaitTermination(120)

    run()
    spark.createDataFrame(chunk2, schema).write.mode("append").parquet(src)
    run()

    got = sorted(
        tuple(r)
        for r in ks_over(spark, store, n_edges=len(edges)).collect()
    )
    want = sorted(
        tuple(r)
        for r in ks_binned_report(
            spark.createDataFrame(rows, schema),
            "value",
            edges=edges,
            group_cols=["event_type"],
            split_expr=split,
        ).collect()
    )
    assert got == want  # bit-for-bit, integers and rounded doubles
    by_g = {r[0]: r for r in got}
    assert by_g["a"][-1] is True  # 3x spread: shape drift KS sees
    assert by_g["b"][-1] is False  # identical distributions

    # replay idempotence: same checkpoint, no new files -> no appends
    before = spark.read.parquet(store).count()
    run()
    assert spark.read.parquet(store).count() == before

    # the binned D lower-bounds the exact D on the same rows
    from vectordb_migrator_spark.operators.scale import (
        ks_two_sample_report,
    )

    exact = {
        r["event_type"]: r["d"]
        for r in ks_two_sample_report(
            spark.createDataFrame(rows, schema),
            "value",
            group_cols=["event_type"],
            split_expr=split,
        ).collect()
    }
    assert by_g["a"][5] <= exact["a"] + 1e-9


def test_novelty_ingest_matches_batch(spark, tmp_path):
    """Streaming ingest-time novelty: with an id-ordered stream the
    concatenated at-ingest scores are BIT-FOR-BIT the batch
    ngram_novelty_report on the full corpus (a later larger id can
    never steal a gram's first occurrence), and replay appends
    nothing to either store."""
    from vectordb_migrator_spark.operators.dedup import (
        ngram_novelty_report,
    )
    from vectordb_migrator_spark.streaming.incremental import (
        novelty_ingest,
        novelty_over,
    )

    rows = [
        (1, "a b c d e"),
        (2, "a b c d e"),          # exact copy of 1
        (3, "c d e f g"),          # partial overlap
        (4, "h i j k l"),          # fresh
        (5, "f g h zz yy"),        # overlaps 3 and 4's grams? (f g h)
        (6, "a b c xx ww"),        # overlaps 1
    ]
    schema = "doc_id long, text string"
    src = str(tmp_path / "in")
    store = str(tmp_path / "grams")
    scores = str(tmp_path / "scores")
    # id-ordered chunks: 1-3 then 4-6
    spark.createDataFrame(rows[:3], schema).write.parquet(src)

    def run():
        q = novelty_ingest(
            spark, source_path=src, source_schema=schema,
            store_path=store, scores_path=scores,
            checkpoint=str(tmp_path / "ck"),
        )
        q.awaitTermination(120)

    run()
    spark.createDataFrame(rows[3:], schema).write.mode("append").parquet(
        src
    )
    run()

    got = sorted(tuple(r) for r in novelty_over(spark, scores).collect())
    want = sorted(
        tuple(r)
        for r in ngram_novelty_report(
            spark.createDataFrame(rows, schema)
        ).collect()
    )
    assert got == want

    before = (
        spark.read.parquet(scores).count(),
        spark.read.parquet(store).count(),
    )
    run()  # same checkpoint, no new files
    assert (
        spark.read.parquet(scores).count(),
        spark.read.parquet(store).count(),
    ) == before

    # replay: drop the last commit marker so batch 1 re-executes with
    # the SAME batch_id — both (…, batch_id) guards must hold
    import os

    os.remove(str(tmp_path / "ck" / "commits" / "1"))
    crc = tmp_path / "ck" / "commits" / ".1.crc"
    if crc.exists():
        crc.unlink()
    run()
    assert (
        spark.read.parquet(scores).count(),
        spark.read.parquet(store).count(),
    ) == before


def test_hll_md5_ingest_matches_batch(spark, tmp_path):
    """Streaming md5-HLL daily store: the prefix-union rollup off the
    per-batch register-array store is BIT-FOR-BIT the batch rollup on
    the full event table (register MAX / event SUM are order-free and
    the estimator sees identical registers), even when one day's
    events are SPLIT across micro-batches; replay appends nothing."""
    from vectordb_migrator_spark.operators.sketches import (
        hll_md5_daily_report,
        hll_md5_day_registers,
        hll_md5_daily_rollup,
    )
    from vectordb_migrator_spark.streaming.incremental import (
        hll_md5_ingest,
        hll_md5_daily_over,
    )
    import pyspark.sql.functions as F

    rows = []
    for day, users in [
        ("2024-03-01", [1, 2, 3, 4, 2, 1]),
        ("2024-03-02", [3, 4, 5, 6]),
        ("2024-03-03", [1, 7, 7, 8, 9]),
    ]:
        rows += [(f"{day} 0{i % 10}:00:00", f"u{u}")
                 for i, u in enumerate(users)]
    schema = "ts string, user_id string"
    # day 2 straddles the two batches — the MAX-merge must heal it
    split = 8
    src = str(tmp_path / "in")
    store = str(tmp_path / "st")
    spark.createDataFrame(rows[:split], schema).write.parquet(src)

    def run():
        q = hll_md5_ingest(
            spark, source_path=src, source_schema=schema,
            store_path=store, checkpoint=str(tmp_path / "ck"),
        )
        q.awaitTermination(120)

    run()
    spark.createDataFrame(rows[split:], schema).write.mode(
        "append"
    ).parquet(src)
    run()

    full = spark.createDataFrame(rows, schema)
    want = sorted(
        tuple(r)
        for r in hll_md5_daily_rollup(
            hll_md5_day_registers(full, "user_id"),
            full.groupBy(F.to_date("ts").alias("day")).agg(
                F.count(F.lit(1)).cast("long").alias("n_events")
            ),
        ).collect()
    )
    got = sorted(
        tuple(r) for r in hll_md5_daily_over(spark, store).collect()
    )
    assert got == want and len(got) == 3

    # the store-only columns agree with the certificate report too
    rep = {
        r["day"]: r
        for r in hll_md5_daily_report(full, "user_id").collect()
    }
    for day, n_ev, cum_ev, nrd, nrc, est_d, est_c in got:
        r = rep[day]
        assert (
            r["n_events"], r["cum_events"], r["n_regs_day"],
            r["n_regs_cum"], r["est_day"], r["est_cum"],
        ) == (n_ev, cum_ev, nrd, nrc, est_d, est_c)
        # exact certificates sane: estimate within HLL m=256 error
        assert abs(r["est_cum"] - r["exact_cum"]) <= 0.3 * r["exact_cum"] + 3

    before = spark.read.parquet(store).count()
    run()  # same checkpoint, no new files
    assert spark.read.parquet(store).count() == before
