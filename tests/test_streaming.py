"""Structured Streaming ingestion: the stateless annotation stage must
produce the same mentions as batch over the same files."""

import time

import pytest


@pytest.fixture(autouse=True)
def no_stream_outlives_its_test(spark):
    """Every streaming query a test starts has ended when it returns;
    one left running is stopped here, so it cannot slow later tests."""
    yield
    active = spark.streams.active
    for q in active:
        q.stop()
    assert active == []


def test_streaming_mentions_equal_batch(spark, tmp_path):
    from weak_supervision_for_ner_spark.operators.annotate import (
        annotate_pages,
        mentions_from_annotated,
    )
    from weak_supervision_for_ner_spark.sources.pages import synth_pages
    from weak_supervision_for_ner_spark.streaming.ingest import run_stream_to_parquet

    in_path = str(tmp_path / "pages")
    out_path = str(tmp_path / "mentions")
    ckpt = str(tmp_path / "ckpt")
    pages = synth_pages(spark, 40, partitions=2)
    pages.write.parquet(in_path)

    run_stream_to_parquet(spark, in_path, out_path, ckpt, timeout_sec=120)

    got = {
        (r["url"], r["source"], r["start"], r["end"], r["label"])
        for r in spark.read.parquet(out_path).collect()
    }
    want = {
        (r["url"], r["source"], r["start"], r["end"], r["label"])
        for r in mentions_from_annotated(
            annotate_pages(spark.read.parquet(in_path))
        ).collect()
    }
    assert got == want and got


def test_streaming_windowed_counts(spark, tmp_path):
    """The watermarked windowed rollup over the stream equals the batch
    rollup of ``annotate_pages`` joined back to ``warc_ts``: the 2-file
    corpus is one micro-batch, so the watermark drops nothing."""
    from pyspark.sql import functions as F

    from weak_supervision_for_ner_spark.operators.annotate import annotate_pages
    from weak_supervision_for_ner_spark.sources.pages import synth_pages
    from weak_supervision_for_ner_spark.streaming.ingest import (
        read_pages_stream,
        streaming_mention_counts,
    )

    in_path = str(tmp_path / "pages2")
    synth_pages(spark, 30, partitions=2).write.parquet(in_path)
    # complete mode: append would emit only windows already finalized
    # by the watermark, which needs >=2 microbatches to advance — with
    # availableNow + few files the result would be empty.
    q = (
        streaming_mention_counts(read_pages_stream(spark, in_path))
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql(
        "select window_start, label, n_mentions from win_counts").collect()))

    pages = spark.read.parquet(in_path)
    batch = (
        annotate_pages(pages).join(pages.select("url", "warc_ts"), "url")
        .select("warc_ts", F.explode("spans.label").alias("label"))
        .groupBy(F.window("warc_ts", "10 minutes").alias("win"), "label")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .select(F.col("win.start").alias("window_start"), "label", "n_mentions")
    )
    want = sorted(map(tuple, batch.collect()))
    assert got == want and got


def test_streaming_stateful_dedup_across_microbatches(spark, tmp_path):
    """applyInPandasWithState exact dedup: the state (first-seen url per
    content hash) must survive across micro-batches, so a re-crawl in a
    LATER batch is flagged as a duplicate of the first batch's url."""
    from pyspark.sql import Row

    from weak_supervision_for_ner_spark.schema import PAGES_SCHEMA
    from weak_supervision_for_ner_spark.streaming.ingest import (
        read_pages_stream,
        streaming_dedup,
    )

    in_path = str(tmp_path / "pages")
    text_a, text_b = "shared boilerplate page .", "unique article text ."

    def page(url, text):
        import datetime

        return Row(url=url, warc_ts=datetime.datetime(2026, 1, 1), html=b"",
                   text=text, lang="en")

    batch1 = spark.createDataFrame([page("u1", text_a), page("u2", text_b)], PAGES_SCHEMA)
    batch2 = spark.createDataFrame([page("u3", text_a)], PAGES_SCHEMA)
    batch1.coalesce(1).write.mode("overwrite").parquet(in_path)
    batch2.coalesce(1).write.mode("append").parquet(in_path)

    out = streaming_dedup(read_pages_stream(spark, in_path, max_files=1))
    q = (
        out.writeStream.format("memory").queryName("dedup_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # the processing-time state timeout keeps an availableNow stream
    # running after its last batch: wait for the 3 rows, then stop it
    try:
        deadline = time.monotonic() + 120
        while (spark.sql("SELECT * FROM dedup_stream").count() < 3
               and time.monotonic() < deadline):
            time.sleep(0.5)
    finally:
        q.stop()
    rows = {r["url"]: (r["first_url"], r["is_duplicate"])
            for r in spark.sql("SELECT * FROM dedup_stream").collect()}
    assert rows["u2"] == ("u2", False)
    # exactly one of u1/u3 is first-seen; the other is its duplicate
    assert {rows["u1"][1], rows["u3"][1]} == {False, True}
    first = "u1" if not rows["u1"][1] else "u3"
    dup = "u3" if first == "u1" else "u1"
    assert rows[dup][0] == first and rows[first][0] == first


def test_streaming_triples_equal_batch(spark, tmp_path):
    """Continuous KG construction: the fused pages->triples stage under
    Structured Streaming (append mode) emits exactly the batch raw
    triples over the same files."""
    from weak_supervision_for_ner_spark.operators.triples import (
        extract_triples_direct,
    )
    from weak_supervision_for_ner_spark.sources.pages import synth_pages
    from weak_supervision_for_ner_spark.streaming.ingest import (
        read_pages_stream,
        streaming_triples,
    )

    in_path = str(tmp_path / "pages3")
    synth_pages(spark, 40, partitions=2).write.parquet(in_path)
    q = (
        streaming_triples(read_pages_stream(spark, in_path, max_files=1))
        .writeStream.format("memory")
        .queryName("stream_triples")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, spark.sql("select * from stream_triples").collect())
    )
    want = sorted(
        map(
            tuple,
            extract_triples_direct(
                spark.read.parquet(in_path), correct=True
            ).collect(),
        )
    )
    assert got == want and got


def test_streaming_compaction_matches_batch_graph(spark, tmp_path):
    """Stream-append raw triples, then the periodic batch compaction:
    the finalized graph must equal running the batch pipeline over the
    same pages (same linking, same canonical ids, same dedup)."""
    import json

    from weak_supervision_for_ner_spark.plans.pipeline import run_kg_pipeline
    from weak_supervision_for_ner_spark.sources.pages import synth_pages
    from weak_supervision_for_ner_spark.streaming.ingest import (
        finalize_streaming_graph,
        read_pages_stream,
        streaming_triples,
    )

    in_path = str(tmp_path / "pages4")
    pages = synth_pages(spark, 60, partitions=2).persist()
    pages.write.parquet(in_path)
    raw_sink = str(tmp_path / "raw_triples")
    q = (
        streaming_triples(read_pages_stream(spark, in_path, max_files=1))
        .writeStream.format("parquet").option("path", raw_sink)
        .option("checkpointLocation", str(tmp_path / "ckpt4"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    out = str(tmp_path / "graph4")
    lineage = str(tmp_path / "compaction.json")
    n = finalize_streaming_graph(spark, raw_sink, out, lineage_path=lineage)

    # batch truth over the same pages: truecase off (the stream stage
    # has no corpus dictionary), correction on (streaming_triples does)
    _, _, g_batch = run_kg_pipeline(spark, pages, truecase=False)
    cols = sorted(g_batch.columns)
    batch = sorted(map(tuple, g_batch.select(*cols).collect()))
    compacted = sorted(
        map(tuple, spark.read.parquet(out).select(*cols).collect())
    )
    assert compacted == batch and n == len(batch) and n > 0
    with open(lineage) as fd:
        rec = json.load(fd)
    assert rec["edges"] == n and "unconverged_labels" in rec


def test_finalize_streaming_graph_keeps_caller_caches(spark, tmp_path):
    """The compaction job releases only what it cached itself: a frame
    the caller persisted before the call is still cached after it."""
    from weak_supervision_for_ner_spark.operators.triples import extract_triples_direct
    from weak_supervision_for_ner_spark.sources.pages import synth_pages
    from weak_supervision_for_ner_spark.streaming.ingest import finalize_streaming_graph

    raw_sink = str(tmp_path / "raw_triples")
    extract_triples_direct(synth_pages(spark, 20, partitions=2), correct=True) \
        .write.parquet(raw_sink)
    kept = synth_pages(spark, 10, partitions=1).persist()
    kept.count()
    try:
        assert finalize_streaming_graph(spark, raw_sink, str(tmp_path / "graph")) > 0
        level = kept.storageLevel
        assert level.useMemory or level.useDisk
    finally:
        kept.unpersist()
