"""Structured Streaming ingestion of the pages table.

The reference is a pure batch pipeline (SURVEY.md §2.11); streaming is
an engine extension: continuously annotate newly crawled pages and
append mentions to the sink. The annotation stage is the SAME
stateless ``mapInPandas`` used in batch,
``operators.annotate.annotate_stage``: Structured Streaming reuses it
unchanged (incrementalized by the engine). The windowed rollup runs it
with ``warc_ts`` passed through, under a watermark on ``warc_ts``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weak_supervision_for_ner_spark.operators.annotate import (
    annotate_pages,
    annotate_stage,
    mentions_from_annotated,
)
from weak_supervision_for_ner_spark.schema import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, path: str, max_files: int = 4) -> DataFrame:
    """File-source stream over a directory of pages parquet files
    (Iceberg/Kafka sources swap in via .format at production scale)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def streaming_mentions(pages_stream: DataFrame) -> DataFrame:
    """Stateless streaming annotation: identical operator as batch."""
    return mentions_from_annotated(annotate_pages(pages_stream))


def streaming_triples(pages_stream: DataFrame) -> DataFrame:
    """Continuous KG construction: the SAME maximally-fused
    pages→annotate→vote→[entity-correct]→SVO stage as the batch graph
    path, incrementalized by Structured Streaming (stateless narrow
    stage → append mode). Entity linking composes downstream the same
    way as batch (broadcast literal map — also stateless); streaming
    CANONICALIZATION is deliberately out: connected components over an
    unbounded stream is a batch compaction job over the accumulated
    sink in this design (run drop/canonicalize periodically), not a
    per-microbatch operator."""
    from weak_supervision_for_ner_spark.operators.triples import (
        extract_triples_direct,
    )

    return extract_triples_direct(pages_stream, correct=True)


def finalize_streaming_graph(
    spark: SparkSession, raw_triples_path: str, out_path: str,
    lineage_path: str | None = None,
) -> int:
    """The periodic BATCH compaction that completes the streaming KG
    loop: read the raw-triples sink that ``streaming_triples`` appends
    to, run the batch linking → minhash-LSH canonicalization → graph
    materialize over the accumulated table, and overwrite the serving
    graph. Stream appends stay cheap and stateless; global decisions
    (canonical ids, cross-document dedup of edges) are recomputed over
    the full accumulated corpus where connected components is a sound
    batch job. Returns the number of edges in the finalized graph."""
    import json as _json

    from weak_supervision_for_ner_spark.operators.triples import (
        canonicalize_triples,
        link_entities,
        materialize_graph,
        write_graph,
    )

    raw = spark.read.parquet(raw_triples_path)
    stats: dict = {}
    graph = materialize_graph(
        canonicalize_triples(spark, link_entities(spark, raw), stats=stats)
    )
    write_graph(graph, out_path)
    n = spark.read.parquet(out_path).count()
    if lineage_path:
        with open(lineage_path, "w") as fd:
            _json.dump({"stage": "streaming_compaction", "edges": n, **stats}, fd)
    return n


def streaming_mention_counts(pages_stream: DataFrame) -> DataFrame:
    """Event-time windowed rollup with late-data watermark: mentions
    per (10-minute window, label)."""
    annotated = annotate_stage(
        pages_stream.filter(F.col("lang") == "en").select("url", "warc_ts", "text")
    ).withWatermark("warc_ts", "30 minutes")
    mentions = annotated.select(
        "warc_ts", F.explode("spans").alias("m")
    ).select("warc_ts", F.col("m.label").alias("label"))
    return (
        mentions
        .groupBy(F.window("warc_ts", "10 minutes").alias("win"), "label")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .select(F.col("win.start").alias("window_start"), "label", "n_mentions")
    )


def run_stream_to_parquet(
    spark: SparkSession, in_path: str, out_path: str, checkpoint: str,
    timeout_sec: int = 60,
) -> None:
    """Drive the stream until idle (availableNow) — used by tests."""
    q = (
        streaming_mentions(read_pages_stream(spark, in_path))
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)


def streaming_dedup(pages_stream: DataFrame, timeout_minutes: int = 60) -> DataFrame:
    """Custom stateful operator: cross-micro-batch EXACT dedup.

    ``applyInPandasWithState`` keyed by md5(text): the state is the
    first-seen url per content hash; later arrivals (any micro-batch)
    are emitted as (text_hash, url, first_url, is_duplicate=true) and
    first arrivals pass through with is_duplicate=false. State expires
    after ``timeout_minutes`` of processing time so the store stays
    bounded on an unbounded crawl (re-crawls beyond the horizon are
    treated as fresh — the batch dedup job is the exactness backstop).
    Under an ``availableNow`` trigger the stream never ends on its own
    (the processing-time timeout keeps it waiting), so the caller must
    stop it.
    """
    from typing import Iterator, Tuple

    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType([
        T.StructField("text_hash", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("first_url", T.StringType()),
        T.StructField("is_duplicate", T.BooleanType()),
    ])
    state_schema = T.StructType([T.StructField("first_url", T.StringType())])

    def dedup(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        (text_hash,) = key
        first_url = state.get[0] if state.exists else None
        rows = []
        for pdf in pdfs:
            for url in sorted(pdf["url"]):
                if first_url is None:
                    first_url = url
                    rows.append((text_hash, url, url, False))
                else:
                    rows.append((text_hash, url, first_url, True))
        state.update((first_url,))
        state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(rows, columns=["text_hash", "url", "first_url", "is_duplicate"])

    hashed = pages_stream.select(
        F.md5(F.col("text")).alias("text_hash"), F.col("url")
    )
    return hashed.groupBy("text_hash").applyInPandasWithState(
        dedup,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
