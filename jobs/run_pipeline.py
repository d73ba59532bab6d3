"""Official spark-submit entry point (north_rule delivery mode).

    zip -r wsner.zip weak_supervision_for_ner_spark
    spark-submit --master <cluster> --py-files wsner.zip \
        jobs/run_pipeline.py \
        --input  <pages parquet/iceberg path | synth:N>  \
        --output /path/to/graph \
        --aggregator majority|hmm \
        [--stage-dir /path/stages] [--lineage /path/lineage.json] \
        [--mentions-out /path/mentions] [--metrics]

In local mode Python workers start from the package's worker daemon
(``config.worker_daemon_conf``), unless ``--conf
spark.python.daemon.module=...`` names another; other masters keep
Spark's own daemon.

Resumable: with --stage-dir, a re-run with the same flags and input
reuses the committed annotated stage, casing dictionary and HMM EM
checkpoints; the mentions are decoded again from the annotated stage.
"""

from __future__ import annotations

import argparse
import os


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="pages table path, or synth:N for the deterministic corpus")
    ap.add_argument("--output", required=True)
    ap.add_argument("--aggregator", default="majority", choices=["majority", "hmm"])
    ap.add_argument("--hmm-iters", type=int, default=10)
    ap.add_argument("--stage-dir", default=None,
                    help="durable mid-pipeline resume: the annotated "
                         "stage parquet, casing dictionary and HMM "
                         "checkpoints are reused by a re-run instead of "
                         "recomputed")
    ap.add_argument("--lineage", default=None)
    ap.add_argument("--mentions-out", default=None)
    ap.add_argument("--mentions-json", default=None,
                    help="also export aggregated mentions as JSON "
                         "(the reference's convert_to_json sink)")
    ap.add_argument("--metrics", action="store_true",
                    help="record per-partition annotation counters in the "
                         "--lineage file (requires --lineage)")
    ap.add_argument("--no-truecase", action="store_true",
                    help="skip corpus-derived case repair (the reference "
                         "truecases <=25-token docs by default)")
    ap.add_argument("--no-entity-correction", action="store_true",
                    help="skip the 15-rule entity repair pass (the reference "
                         "applies it after every model annotation)")
    ap.add_argument("--format", default="parquet", choices=["parquet", "iceberg"],
                    help="sink format for --output/--mentions-out: parquet "
                         "paths (default) or Iceberg catalog TABLE NAMES via "
                         "writeTo/overwritePartitions — requires an Iceberg "
                         "catalog configured on the session")
    ap.add_argument("--input-format", default="auto",
                    choices=["auto", "parquet", "table"],
                    help="how to read --input (independent of the sink "
                         "--format): 'parquet' path, 'table' catalog name, or "
                         "'auto' (default — synth:N generates, a value "
                         "containing '/', ending in .parquet, or existing "
                         "on the filesystem reads as a parquet path, "
                         "anything else as a catalog table)")
    args = ap.parse_args()
    if args.metrics and not args.lineage:
        ap.error("--metrics writes to the --lineage file; pass --lineage too")

    from pyspark import SparkConf, SparkContext
    from pyspark.sql import SparkSession

    from weak_supervision_for_ner_spark.config import worker_daemon_conf

    # join spark-submit's JVM first: SparkConf() then holds the submitted
    # --master and --conf values
    SparkContext._ensure_initialized()
    builder = SparkSession.builder
    for key, value in worker_daemon_conf(SparkConf()).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()

    from weak_supervision_for_ner_spark.operators.annotate import write_mentions
    from weak_supervision_for_ner_spark.operators.triples import write_graph
    from weak_supervision_for_ner_spark.plans.pipeline import run_kg_pipeline
    from weak_supervision_for_ner_spark.sources.pages import synth_pages

    if args.input.startswith("synth:"):
        pages = synth_pages(spark, int(args.input.split(":", 1)[1]))
    elif args.input_format == "table" or (
        args.input_format == "auto" and "/" not in args.input
        # a relative path in the cwd ('data.parquet') is a parquet
        # input, not a catalog table — auto must not misroute it into
        # spark.table()'s confusing table-not-found error (r4 advice)
        and not args.input.endswith(".parquet")
        and not os.path.exists(args.input)
    ):
        pages = spark.table(args.input)   # catalog table name
    else:
        pages = spark.read.parquet(args.input)

    annotated, mentions, graph = run_kg_pipeline(
        spark, pages,
        aggregator=args.aggregator,
        hmm_iters=args.hmm_iters,
        lineage_path=args.lineage,
        with_metrics=args.metrics,
        mentions_consumed=bool(args.mentions_out or args.mentions_json),
        truecase=not args.no_truecase,
        entity_correction=not args.no_entity_correction,
        stage_dir=args.stage_dir,
    )
    write_graph(graph, args.output, fmt=args.format)
    if args.mentions_out:
        write_mentions(mentions, args.mentions_out, fmt=args.format)
    if args.mentions_json:
        mentions.write.mode("overwrite").json(args.mentions_json)
    annotated.unpersist()
    mentions.unpersist()
    n = (spark.table(args.output) if args.format == "iceberg"
         else spark.read.parquet(args.output)).count()
    print(f"graph written to {args.output}: {n} triples")


if __name__ == "__main__":
    main()
