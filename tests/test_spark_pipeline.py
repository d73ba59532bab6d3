"""Distributed-correctness tests: Spark output == single-node oracle,
invariance across partition counts, byte-identical text extraction,
triple P/R vs oracle (north_rule gates)."""

import pytest

from weak_supervision_for_ner_spark.operators.aggregate import majority_voter_mentions
from weak_supervision_for_ner_spark.operators.annotate import (
    annotate_pages,
    mentions_from_annotated,
)
from weak_supervision_for_ner_spark.operators.triples import extract_triples_from_doc
from weak_supervision_for_ner_spark.plans.oracle import (
    oracle_annotate,
    oracle_majority_mentions,
)
from weak_supervision_for_ner_spark.plans.pipeline import (
    run_kg_pipeline,
    verify_text_identity,
)
from weak_supervision_for_ner_spark.sources.pages import make_page, synth_pages

N_DOCS = 120


@pytest.fixture(scope="module")
def pages_df(spark):
    return synth_pages(spark, N_DOCS, partitions=4).persist()


@pytest.fixture(scope="module")
def oracle_docs():
    return oracle_annotate([make_page(i)[0] for i in range(N_DOCS)])


def _mention_set(rows):
    return {(r[0], r[1], int(r[2]), int(r[3]), r[4], round(float(r[5]), 6)) for r in rows}


def test_spark_annotate_matches_oracle(spark, pages_df, oracle_docs):
    spark_mentions = mentions_from_annotated(annotate_pages(pages_df)).collect()
    got = _mention_set(
        (r["url"], r["source"], r["start"], r["end"], r["label"], r["conf"])
        for r in spark_mentions
    )
    want = _mention_set(
        (d["url"], src, s, e, lab, conf)
        for d in oracle_docs
        for (src, s, e, lab, conf) in d["spans"]
    )
    assert got == want


def test_partition_count_invariance(spark):
    a = mentions_from_annotated(annotate_pages(synth_pages(spark, 60, partitions=1))).collect()
    b = mentions_from_annotated(annotate_pages(synth_pages(spark, 60, partitions=7))).collect()
    key = lambda r: (r["url"], r["source"], r["start"], r["end"], r["label"])
    assert sorted(map(key, a)) == sorted(map(key, b))


def test_majority_voter_matches_oracle(spark, pages_df, oracle_docs):
    got = _mention_set(
        (r["url"], r["source"], r["start"], r["end"], r["label"], r["conf"])
        for r in majority_voter_mentions(annotate_pages(pages_df)).collect()
    )
    want = _mention_set(oracle_majority_mentions(oracle_docs))
    assert got == want


def test_text_extraction_byte_identical(spark, pages_df):
    assert verify_text_identity(pages_df) == 0


def test_kg_pipeline_triples_pr_vs_oracle(spark, pages_df, oracle_docs):
    _, _, graph = run_kg_pipeline(spark, pages_df, aggregator="majority")
    got = {
        (r["subj"], r["pred"], r["obj"], r["url"])
        for r in graph.select("subj", "pred", "obj", "url").collect()
    }
    by_url: dict[str, list] = {}
    for (url, _src, s, e, lab, conf, _txt) in oracle_majority_mentions(oracle_docs):
        by_url.setdefault(url, []).append((s, e, lab, conf))
    want = {
        (t[0], t[2], t[3], t[5])
        for d in oracle_docs
        for t in extract_triples_from_doc(d["url"], d["tokens"], by_url.get(d["url"], []))
    }
    assert want, "oracle should produce triples on the synthetic corpus"
    tp = len(got & want)
    precision = tp / max(len(got), 1)
    recall = tp / max(len(want), 1)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall, len(got), len(want))


def test_graph_has_linked_and_canonical_ids(spark, pages_df):
    _, _, graph = run_kg_pipeline(spark, pages_df, aggregator="majority")
    rows = graph.collect()
    assert rows
    assert all(r["subj_id"] and r["obj_id"] for r in rows)
    assert any(r["subj_id"].startswith("kb:") for r in rows), "entity linking should hit the KB"


def test_hmm_spark_fit_and_decode(spark, tmp_path):
    from weak_supervision_for_ner_spark.operators.hmm import HMMAggregator
    from weak_supervision_for_ner_spark.plans.oracle import (
        oracle_hmm_fit,
        oracle_hmm_mentions,
    )

    pages = synth_pages(spark, 60, partitions=3)
    annotated = annotate_pages(pages).persist()
    model = HMMAggregator(n_iter=2)
    model.fit_spark(spark, annotated, checkpoint_dir=str(tmp_path / "ckpt"))

    oracle_docs = oracle_annotate([make_page(i)[0] for i in range(60)])
    oracle_model = oracle_hmm_fit(oracle_docs, n_iter=2)

    # identical seeded init + identical corpus stats => identical history
    assert len(model.history) == len(oracle_model.history)
    for a, b in zip(model.history, oracle_model.history):
        assert a == pytest.approx(b, rel=1e-9)

    got = _mention_set(
        (r["url"], r["source"], r["start"], r["end"], r["label"], r["conf"])
        for r in model.decode_spark(spark, annotated).collect()
    )
    want = _mention_set(oracle_hmm_mentions(oracle_model, oracle_docs))
    assert got == want

    # resume from checkpoint: skips completed iterations, same params
    model2 = HMMAggregator(n_iter=2)
    model2.fit_spark(spark, annotated, checkpoint_dir=str(tmp_path / "ckpt"), resume=True)
    import numpy as np

    assert np.allclose(model2.emission_probs, model.emission_probs)


def test_hmm_tree_level_matches_flat_collect(spark, monkeypatch):
    """E-step stats AND the one-time prior-count pass summed through
    the tree-combine level at 256 partitions must reproduce the
    flat-collect fit (same prior matrices, same logprob history up to
    float summation order, same parameters)."""
    import numpy as np

    from weak_supervision_for_ner_spark.operators import partials
    from weak_supervision_for_ner_spark.operators.hmm import HMMAggregator

    pages = synth_pages(spark, 60, partitions=3)
    annotated = annotate_pages(pages).persist()

    flat = HMMAggregator(n_iter=2)
    flat.fit_spark(spark, annotated)

    # the test session is below the tree-level threshold: lower it
    monkeypatch.setattr(partials, "TREE_MIN_PARALLELISM", 1)
    wide = HMMAggregator(n_iter=2)
    wide.fit_spark(spark, annotated.repartition(256))

    # prior-count pass parity (flat driver sum vs tree-combined)
    assert np.allclose(flat.startprob_prior, wide.startprob_prior)
    assert np.allclose(flat.transmat_prior, wide.transmat_prior)
    assert np.allclose(flat.emission_priors, wide.emission_priors)
    assert len(flat.history) == len(wide.history)
    for a, b in zip(flat.history, wide.history):
        assert a == pytest.approx(b, rel=1e-9)
    assert np.allclose(flat.emission_probs, wide.emission_probs)
    assert np.allclose(flat.transmat_, wide.transmat_)
    annotated.unpersist()


def test_pipeline_fused_reuse_matches_direct(spark, tmp_path):
    """mentions_consumed=True, once per aggregator (a majority run
    re-votes the persisted annotated rows, so labelling runs once
    end-to-end; an HMM run takes the same path as without it), gives the
    identical graph and mentions; lineage records LSH-drop and
    CC-convergence counters so truncation is never silent."""
    import json

    def rows(frame):
        return sorted(map(tuple, frame.select(*sorted(frame.columns)).collect()))

    pages = synth_pages(spark, 80, partitions=3).persist()
    for aggregator in ("majority", "hmm"):
        _, m_direct, g_direct = run_kg_pipeline(spark, pages, aggregator=aggregator)
        lineage_path = str(tmp_path / f"lineage_{aggregator}.json")
        _, m_fused, g_fused = run_kg_pipeline(
            spark, pages, aggregator=aggregator,
            mentions_consumed=True, lineage_path=lineage_path,
        )
        direct = rows(g_direct)
        assert direct and rows(g_fused) == direct, aggregator
        assert rows(m_fused) == rows(m_direct), aggregator

        with open(lineage_path) as fd:
            records = {r["stage"]: r for r in json.load(fd)}
        graph_rec = records["graph"]
        assert "dropped_buckets" in graph_rec and "unconverged_labels" in graph_rec
        assert graph_rec["unconverged_labels"] == 0


def test_cli_job_writes_graph_and_json_mentions(spark, tmp_path, monkeypatch):
    """The spark-submit entry point end-to-end in-process: graph
    parquet + mentions parquet + the convert_to_json sink."""
    import sys

    from jobs.run_pipeline import main

    out = tmp_path / "graph"
    ments = tmp_path / "mentions"
    mjson = tmp_path / "mentions_json"
    monkeypatch.setattr(sys, "argv", [
        "run_pipeline.py", "--input", "synth:40", "--output", str(out),
        "--mentions-out", str(ments), "--mentions-json", str(mjson),
        "--lineage", str(tmp_path / "lineage.json"),
    ])
    main()
    assert spark.read.parquet(str(out)).count() > 0
    assert spark.read.parquet(str(ments)).count() > 0
    json_rows = spark.read.json(str(mjson))
    assert json_rows.count() > 0
    assert {"url", "source", "start", "end", "label", "conf"} <= set(json_rows.columns)


def test_hmm_fused_triples_match_decoded_mentions(spark):
    """extract_triples_hmm_fused (decode + SVO in one Arrow stage, no
    mentions join) must produce the triples that the driver-side
    extract_triples_from_doc gives over each document's decode_spark
    mentions."""
    from weak_supervision_for_ner_spark.operators.hmm import HMMAggregator
    from weak_supervision_for_ner_spark.operators.triples import extract_triples_hmm_fused

    pages = synth_pages(spark, 80, partitions=3)
    annotated = annotate_pages(pages).persist()
    model = HMMAggregator(n_iter=2)
    model.fit_spark(spark, annotated)

    by_url: dict[str, list] = {}
    for r in model.decode_spark(spark, annotated).collect():
        by_url.setdefault(r["url"], []).append((r["start"], r["end"], r["label"], r["conf"]))
    want = sorted(
        t
        for r in annotated.select("url", "tokens").collect()
        for t in extract_triples_from_doc(r["url"], r["tokens"], sorted(by_url.get(r["url"], [])))
    )
    fused = extract_triples_hmm_fused(annotated, model)
    got = sorted(map(tuple, fused.collect()))
    assert got == want and got
    # and the fused plan really has no join
    assert "Join" not in fused._jdf.queryExecution().executedPlan().toString()
    annotated.unpersist()


def test_graph_only_majority_extraction_is_one_stage(spark, tmp_path):
    """On the graph-only majority path everything between the scan and
    entity linking (annotate → vote → correct → SVO, then the KB map
    lookup) is ONE MapInPandas node, with no join."""
    from weak_supervision_for_ner_spark.operators.textstats import (
        collect_form_frequency_dict,
    )
    from weak_supervision_for_ner_spark.operators.triples import (
        extract_triples_direct,
        link_entities,
    )

    path = str(tmp_path / "pages")
    synth_pages(spark, 20, partitions=2).write.parquet(path)
    pages = spark.read.parquet(path)
    freqs = collect_form_frequency_dict(pages.filter("lang = 'en'"))
    raw = extract_triples_direct(pages, form_freqs=freqs, correct=True)
    plan = link_entities(spark, raw)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert "Join" not in plan, plan


def test_decodes_plan_one_mentions_stage(spark, jobs_launched):
    """The three aggregator decodes (majority vote, HMM Viterbi,
    label-model posterior) share one mentions stage: over a persisted
    annotated frame each plans exactly one MapInPandas and no join, and
    building it launches no Spark job."""
    from weak_supervision_for_ner_spark.operators.hmm import HMMAggregator
    from weak_supervision_for_ner_spark.operators.labelmodel import LabelModelAggregator

    annotated = annotate_pages(synth_pages(spark, 40, partitions=2)).persist()
    annotated.count()
    hmm = HMMAggregator(n_iter=1)
    hmm.fit_spark(spark, annotated)
    snorkel = LabelModelAggregator(n_iter=1)
    snorkel.fit_spark(spark, annotated)

    decodes = {}
    jobs = jobs_launched("decode-plans", lambda: decodes.update(
        majority=majority_voter_mentions(annotated),
        hmm=hmm.decode_spark(spark, annotated),
        snorkel=snorkel.decode_spark(spark, annotated),
    ))
    assert jobs == []
    for name, frame in decodes.items():
        plan = frame._jdf.queryExecution().executedPlan().toString()
        # the text below InMemoryRelation is the cached annotate stage
        above_cache, _, _ = plan.partition("InMemoryRelation")
        assert "InMemoryTableScan" in above_cache, (name, plan)
        assert above_cache.count("MapInPandas") == 1, (name, plan)
        assert "Join" not in plan, (name, plan)
    annotated.unpersist()


def _biluo_tags(n_tokens: int, mentions) -> list[str]:
    tags = ["O"] * n_tokens
    for s, e, lab, _conf in sorted(mentions):
        for i in range(s, e):
            pos = "U" if e == s + 1 else "B" if i == s else "L" if i == e - 1 else "I"
            tags[i] = f"{pos}-{lab}"
    return tags


def test_documents_sharing_a_url_keep_their_own_layers(spark):
    """Two annotated rows with one url (a re-crawled page) each get the
    corrected mentions and the distillation tags of their own tokens and
    spans: the rows equal the per-document kernel over each document,
    and no document receives the other's mentions."""
    from weak_supervision_for_ner_spark.operators.distill import distillation_examples
    from weak_supervision_for_ner_spark.operators.triples import doc_mentions, majority_labeller
    from weak_supervision_for_ner_spark.schema import ANNOTATED_SCHEMA

    pages = [dict(make_page(i)[0], url="https://dup.example/a") for i in (3, 4)]
    docs = oracle_annotate(pages)
    annotated = spark.createDataFrame(
        [(d["url"], d["tokens"], d["spans"]) for d in docs], ANNOTATED_SCHEMA
    ).repartition(1)
    label = majority_labeller()

    got = sorted(
        (r["url"], r["start"], r["end"], r["label"], r["conf"], r["text"])
        for r in majority_voter_mentions(annotated, correct=True).collect()
    )
    want = sorted(
        (d["url"], s, e, lab, conf, " ".join(d["tokens"][s:e]))
        for d in docs
        for (s, e, lab, conf) in doc_mentions(d["tokens"], d["spans"], label, correct=True)
    )
    assert got == want and len({m[1:4] for m in want}) == len(want)

    got_tags = sorted(
        (r["url"], tuple(r["tags"]))
        for r in distillation_examples(annotated, label, {}).collect()
    )
    want_tags = sorted(
        (d["url"], tuple(_biluo_tags(len(d["tokens"]),
                                     doc_mentions(d["tokens"], d["spans"], label))))
        for d in docs
    )
    assert got_tags == want_tags
    assert got_tags[0][1] != got_tags[1][1]


def test_corrected_mentions_and_examples_decode_in_place(spark, jobs_launched):
    """Over a persisted annotated table, the corrected majority mentions
    and the distillation examples are one narrow stage each: no Join and
    no Exchange in the executed plan, one job of one stage to compute
    the rows, and a count() costs what counting the table itself does
    (AQE runs count's single-partition aggregate as a job of its own)."""
    from weak_supervision_for_ner_spark.operators.distill import distillation_examples
    from weak_supervision_for_ner_spark.operators.triples import majority_labeller

    annotated = annotate_pages(synth_pages(spark, 40, partitions=2)).persist()
    annotated.count()
    table_count_jobs = jobs_launched("annotated-count", annotated.count)
    frames = {
        "corrected": majority_voter_mentions(annotated, correct=True),
        "examples": distillation_examples(annotated, majority_labeller(), {}),
    }
    sc = spark.sparkContext
    for name, frame in frames.items():
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan and "Exchange" not in plan, (name, plan)
        jobs = jobs_launched(f"{name}-collect", frame.collect)
        assert len(jobs) == 1, name
        assert len(sc.statusTracker().getJobInfo(jobs[0]).stageIds) == 1, name
        assert len(jobs_launched(f"{name}-count", frame.count)) == len(table_count_jobs), name
    annotated.unpersist()


def test_cli_truecase_and_correction_are_flagship_defaults(spark, tmp_path, monkeypatch):
    """The reference truecases <=25-token docs during parsing and
    repairs entities after every annotation BY DEFAULT — so must the
    CLI: an ALL-CAPS headline page yields its triple through the stock
    CLI invocation, and --no-truecase loses it."""
    import sys

    from jobs.run_pipeline import main

    pages = synth_pages(spark, 60, partitions=2).select("url", "text", "lang")
    extra = spark.createDataFrame(
        [("https://caps.example.com/h1",
          "REPORT : CYBERDYNE SYSTEMS ACQUIRED INITECH", "en")],
        "url string, text string, lang string",
    )
    inp = tmp_path / "pages"
    pages.unionByName(extra).write.parquet(str(inp))

    def run(*flags):
        out = tmp_path / ("graph" + str(len(flags)))
        monkeypatch.setattr(sys, "argv", [
            "run_pipeline.py", "--input", str(inp), "--output", str(out), *flags,
        ])
        main()
        return spark.read.parquet(str(out))

    stock = run()
    hit = stock.filter("url = 'https://caps.example.com/h1'").collect()
    assert [(r["subj"], r["pred"], r["obj"]) for r in hit] == [
        ("Cyberdyne Systems", "acquired", "Initech")
    ]
    no_tc = run("--no-truecase")
    assert no_tc.filter("url = 'https://caps.example.com/h1'").count() == 0


def test_canonicalize_driver_and_distributed_paths_agree(spark, pages_df):
    """The driver-side union-find strategy (small unlinked sets) and
    the distributed LSH+CC path must assign identical canonical ids."""
    from weak_supervision_for_ner_spark.operators.triples import (
        canonicalize_triples,
        extract_triples_direct,
        link_entities,
        materialize_graph,
    )

    linked = link_entities(spark, extract_triples_direct(pages_df)).persist()
    local = materialize_graph(canonicalize_triples(spark, linked))
    dist = materialize_graph(canonicalize_triples(spark, linked, driver_threshold=0))
    cols = sorted(local.columns)
    a = sorted(map(tuple, local.select(*cols).collect()))
    b = sorted(map(tuple, dist.select(*cols).collect()))
    assert a == b and a
    linked.unpersist()


def test_canonicalize_long_lsh_chain_is_one_entity(spark):
    """A chain of names, each at most one character away from the one
    before (12 distinct names), is one LSH component on both strategies.
    A fixed 3-round budget on the distributed path split it into 3
    canonical ids."""
    import random
    import string

    from weak_supervision_for_ner_spark.operators.triples import (
        canonicalize_triples,
        link_entities,
    )
    from weak_supervision_for_ner_spark.schema import TRIPLES_SCHEMA

    rng = random.Random(7)
    name = [rng.choice(string.ascii_lowercase) for _ in range(40)]
    names = ["".join(name)]
    positions = list(range(1, 40, 3))
    rng.shuffle(positions)
    for pos in positions[:12]:
        name[pos] = rng.choice(string.ascii_lowercase)
        names.append("".join(name))
    triples = spark.createDataFrame(
        [(a, "COMPANY", "acquired", b, "COMPANY", f"https://chain.example/{i}", 0.9)
         for i, (a, b) in enumerate(zip(names, names[1:]))],
        TRIPLES_SCHEMA,
    )
    linked = link_entities(spark, triples).persist()
    for threshold in (0, 100_000):
        stats = {}
        out = canonicalize_triples(spark, linked, stats=stats,
                                   driver_threshold=threshold)
        ids = {i for r in out.select("subj_id", "obj_id").collect() for i in r}
        assert ids == {"ent:" + min(names)}, (threshold, ids)
        assert stats["unconverged_labels"] == 0
    linked.unpersist()


def test_metrics_without_lineage_is_rejected(monkeypatch, capsys, tmp_path):
    """Per-partition metrics are written only to the lineage file:
    asking for them without one is an error, not a thrown-away job."""
    import sys

    from jobs.run_pipeline import main

    with pytest.raises(ValueError, match="lineage_path"):
        run_kg_pipeline(None, None, with_metrics=True)
    monkeypatch.setattr(sys, "argv", [
        "run_pipeline.py", "--input", "synth:4", "--output", str(tmp_path / "graph"),
        "--metrics",
    ])
    with pytest.raises(SystemExit) as exc:
        main()
    assert exc.value.code == 2
    assert "--lineage" in capsys.readouterr().err


def test_metrics_run_counts_every_partition(spark, tmp_path):
    """run_kg_pipeline(with_metrics=True) writes one annotate_partition
    record per partition of the annotated table, whose counters sum to
    the table's totals, and builds the graph a plain run builds."""
    import json

    from pyspark.sql import functions as F

    pages = synth_pages(spark, 40, partitions=3).persist()
    lineage = tmp_path / "lineage.json"
    annotated, mentions, graph = run_kg_pipeline(
        spark, pages, lineage_path=str(lineage), with_metrics=True
    )
    got = sorted(map(tuple, graph.collect()))
    records = [r for r in json.loads(lineage.read_text()) if r["stage"] == "annotate_partition"]
    assert sorted(r["partition"] for r in records) == list(
        range(annotated.rdd.getNumPartitions())
    )
    totals = annotated.agg(
        F.count(F.lit(1)), F.sum(F.size("tokens")), F.sum(F.size("spans"))
    ).first()
    for i, key in enumerate(("n_docs", "n_tokens", "n_spans")):
        assert sum(r[key] for r in records) == totals[i] > 0, key

    plain_annotated, plain_mentions, plain = run_kg_pipeline(spark, pages)
    assert got == sorted(map(tuple, plain.collect())) and got
    for frame in (annotated, mentions, plain_annotated, plain_mentions, pages):
        frame.unpersist()


def test_metrics_run_writes_lineage_independent_of_partition_count(
    spark, tmp_path, monkeypatch
):
    """The lineage file is rewritten once per stage, not once per
    partition record: a metrics run writes it as often on 6 partitions
    as on 2."""
    import json

    from weak_supervision_for_ner_spark.plans import pipeline

    writes = []
    dump = json.dump

    def counting_dump(obj, fd, *args, **kwargs):
        writes.append(fd.name)
        return dump(obj, fd, *args, **kwargs)

    monkeypatch.setattr(pipeline.json, "dump", counting_dump)
    counts = {}
    for n_parts in (2, 6):
        lineage = tmp_path / f"lineage_{n_parts}.json"
        annotated, mentions, graph = run_kg_pipeline(
            spark, synth_pages(spark, 12, partitions=n_parts),
            lineage_path=str(lineage), with_metrics=True,
        )
        records = json.loads(lineage.read_text())
        assert sum(r["stage"] == "annotate_partition" for r in records) == n_parts
        counts[n_parts] = writes.count(str(lineage))
        annotated.unpersist()
        mentions.unpersist()
    assert counts[6] == counts[2]


def test_salted_mentions_write_balances_hot_domain(spark, tmp_path):
    """SURVEY §4 hot-domain skew: 95% of mentions from ONE domain must
    still spread evenly across the sink's writers because the rebalance
    hashes the full url, not the domain. With a small advisory size AQE
    splits the write into many tasks; balanced = at least 8 files, each
    within 3x the mean row count (a domain-partitioned write would put
    95% in one file)."""
    from pyspark.sql import functions as F

    from weak_supervision_for_ner_spark.operators.annotate import write_mentions

    hot = spark.range(1900).selectExpr(
        "concat('https://hot.example.com/page/', id) AS url",
        "'src' AS source", "0 AS start", "1 AS end",
        "'ORG' AS label", "1.0 AS conf", "'x' AS text",
    )
    cold = spark.range(100).selectExpr(
        "concat('https://site', id, '.example.net/p') AS url",
        "'src' AS source", "0 AS start", "1 AS end",
        "'ORG' AS label", "1.0 AS conf", "'x' AS text",
    )
    out = str(tmp_path / "mentions_skew")
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    previous = spark.conf.get(key)
    spark.conf.set(key, "1k")
    try:
        write_mentions(hot.unionAll(cold), out)
    finally:
        spark.conf.set(key, previous)

    per_file = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("f"))
        .count()
        .collect()
    )
    counts = [r["count"] for r in per_file]
    assert sum(counts) == 2000
    assert len(counts) >= 8
    assert max(counts) <= 3 * (sum(counts) / len(counts))


# What a stage_dir holds after a run: only what is costly to recompute
_STAGE_DIR_FILES = {
    "majority": ["annotated", "form_freqs.json", "pipeline_config.json"],
    "hmm": ["annotated", "form_freqs.json", "hmm", "pipeline_config.json"],
}


def test_stage_dir_resumes_mid_pipeline(spark, tmp_path):
    """Durable mid-pipeline resume (north_rule): with stage_dir set,
    committed annotated/mentions stages are REUSED by a re-run — proven
    by swapping the input for a garbage corpus and still getting the
    byte-identical graph — and the stage-durable run's graph equals the
    plain in-memory run's, mentions included."""
    import json
    import os

    def rows(frame):
        return sorted(map(tuple, frame.select(*sorted(frame.columns)).collect()))

    pages = synth_pages(spark, 80, partitions=3).persist()
    stage = str(tmp_path / "stages")
    lineage1 = str(tmp_path / "l1.json")
    _, m_plain, g_plain = run_kg_pipeline(spark, pages, aggregator="majority")
    _, m_staged, g_staged = run_kg_pipeline(
        spark, pages, aggregator="majority",
        stage_dir=stage, lineage_path=lineage1,
    )
    cols = sorted(g_plain.columns)
    plain = sorted(map(tuple, g_plain.select(*cols).collect()))
    staged = sorted(map(tuple, g_staged.select(*cols).collect()))
    assert staged == plain and staged
    assert rows(m_staged) == rows(m_plain)
    with open(lineage1) as fd:
        stages1 = [r["stage"] for r in json.load(fd)]
    assert "stage_commit_annotated" in stages1
    assert sorted(os.listdir(stage)) == _STAGE_DIR_FILES["majority"]

    # re-run over the same input: committed stages are READ, not
    # recomputed (lineage proves it), and the graph is byte-identical
    lineage2 = str(tmp_path / "l2.json")
    _, _, g_resumed = run_kg_pipeline(
        spark, pages, aggregator="majority",
        stage_dir=stage, lineage_path=lineage2,
    )
    resumed = sorted(map(tuple, g_resumed.select(*cols).collect()))
    assert resumed == plain
    with open(lineage2) as fd:
        stages2 = [r["stage"] for r in json.load(fd)]
    assert "stage_resume_annotated" in stages2
    assert "truecase_dict_resumed" in stages2

    # a DIFFERENT corpus against the same stage_dir must be rejected —
    # the input identity is part of the fingerprint; silently serving
    # the old corpus's stages would be stale-reuse under a new name
    garbage = synth_pages(spark, 5, partitions=1).selectExpr(
        "url", "warc_ts", "html", "'nothing here' AS text", "lang"
    )
    with pytest.raises(ValueError, match="stage_dir"):
        run_kg_pipeline(spark, garbage, aggregator="majority", stage_dir=stage)


def test_stage_dir_rejects_config_mismatch(spark, tmp_path):
    """A stage_dir committed under one configuration must refuse to
    resume under another (silent stale-stage reuse would return the old
    config's results under the new run's name)."""
    pages = synth_pages(spark, 30, partitions=2)
    stage = str(tmp_path / "stages_cfg")
    _, _, g = run_kg_pipeline(spark, pages, aggregator="majority", stage_dir=stage)
    g.count()
    with pytest.raises(ValueError, match="stage_dir"):
        run_kg_pipeline(spark, pages, aggregator="hmm", stage_dir=stage)
    with pytest.raises(ValueError, match="stage_dir"):
        run_kg_pipeline(spark, pages, truecase=False, stage_dir=stage)


def test_stale_registry_checkpoint_triggers_retrain(spark, tmp_path):
    """A checkpoint written under an older SOURCE_NAMES registry (wrong
    emission-tensor shape) must be skipped with a warning and the model
    retrained — not crash with an IndexError mid-fit."""
    import numpy as np

    from weak_supervision_for_ner_spark.operators.hmm import HMMAggregator

    annotated = annotate_pages(synth_pages(spark, 30, partitions=2)).persist()
    ckpt = str(tmp_path / "ckpt_stale")
    model = HMMAggregator(n_iter=1)
    model.fit_spark(spark, annotated, checkpoint_dir=ckpt)

    # corrupt the latest checkpoint into an "old registry" shape
    # (iter_0*: lexicographic iter_*.npz would pick iter_init.npz,
    # which resume reads only when no iteration was saved — corrupting
    # it tests nothing)
    import glob
    latest = sorted(glob.glob(ckpt + "/iter_0*.npz"))[-1]
    data = dict(np.load(latest))
    data["emission_probs"] = data["emission_probs"][:-1]   # one source fewer
    np.savez(latest[:-4], **data)

    resumed = HMMAggregator(n_iter=1)
    resumed.fit_spark(spark, annotated, checkpoint_dir=str(tmp_path / "other"),
                      resume=False)  # sanity: fresh fit still works
    retrained = HMMAggregator(n_iter=1)
    retrained.fit_spark(spark, annotated, checkpoint_dir=ckpt, resume=True)
    # the stale checkpoint was ignored: a full iteration ran fresh
    assert len(retrained.history) == 1
    assert retrained.emission_probs.shape == model.emission_probs.shape

    # the incompatible file was quarantined (renamed .stale), so a THIRD
    # resume picks the retrain's own valid checkpoint instead of
    # re-selecting the stale max-iteration file forever
    import glob as _glob
    assert _glob.glob(ckpt + "/iter_*.npz.stale")
    resumed2 = HMMAggregator(n_iter=1)
    resumed2.fit_spark(spark, annotated, checkpoint_dir=ckpt, resume=True)
    # resume succeeded from the retrain's checkpoint: no fresh iteration
    # was needed (start_iter = latest+1 >= n_iter -> empty loop)
    assert resumed2.emission_probs.shape == model.emission_probs.shape
    assert len(resumed2.history) == len(retrained.history)
    annotated.unpersist()


def test_cli_stage_dir_flag(spark, tmp_path, monkeypatch):
    """--stage-dir through the spark-submit entry point: first run
    commits stages, second run resumes them (lineage proves it)."""
    import json
    import os
    import sys

    from jobs.run_pipeline import main

    stage = str(tmp_path / "cli_stages")

    def run(n):
        lineage = str(tmp_path / f"cli_l{n}.json")
        monkeypatch.setattr(sys, "argv", [
            "run_pipeline.py", "--input", "synth:30",
            "--output", str(tmp_path / f"cli_graph{n}"),
            "--stage-dir", stage, "--lineage", lineage,
        ])
        main()
        with open(lineage) as fd:
            return [r["stage"] for r in json.load(fd)]

    first = run(1)
    second = run(2)
    assert "stage_commit_annotated" in first
    assert "stage_resume_annotated" in second
    assert sorted(os.listdir(stage)) == _STAGE_DIR_FILES["majority"]
    a = spark.read.parquet(str(tmp_path / "cli_graph1")).count()
    b = spark.read.parquet(str(tmp_path / "cli_graph2")).count()
    assert a == b > 0


def test_stage_dir_rejects_same_size_different_corpus(spark, tmp_path):
    """The in-memory input fingerprint must be a content hash, not a
    bare row count: two same-size corpora with different text would
    otherwise collide and silently resume each other's stages — for the
    HMM, its EM checkpoints too."""
    pages = synth_pages(spark, 30, partitions=2)
    same_size_garbage = synth_pages(spark, 30, partitions=2).selectExpr(
        "url", "warc_ts", "html", "'nothing here' AS text", "lang"
    )
    for aggregator in ("majority", "hmm"):
        stage = str(tmp_path / f"stages_same_size_{aggregator}")
        run_kg_pipeline(spark, pages, aggregator=aggregator, stage_dir=stage)
        with pytest.raises(ValueError, match="stage_dir"):
            run_kg_pipeline(spark, same_size_garbage, aggregator=aggregator,
                            stage_dir=stage)


def test_stage_dir_resumes_hmm_from_its_checkpoints(spark, tmp_path):
    """The HMM's EM checkpoints live in the stage_dir: a re-run reloads
    the finished fit (no checkpoint is rewritten), decodes the same
    mentions, and builds the same graph as the first run and as a run
    without a stage_dir."""
    import json
    import os

    pages = synth_pages(spark, 40, partitions=2).persist()
    stage = str(tmp_path / "hmm_stages")

    def rows(frame):
        return sorted(map(tuple, frame.select(*sorted(frame.columns)).collect()))

    _, m_first, g_first = run_kg_pipeline(spark, pages, aggregator="hmm", stage_dir=stage)
    first = rows(m_first), rows(g_first)
    assert first[0] and first[1]
    hmm_dir = os.path.join(stage, "hmm")
    written = {f: os.stat(os.path.join(hmm_dir, f)).st_mtime_ns for f in os.listdir(hmm_dir)}
    assert any(f.endswith(".npz") for f in written)
    assert sorted(os.listdir(stage)) == _STAGE_DIR_FILES["hmm"]

    lineage = str(tmp_path / "hmm_resume.json")
    _, m_resumed, g_resumed = run_kg_pipeline(
        spark, pages, aggregator="hmm", stage_dir=stage, lineage_path=lineage)
    assert (rows(m_resumed), rows(g_resumed)) == first
    assert {f: os.stat(os.path.join(hmm_dir, f)).st_mtime_ns
            for f in os.listdir(hmm_dir)} == written
    with open(lineage) as fd:
        stages = [r["stage"] for r in json.load(fd)]
    assert "stage_resume_annotated" in stages
    assert sorted(os.listdir(stage)) == _STAGE_DIR_FILES["hmm"]

    annotated, m_plain, g_plain = run_kg_pipeline(spark, pages, aggregator="hmm")
    assert (rows(m_plain), rows(g_plain)) == first
    annotated.unpersist()
    m_plain.unpersist()
    pages.unpersist()


# Spark jobs of one call on the corpus below when canonicalization
# persisted its input (a cached table that outlived the call): 10 and 14
# on a local[4] session; a local checkpoint saves one of them
_JOBS_WITH_CACHED_LINKED = {"majority": 10, "hmm": 14}


def test_pipeline_leaves_no_cache_behind(spark, tmp_path, jobs_launched):
    """run_kg_pipeline → write_graph, once per aggregator: after the
    caller unpersists the returned annotated and mentions frames, the
    session's CacheManager holds what it held before the call, and the
    call launches no more Spark jobs than with the cached input."""
    from weak_supervision_for_ner_spark.operators.triples import write_graph

    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    pages = synth_pages(spark, 40, partitions=2)
    for aggregator, max_jobs in _JOBS_WITH_CACHED_LINKED.items():
        def job():
            annotated, mentions, graph = run_kg_pipeline(spark, pages, aggregator=aggregator)
            write_graph(graph, str(tmp_path / f"graph_{aggregator}"))
            annotated.unpersist()
            mentions.unpersist()

        jobs = jobs_launched(f"no-cache-{aggregator}", job)
        assert cache.numCachedEntries() == before, aggregator
        assert 0 < len(jobs) <= max_jobs, (aggregator, jobs)


# Spark jobs of one stage_dir call on the corpus below when the decoded
# mentions were committed to the stage_dir too (and, for the HMM, joined
# back for triple extraction): 15 and 21 on a local[4] session
_JOBS_WITH_COMMITTED_MENTIONS = {"majority": 15, "hmm": 21}


def test_stage_dir_run_commits_no_mentions(spark, tmp_path, jobs_launched):
    """run_kg_pipeline(stage_dir=…) → write_graph, once per aggregator:
    the stage_dir gets only what is costly to recompute, and the call
    launches fewer Spark jobs than when it also committed the mentions."""
    import os

    from weak_supervision_for_ner_spark.operators.triples import write_graph

    pages = synth_pages(spark, 40, partitions=2)
    for aggregator, parent_jobs in _JOBS_WITH_COMMITTED_MENTIONS.items():
        stage = str(tmp_path / f"stages_{aggregator}")

        def job():
            annotated, mentions, graph = run_kg_pipeline(
                spark, pages, aggregator=aggregator, stage_dir=stage)
            write_graph(graph, str(tmp_path / f"graph_{aggregator}"))
            annotated.unpersist()
            mentions.unpersist()

        jobs = jobs_launched(f"stage-dir-{aggregator}", job)
        assert 0 < len(jobs) < parent_jobs, (aggregator, jobs)
        assert sorted(os.listdir(stage)) == _STAGE_DIR_FILES[aggregator]


def test_unknown_aggregator_is_rejected(spark, tmp_path, jobs_launched):
    """A misspelt aggregator raises before any Spark job and before the
    stage_dir fingerprint is written; it never runs the majority vote."""
    import os

    pages = synth_pages(spark, 4, partitions=1)
    stage = str(tmp_path / "stages_typo")

    def job():
        with pytest.raises(ValueError, match="'majority' or 'hmm'"):
            run_kg_pipeline(spark, pages, aggregator="HMM", stage_dir=stage)

    assert jobs_launched("unknown-aggregator", job) == []
    assert not os.path.exists(os.path.join(stage, "pipeline_config.json"))
