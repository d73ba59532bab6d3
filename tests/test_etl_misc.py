"""Gazetteer ETL pipelines, truecasing, pipeline metrics."""

import pytest
from pyspark.sql import functions as F


def test_compile_gazetteer_table(spark):
    from weak_supervision_for_ner_spark.sources.gazetteer import compile_gazetteer_table

    raw = spark.createDataFrame(
        [("Acme Corp (USA)", "COMPANY"), ("Acme Corp, Inc", "COMPANY"),
         ("12345", "COMPANY"), ("ab", "COMPANY"), ("the", "COMPANY"),
         ("Oslo", "GPE")],
        "name string, ne_class string",
    )
    high_freq = spark.createDataFrame([("the",), ("and",)], "word string")
    got = {(r["name"], r["ne_class"]) for r in
           compile_gazetteer_table(raw, high_freq).collect()}
    # parenthesis/apposition stripped + merged; digits and short/frequent dropped
    assert got == {("Acme Corp", "COMPANY"), ("Oslo", "GPE")}


def test_expand_company_names(spark):
    from weak_supervision_for_ner_spark.sources.gazetteer import expand_company_names

    gaz = spark.createDataFrame(
        [("Nordea Bank AB",), ("Telenor Group",)], "name string"
    )
    names = {r["name"] for r in expand_company_names(gaz).collect()}
    assert "Nordea Bank AB" in names
    assert "Nordea Bank" in names      # legal suffix stripped
    assert "Nordea" in names           # generic token stripped (fixpoint)
    assert "Telenor" in names


def test_compile_crunchbase_table(spark):
    from weak_supervision_for_ner_spark.sources.gazetteer import compile_crunchbase_table

    orgs = spark.createDataFrame(
        [("Acme Corp", "company"), ("Seq Cap", "investor"), ("MIT", "university")],
        "name string, org_type string",
    )
    people = spark.createDataFrame(
        [("Mary Jane", "Smith"), ("John", "Olsen")],
        "first_name string, last_name string",
    )
    rows = {(r["name"], r["ne_class"])
            for r in compile_crunchbase_table(orgs, people).collect()}
    assert ("Acme Corp", "COMPANY") in rows and ("Seq Cap", "COMPANY") in rows
    assert ("MIT", "ORG") in rows
    # spaced first name: all five reference variants (annotations.py:1608-1615)
    for v in ["Mary Jane Smith", "M. Smith", "Mary Smith", "Mary J. Smith", "M. J. Smith"]:
        assert (v, "PERSON") in rows
    assert ("John Olsen", "PERSON") in rows and ("J. Olsen", "PERSON") in rows
    assert ("John Smith", "PERSON") not in rows


def test_compile_product_table(spark):
    from weak_supervision_for_ner_spark.sources.gazetteer import compile_product_table

    prods = spark.createDataFrame(
        [("IPad",), ("Consoles",), ("Gizmo Pro",), ("Croc (reptile)",),
         ("Red Hot Widget",)],
        "name string",
    )
    rows = {r["name"] for r in compile_product_table(prods).collect()}
    # iPad-case variant + plurals driven by the ORIGINAL name's ending
    assert {"IPad", "iPad", "IPads", "iPads"} <= rows
    assert {"Consoles", "Consoleses"} <= rows          # reference-faithful
    assert {"Gizmo Pro", "Gizmo Pros"} <= rows
    assert "Croc (reptile)" not in rows                # parenthesis filter
    assert "Red Hot Widget" in rows and "Red Hot Widgets" not in rows  # >2 words


def test_truecase_tokens():
    from weak_supervision_for_ner_spark.functions.truecase import truecase_tokens

    freqs = {
        "oslo": {"Oslo": 95, "OSLO": 5},
        "the": {"the": 60, "THE": 40},
    }
    # sentence-initial tokens are never rewritten (spacy_wrapper.py:201)
    assert truecase_tokens(["OSLO"], [True], freqs) == ["OSLO"]
    # improbable casing (share < min_prob) fixed to the majority form
    assert truecase_tokens(
        ["In", "OSLO"], [True, False], freqs
    ) == ["In", "Oslo"]
    # observed share >= min_prob left alone
    assert truecase_tokens(["In", "THE"], [True, False], freqs) == ["In", "THE"]
    # long docs pass through
    long_doc = ["OSLO"] * 30
    assert truecase_tokens(long_doc, [False] * 30, freqs) == long_doc


def test_stage_metrics_counts_quarantined(spark):
    from weak_supervision_for_ner_spark.operators.annotate import annotate_pages
    from weak_supervision_for_ner_spark.plans.pipeline import stage_metrics
    from weak_supervision_for_ner_spark.sources.pages import synth_pages

    annotated = annotate_pages(synth_pages(spark, 50, partitions=3))
    rows = stage_metrics(annotated).collect()
    assert sum(r["n_docs"] for r in rows) > 0
    assert sum(r["n_spans"] for r in rows) > 0
    assert all(r["n_quarantined"] == 0 for r in rows)


def test_annotate_batch_error_isolation(monkeypatch):
    import weak_supervision_for_ner_spark.operators.annotate as ann

    def boom(doc, gaz, first_names):
        raise RuntimeError("boom")

    monkeypatch.setattr(ann, "annotate_document", boom)
    ann._RESOURCES = None
    import pandas as pd

    out = ann.annotate_batch(pd.Series(["Oslo is nice", ""]))
    assert out[0][0] == ["Oslo", "is", "nice"] and out[0][1] == []
    assert out[1] == ([], [])


def test_get_spark_default_cores_follow_affinity(monkeypatch):
    """With SPARK_GRAFT_CPUS unset, get_spark sizes local mode to the
    cores this process may run on instead of a fixed count."""
    import os

    from weak_supervision_for_ner_spark import config

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert config._default_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert config._default_cores() == 3
