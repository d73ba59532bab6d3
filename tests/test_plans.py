"""Physical-plan audits: the scale claims must be visible in the plan
(SURVEY.md §4) — column pruning, predicate pushdown, broadcast joins."""

import pytest


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    from weak_supervision_for_ner_spark.sources.pages import synth_pages

    path = str(tmp_path_factory.mktemp("pages_pq"))
    synth_pages(spark, 80).write.mode("overwrite").parquet(path)
    return path


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_annotate_scan_prunes_html_and_pushes_lang_filter(spark, pages_parquet):
    from weak_supervision_for_ner_spark.operators.annotate import annotate_pages
    from weak_supervision_for_ner_spark.schema import ANNOTATED_SCHEMA

    annotated = annotate_pages(spark.read.parquet(pages_parquet))
    assert annotated.schema == ANNOTATED_SCHEMA
    plan = _plan(annotated)
    scan = [l for l in plan.splitlines() if "FileScan" in l]
    assert scan, plan
    read_schema = scan[0].split("ReadSchema:")[1]
    assert "html" not in read_schema and "warc_ts" not in read_schema
    assert "EqualTo(lang,en)" in scan[0]


def test_relational_query_pushdown(spark):
    import __spark_entry__ as e

    plan = _plan(e.q_scan_filter_project(spark, "/root/testdata/sf0.001"))
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert "GreaterThan(l_quantity,45" in scan
    # projection pruned to the 4 referenced columns
    read_schema = scan.split("ReadSchema:")[1]
    for col in ("l_extendedprice", "l_shipdate", "l_discount"):
        assert col not in read_schema


def test_join_equi_uses_broadcast_for_dim(spark):
    import __spark_entry__ as e

    plan = _plan(e.q_join_equi(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan


def test_whole_stage_codegen_present(spark):
    import __spark_entry__ as e

    df = e.q_agg_rollup(spark, "/root/testdata/sf0.001")
    df.collect()  # AQE finalizes the physical plan only on execution
    plan = _plan(df)
    # "*(n)" is the WholeStageCodegen marker in the plan string; also
    # assert the map-side partial aggregation and AQE coalescing.
    assert "*(" in plan
    assert "partial_sum" in plan
    assert "AQEShuffleRead coalesced" in plan
