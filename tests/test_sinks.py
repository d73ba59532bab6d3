"""Format-pluggable sink seam (SURVEY.md §1.3): parquet fallback is
fully functional; the iceberg path needs a catalog this sandbox lacks
and must fail with an actionable message, not a bare stack trace."""

import pytest

from pyspark.sql import functions as F


def _graph_rows(spark, n=200):
    return spark.range(n).selectExpr(
        "concat('Acme', id) AS subj", "'ORG' AS subj_type",
        "CASE WHEN id % 2 = 0 THEN 'acquired' ELSE 'born_in' END AS pred",
        "concat('Obj', id) AS obj", "'ORG' AS obj_type",
        "concat('https://x.example.com/', id) AS url", "1.0 AS conf",
        "concat('ent:', id) AS subj_id", "concat('kb:', id) AS obj_id",
    )


def test_parquet_sink_roundtrip_partitioned(spark, tmp_path):
    from weak_supervision_for_ner_spark.sinks import write_table

    df = _graph_rows(spark)
    out = str(tmp_path / "graph")
    write_table(df, out, fmt="parquet", partition_by=("pred",), bucket_col="url")

    back = spark.read.parquet(out)
    assert back.count() == 200
    assert sorted(back.columns) == sorted(df.columns)
    # pred landed as a directory partition -> partition pruning works
    pruned = back.filter(F.col("pred") == "acquired")
    files = {r[0] for r in pruned.select(F.input_file_name()).distinct().collect()}
    assert files and all("pred=acquired" in f for f in files)


def test_write_graph_default_is_parquet(spark, tmp_path):
    from weak_supervision_for_ner_spark.operators.triples import write_graph

    out = str(tmp_path / "g2")
    write_graph(_graph_rows(spark, 50), out)
    assert spark.read.parquet(out).count() == 50


def _part_files(root):
    return sorted(p for p in root.rglob("part-*") if p.suffix == ".parquet")


def test_small_graph_writes_one_file_per_pred(spark, tmp_path):
    """At the session defaults AQE coalesces the rebalance to one writer
    task, so a small graph writes exactly one part file per pred — not a
    fixed bucket count per pred."""
    from weak_supervision_for_ner_spark.operators.triples import write_graph

    out = tmp_path / "g_small"
    write_graph(_graph_rows(spark, 200), str(out))
    files = _part_files(out)
    assert [f.parent.name for f in files] == ["pred=acquired", "pred=born_in"]


def test_single_hot_url_spans_several_writers(spark, tmp_path):
    """One url carrying every row: the rebalance may split it across
    writers once it outgrows the advisory size, where a hash
    repartition on the url always funnels it through one task."""
    from weak_supervision_for_ner_spark.sinks import write_table

    df = spark.range(0, 2000, 1, 4).selectExpr(
        "'https://hot.example.com/one' AS url", "'acquired' AS pred", "id",
    )
    out = tmp_path / "hot_url"
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    previous = spark.conf.get(key)
    spark.conf.set(key, "512")
    try:
        write_table(df, str(out), partition_by=("pred",), bucket_col="url")
    finally:
        spark.conf.set(key, previous)
    assert spark.read.parquet(str(out)).count() == 2000
    assert len(_part_files(out)) > 1


def test_iceberg_without_catalog_fails_actionably(spark, tmp_path):
    from weak_supervision_for_ner_spark.sinks import write_table

    with pytest.raises(RuntimeError, match="[Ii]ceberg catalog"):
        write_table(_graph_rows(spark, 5), "noscatalog.db.graph", fmt="iceberg")


class _WriterStub:
    """Records the DataFrameWriterV2 calls write_table makes, standing
    in for an Iceberg catalog (none ships in this sandbox; Spark's
    InMemoryTableCatalog is test-jar-only — checked)."""

    def __init__(self, calls):
        self.calls = calls

    def overwritePartitions(self):
        self.calls.append(("overwritePartitions",))

    def partitionedBy(self, *cols):
        self.calls.append(("partitionedBy", tuple(str(c) for c in cols)))
        return self

    def create(self):
        self.calls.append(("create",))


def test_iceberg_branch_existing_table_overwrites_partitions(spark, monkeypatch):
    """write_table(fmt='iceberg') on an EXISTING catalog table must go
    through writeTo(target).overwritePartitions() — the idempotent
    re-run shape where only the partitions present in df are replaced."""
    from weak_supervision_for_ner_spark.sinks import write_table

    df = _graph_rows(spark, 5)
    calls = []
    monkeypatch.setattr(spark.catalog, "tableExists", lambda t: True)
    # patch the CONCRETE class: Spark 4's classic DataFrame subclass
    # overrides writeTo, so patching the pyspark.sql.DataFrame base
    # would leave the real method in place
    monkeypatch.setattr(type(df), "writeTo",
                        lambda self, t: calls.append(("writeTo", t)) or _WriterStub(calls))
    write_table(df, "cat.db.graph", fmt="iceberg",
                partition_by=("pred",), bucket_col="url")
    assert calls == [("writeTo", "cat.db.graph"), ("overwritePartitions",)]


def test_iceberg_branch_new_table_creates_partitioned(spark, monkeypatch):
    """write_table(fmt='iceberg') on a MISSING table must create it
    with the documented identity partitioning (pred for the graph)."""
    from weak_supervision_for_ner_spark.sinks import write_table

    df = _graph_rows(spark, 5)
    calls = []
    monkeypatch.setattr(spark.catalog, "tableExists", lambda t: False)
    monkeypatch.setattr(type(df), "writeTo",
                        lambda self, t: calls.append(("writeTo", t)) or _WriterStub(calls))
    write_table(df, "cat.db.graph", fmt="iceberg",
                partition_by=("pred",), bucket_col="url")
    assert calls[0] == ("writeTo", "cat.db.graph")
    assert calls[1][0] == "partitionedBy" and "pred" in calls[1][1][0]
    assert calls[2] == ("create",)


def test_unknown_format_rejected(spark, tmp_path):
    from weak_supervision_for_ner_spark.sinks import write_table

    with pytest.raises(ValueError, match="fmt"):
        write_table(_graph_rows(spark, 5), str(tmp_path / "x"), fmt="orc")
