"""Driver-contract queries whose per-document kernel changed, compared
with their DuckDB oracles by ``scripts/check_contract.py``'s own
comparison, on the test session."""

import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def contract(spark):
    import __spark_entry__ as entry

    spec = importlib.util.spec_from_file_location(
        "check_contract", os.path.join(ROOT, "scripts", "check_contract.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    yield module.check, entry.queries(), entry.oracle_sql()
    # the queries persist their inputs and evaluate_mentions its count
    # tables, none released; free them for the rest of the session
    spark.catalog.clearCache()


@pytest.mark.parametrize("name", ["pages_corrected", "pages_eval_corrected", "distill_dataset"])
def test_contract_query_matches_its_oracle(spark, contract, name):
    import duckdb

    check, queries, oracles = contract
    # the pages queries generate the sf0.01 corpus from the scale in the
    # directory name and read no table, and their oracles read only the
    # committed fixtures
    status, n_rows, detail = check(spark, duckdb.connect(), "sf0.01", queries[name], oracles[name])
    assert status == "ok", detail
    assert n_rows > 0
