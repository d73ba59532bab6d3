"""Driver-contract queries compared with their DuckDB oracles by
``scripts/check_contract.py``'s own comparison, on the test session,
each checked to leave the session's cache as it found it."""

import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the queries whose evaluate_mentions result is driver-side rows: they
# must not leave even a lazily freed local checkpoint behind
EVALUATION = {"eval_metrics", "pages_eval_mv", "pages_eval_corrected",
              "pages_eval_hmm", "pages_eval_snorkel"}


@pytest.fixture(scope="module")
def contract():
    import __spark_entry__ as entry

    spec = importlib.util.spec_from_file_location(
        "check_contract", os.path.join(ROOT, "scripts", "check_contract.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    # check_contract's default scale: the pages queries generate that
    # corpus and their oracles read only the committed fixtures;
    # eval_metrics and its oracle read the scale's lineitem table
    _, sf_dir, _ = module.parse_args([])
    con = module.connect(sf_dir)
    yield module.check, con, sf_dir, entry.queries(), entry.oracle_sql()
    con.close()


def cache_state(spark):
    """(persistent RDD ids, number of CacheManager entries)."""
    return (
        set(spark.sparkContext._jsc.getPersistentRDDs().keySet()),
        spark._jsparkSession.sharedState().cacheManager().numCachedEntries(),
    )


@pytest.mark.parametrize("name", [
    "pages_corrected", "pages_eval_corrected", "distill_dataset", "eval_metrics",
    "pages_eval_mv", "pages_eval_hmm", "pages_eval_snorkel", "pages_kg_quality",
    "ann_topk", "ann_lsh", "ann_ivf", "embedding_dups",
])
def test_contract_query_matches_its_oracle(spark, contract, name):
    check, con, sf_dir, queries, oracles = contract
    status, n_rows, detail = check(spark, con, sf_dir, queries[name], oracles[name])
    assert status == "ok", detail
    assert n_rows > 0


@pytest.mark.parametrize("name", sorted(EVALUATION | {
    "pages_kg_quality", "pages_triples", "pages_hmm", "pages_snorkel", "distill_dataset",
}))
def test_contract_query_leaves_the_cache_as_it_found_it(spark, contract, name):
    """Collecting the query adds nothing to the CacheManager; the
    evaluation queries also add no persistent RDD (the others may
    leave a lazy local checkpoint, freed with their frame; the
    ContextCleaner may free an earlier test's in the meantime)."""
    _, _, sf_dir, queries, _ = contract
    rdds, entries = cache_state(spark)
    queries[name](spark, sf_dir).collect()
    after_rdds, after_entries = cache_state(spark)
    assert after_entries == entries
    if name in EVALUATION:
        assert after_rdds <= rdds
