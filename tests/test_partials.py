"""The EM reducer (operators.partials.sum_partials): exact sums on both
the flat and the tree-combine path, and one Spark job per pass — a fit
launches its prior pass plus one collect per EM iteration, with no
partition-count probe or count in between."""

import numpy as np
import pytest


@pytest.fixture(scope="module")
def annotated(spark):
    from weak_supervision_for_ner_spark.operators.annotate import annotate_pages
    from weak_supervision_for_ner_spark.sources.pages import synth_pages

    frame = annotate_pages(synth_pages(spark, 60, partitions=3)).persist()
    frame.count()
    yield frame
    frame.unpersist()


@pytest.mark.parametrize("tree", [False, True])
def test_sum_partials_exact_on_both_paths(spark, monkeypatch, jobs_launched, tree):
    from weak_supervision_for_ner_spark.operators import partials

    if tree:
        monkeypatch.setattr(partials, "TREE_MIN_PARALLELISM", 1)

    def accumulate(batches):
        n, hist = 0.0, np.zeros((2, 5))
        for pdf in batches:
            n += len(pdf)
            ids = pdf["id"].to_numpy()
            np.add.at(hist, (ids % 2, ids % 5), 1.0)
        return {"n": n, "hist": hist}

    frame = spark.range(0, 1000, numPartitions=40)
    sums = {}
    jobs = jobs_launched(f"sum-partials-{tree}", lambda: sums.update(
        partials.sum_partials(frame, accumulate, {"n": (), "hist": (2, 5)})))
    tracker = spark.sparkContext.statusTracker()
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    # the tree level is one shuffle more; the flat collect is one stage
    assert (len(stages) > 1) == tree
    ids = np.arange(1000)
    want = np.zeros((2, 5))
    np.add.at(want, (ids % 2, ids % 5), 1.0)
    assert sums["n"] == 1000.0
    assert np.array_equal(sums["hist"], want)


def test_hmm_fit_runs_one_job_per_pass(spark, annotated, jobs_launched):
    from weak_supervision_for_ner_spark.operators.hmm import HMMAggregator

    model = HMMAggregator(n_iter=3, tol=-np.inf)
    jobs = jobs_launched("hmm-fit-jobs", lambda: model.fit_spark(spark, annotated))
    assert len(model.history) == 3
    assert len(jobs) == 4  # the prior pass + 3 E-step collects


def test_labelmodel_fit_runs_one_job_per_iteration(spark, annotated, jobs_launched):
    from weak_supervision_for_ner_spark.operators.labelmodel import LabelModelAggregator

    model = LabelModelAggregator(n_iter=5)
    jobs = jobs_launched("labelmodel-fit-jobs",
                         lambda: model.fit_spark(spark, annotated))
    assert len(model.history) == 5
    assert len(jobs) == 5
