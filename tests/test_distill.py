"""NER-distillation dataset prep (reference ner.py:327-392): vocab
indexing with PAD/OOV conventions, BILUO tag derivation from the
aggregated layer, end-to-end over the HMM output."""

import pytest


@pytest.fixture(scope="module")
def tiny(spark):
    """Two annotated rows and a labeller under which u1's layer is
    COMPANY over tokens 0-1 and PERSON over token 3 (one source per
    span, voted at a threshold of one source)."""
    from weak_supervision_for_ner_spark.operators.triples import majority_labeller

    annotated = spark.createDataFrame(
        [
            ("u1", ["Acme", "Corp", "hired", "Mary", "."],
             [("crunchbase_cased", 0, 2, "COMPANY", 0.9),
              ("full_name_detector", 3, 4, "PERSON", 0.8)]),
            ("u2", ["nothing", "here", "."], []),
        ],
        "url string, tokens array<string>, "
        "spans array<struct<source:string,start:int,end:int,label:string,conf:double>>",
    )
    return annotated, majority_labeller(nb_sources_threshold=1)


def test_vocabulary_conventions(spark, tiny):
    from weak_supervision_for_ner_spark.operators.distill import (
        OOV_INDEX,
        PAD_INDEX,
        build_vocabulary,
    )

    annotated, _ = tiny
    vocab = build_vocabulary(annotated, min_count=1)
    assert PAD_INDEX == 0 and OOV_INDEX == 1
    assert min(vocab.values()) == 2                   # 0/1 reserved
    assert "acme" in vocab and "." in vocab           # lowercased norms
    assert len(set(vocab.values())) == len(vocab)
    # min_count filter drops singletons when raised
    capped = build_vocabulary(annotated, min_count=2)
    assert set(capped) == {"."}                       # '.' appears twice


def test_examples_biluo_and_oov(spark, tiny):
    from weak_supervision_for_ner_spark.operators.distill import (
        OOV_INDEX,
        build_vocabulary,
        distillation_examples,
    )

    annotated, label = tiny
    vocab = build_vocabulary(annotated, min_count=1)
    # delete one form to prove the OOV path
    vocab = {k: v for k, v in vocab.items() if k != "hired"}
    rows = {r["url"]: r for r in
            distillation_examples(annotated, label, vocab).collect()}
    assert rows["u1"]["tags"] == ["B-COMPANY", "L-COMPANY", "O", "U-PERSON", "O"]
    assert rows["u1"]["token_ids"][2] == OOV_INDEX
    assert all(i >= 2 for i in rows["u1"]["token_ids"][:2])
    # docs with no mentions still become all-O examples
    assert rows["u2"]["tags"] == ["O", "O", "O"]


def test_distillation_end_to_end_from_hmm(spark, tmp_path):
    """annotate -> HMM fit -> distillation dataset under the model's
    Viterbi: every token gets an id, tags form valid BILUO runs, and the
    sharded sink round-trips."""
    from weak_supervision_for_ner_spark.operators.annotate import annotate_pages
    from weak_supervision_for_ner_spark.operators.distill import (
        build_vocabulary,
        distillation_examples,
        write_distillation_dataset,
    )
    from weak_supervision_for_ner_spark.operators.hmm import HMMAggregator
    from weak_supervision_for_ner_spark.sources.pages import synth_pages

    annotated = annotate_pages(synth_pages(spark, 60, partitions=3)).persist()
    model = HMMAggregator(n_iter=2)
    model.fit_spark(spark, annotated)

    vocab = build_vocabulary(annotated, min_count=1)
    examples = distillation_examples(annotated, model.labeller(spark), vocab)
    out = str(tmp_path / "distill")
    write_distillation_dataset(examples, out, shards=4)
    back = spark.read.parquet(out).collect()
    # one example per ANNOTATED doc (non-'en' pages are filtered there)
    assert len(back) == annotated.count()
    labelled = 0
    for r in back:
        assert len(r["token_ids"]) == len(r["tags"])
        prev = "O"
        for t in r["tags"]:
            if t.startswith(("I-", "L-")):
                assert prev.startswith(("B-", "I-")), (r["url"], r["tags"])
            prev = t
        labelled += sum(t != "O" for t in r["tags"])
    assert labelled > 0
    annotated.unpersist()
