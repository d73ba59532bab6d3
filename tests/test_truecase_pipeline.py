"""Truecasing wired into the annotation stage (spacy_wrapper.py:186-221):
ALL-CAPS headlines recover cased-gazetteer mentions that plain
labelling misses, and the distributed output stays span-for-span equal
to the single-node oracle."""

import pytest


HEADLINE_URL = "https://news.example.com/headline/1"


@pytest.fixture(scope="module")
def pages(spark):
    body = [
        ("Cyberdyne Systems announced a new product in Oslo .", 30),
        ("Initech acquired a startup last week .", 10),
        ("Analysts said Cyberdyne Systems acquired several rivals .", 5),
    ]
    data = []
    i = 0
    for text, n in body:
        for _ in range(n):
            data.append((f"https://site.example.net/article/{i}", text, "en"))
            i += 1
    data.append((HEADLINE_URL, "REPORT : CYBERDYNE SYSTEMS ACQUIRED INITECH", "en"))
    return spark.createDataFrame(data, "url string, text string, lang string").persist()


def _mentions(spark, pages, truecase):
    from weak_supervision_for_ner_spark.operators.annotate import (
        annotate_pages,
        mentions_from_annotated,
    )
    from weak_supervision_for_ner_spark.operators.textstats import (
        collect_form_frequency_dict,
    )

    freqs = collect_form_frequency_dict(pages) if truecase else None
    annotated = annotate_pages(pages, form_freqs=freqs)
    return mentions_from_annotated(annotated).filter(f"url = '{HEADLINE_URL}'").collect()


def test_truecase_recovers_headline_mentions(spark, pages):
    plain = _mentions(spark, pages, truecase=False)
    cased = _mentions(spark, pages, truecase=True)
    plain_sources = {m["source"] for m in plain}
    cased_sources = {m["source"] for m in cased}
    # the case-sensitive gazetteers can only fire after case repair
    assert not any(s.endswith("_cased") for s in plain_sources)
    assert any(s.endswith("_cased") for s in cased_sources)
    # and the repaired doc yields strictly more weak-supervision signal
    assert len(cased) > len(plain)
    cyberdyne = [m for m in cased if m["text"].lower().startswith("cyberdyne")]
    assert any(m["label"] == "COMPANY" for m in cyberdyne)


def test_truecased_annotation_matches_oracle(spark, pages):
    from weak_supervision_for_ner_spark.operators.annotate import annotate_pages
    from weak_supervision_for_ner_spark.operators.textstats import (
        collect_form_frequency_dict,
    )
    from weak_supervision_for_ner_spark.plans.oracle import oracle_annotate

    freqs = collect_form_frequency_dict(pages)
    spark_rows = {
        r["url"]: (list(r["tokens"]), sorted(map(tuple, r["spans"])))
        for r in annotate_pages(pages, form_freqs=freqs).collect()
    }
    oracle_rows = {
        d["url"]: (list(d["tokens"]), sorted(map(tuple, d["spans"])))
        for d in oracle_annotate(
            [r.asDict() for r in pages.collect()], form_freqs=freqs
        )
    }
    assert spark_rows == oracle_rows
