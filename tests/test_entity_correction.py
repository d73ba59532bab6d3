"""Entity-correction pass (spacy_wrapper.py:268-402): one test per
repair rule plus the overlap merge and the Spark integration."""

from weak_supervision_for_ner_spark.operators.entity_correction import (
    correct_entity_spans,
)


def test_currency_symbol_after_extends_right():
    toks = "it cost 3,400 USD yesterday".split()
    assert (2, 4, "MONEY") in correct_entity_spans(toks, [(2, 3, "CARDINAL")])


def test_money_to_shrinks():
    toks = "from $ 5 to".split()
    out = correct_entity_spans(toks, [(1, 4, "MONEY")])
    assert (1, 3, "MONEY") in out and (1, 4, "MONEY") not in out


def test_korean_won_extension():
    toks = "paid 500 won for it".split()
    assert (1, 3, "MONEY") in correct_entity_spans(toks, [(1, 2, "CARDINAL")])


def test_magnitude_absorption():
    toks = "earned 5 billion last year".split()
    assert (1, 3, "CARDINAL") in correct_entity_spans(toks, [(1, 2, "CARDINAL")])


def test_currency_symbol_before_extends_left():
    toks = "about $ 300 total".split()
    assert (1, 3, "MONEY") in correct_entity_spans(toks, [(2, 3, "CARDINAL")])


def test_quartal_removed():
    toks = "results for Q1 improved".split()
    out = correct_entity_spans(toks, [(2, 3, "DATE")])
    assert all(s != 2 for s, _, _ in out)


def test_currency_code_prefix_retyped_money():
    toks = "priced at USD3,400 each".split()
    assert (2, 3, "MONEY") in correct_entity_spans(toks, [(2, 3, "CARDINAL")])


def test_per_cent_retyped_percent():
    toks = "rose 5 per cent today".split()
    assert (1, 4, "PERCENT") in correct_entity_spans(toks, [(1, 4, "MONEY")])


def test_pennies_retyped_money():
    toks = "shares at 520.0p close".split()
    assert (2, 3, "MONEY") in correct_entity_spans(toks, [(2, 3, "CARDINAL")])


def test_legal_suffix_after_extends_org():
    toks = "deal with Initech Ltd. closed".split()
    assert (2, 4, "ORG") in correct_entity_spans(toks, [(2, 3, "COMPANY")])


def test_legal_suffix_last_token_retypes_org():
    toks = "sued Initech Ltd. yesterday".split()
    assert (1, 3, "ORG") in correct_entity_spans(toks, [(1, 3, "PERSON")])


def test_not_named_entities_dropped():
    toks = "EPS rose sharply".split()
    assert correct_entity_spans(toks, [(0, 1, "ORG")]) == []


def test_undetected_currency_scan():
    toks = "costs $ 99 only".split()
    assert (1, 3, "MONEY") in correct_entity_spans(toks, [])


def test_overlap_merge_money_wins():
    toks = "paid 5 billion dollars today".split()
    out = correct_entity_spans(toks, [(1, 3, "CARDINAL"), (2, 4, "MONEY")])
    assert out == [(1, 4, "MONEY")]


def test_spark_correct_mentions_matches_pure_function(spark):
    from weak_supervision_for_ner_spark.operators.entity_correction import (
        correct_mentions,
        correct_spans_with_conf,
    )

    tokens = "it cost 3,400 USD in Q1".split()
    annotated = spark.createDataFrame(
        [("u1", tokens, [])],
        "url string, tokens array<string>, spans array<struct<source:string,start:int,end:int,label:string,conf:double>>",
    )
    mentions = spark.createDataFrame(
        [("u1", "majority_voter", 2, 3, "CARDINAL", 0.9, "3,400"),
         ("u1", "majority_voter", 5, 6, "DATE", 0.8, "Q1")],
        "url string, source string, start int, end int, label string, conf double, text string",
    )
    got = sorted(
        (r["start"], r["end"], r["label"], r["conf"])
        for r in correct_mentions(mentions, annotated).collect()
    )
    want = sorted(correct_spans_with_conf(
        tokens, [(2, 3, "CARDINAL", 0.9), (5, 6, "DATE", 0.8)]
    ))
    assert got == want
    assert [g[:3] for g in got] == sorted(correct_entity_spans(
        tokens, [(2, 3, "CARDINAL"), (5, 6, "DATE")]
    ))
    assert got == [(2, 4, "MONEY", 0.9)]


def test_overlap_merge_preserves_money_across_intervening_span():
    """Regression (code review): merging a j>=1 neighbour must delete
    the MATCHED span, not an unrelated in-between one — MONEY from the
    middle span has to survive into the merged result. (The reference's
    own loop, spacy_wrapper.py:381, deletes the wrong index; this is a
    documented deviation.)"""
    toks = "a b c d e f".split()
    out = correct_entity_spans(
        toks, [(0, 2, "ORG"), (2, 4, "MONEY"), (2, 6, "ORG")]
    )
    # the merged end follows the reference's (ent_start, ent2_end) rule
    # (a contained second span truncates); the essential property is
    # that the MONEY label survives the merge instead of being deleted
    assert out == [(0, 4, "MONEY")]
