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
    """majority_voter_mentions(correct=True) repairs each document's
    vote in the stage that votes it: the rows equal the pure repair of
    that vote, and a document with no vote still gets the MONEY span
    the undetected-currency scan finds (the graph path's correction)."""
    from weak_supervision_for_ner_spark.operators.aggregate import majority_voter_mentions
    from weak_supervision_for_ner_spark.operators.entity_correction import (
        correct_spans_with_conf,
    )

    tokens = "it cost 3,400 USD in Q1".split()
    annotated = spark.createDataFrame(
        [("u1", tokens, [("number_detector", 2, 3, "CARDINAL", 0.9),
                         ("date_detector", 5, 6, "DATE", 0.8)]),
         ("u2", ["paid", "$", "149", "."], [])],
        "url string, tokens array<string>, spans array<struct<source:string,start:int,end:int,label:string,conf:double>>",
    )
    got = sorted(
        (r["url"], r["start"], r["end"], r["label"], r["conf"])
        for r in majority_voter_mentions(
            annotated, nb_sources_threshold=1, correct=True).collect()
    )
    # one source per span: each token's vote has confidence 1
    vote = [(2, 3, "CARDINAL", 1.0), (5, 6, "DATE", 1.0)]
    want = sorted([("u1", *m) for m in correct_spans_with_conf(tokens, vote)]
                  + [("u2", 1, 3, "MONEY", 1.0)])
    assert got == want
    assert [g[1:4] for g in got if g[0] == "u1"] == sorted(correct_entity_spans(
        tokens, [(2, 3, "CARDINAL"), (5, 6, "DATE")]
    ))
    assert got == [("u1", 2, 4, "MONEY", 1.0), ("u2", 1, 3, "MONEY", 1.0)]


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
