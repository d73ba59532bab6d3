import random

from kgbench.digest import digest, precision_recall

ROWS = [
    ("Acme Corp Inc.", "COMPANY", "acquired", "Globex", "COMPANY", "u1", 0.75, "kb:1", "kb:2"),
    ("Marie Curie", "PERSON", "visited", "Oslo", "GPE", "u2", 1.0, "kb:3", "ent:oslo"),
    ("Marie Curie", "PERSON", "visited", "Oslo", "GPE", "u3", 1.0, "kb:3", "ent:oslo"),
]


def test_digest_ignores_row_order():
    shuffled = ROWS[:]
    for seed in range(5):
        random.Random(seed).shuffle(shuffled)
        assert digest(shuffled) == digest(ROWS)


def test_digest_sees_duplicates_and_changes():
    assert digest(ROWS + ROWS[:1]) != digest(ROWS)
    assert digest(ROWS[:2] + ROWS[:1]) != digest(ROWS)  # not a set digest
    changed = [ROWS[0][:6] + (0.76,) + ROWS[0][7:]] + ROWS[1:]
    assert digest(changed) != digest(ROWS)


def test_digest_float_and_int_forms():
    # a float read back from parquet prints the same at six decimals
    assert digest([("a", 0.1 + 0.2)]) == digest([("a", 0.3)])
    assert digest([("a", 1)]) != digest([("a", 1.0)])
    assert digest([]) == "0:0000000000000000"


def test_precision_recall():
    gold = {("u1", "Acme Corp Inc.", "acquired", "Globex"), ("u9", "X", "visited", "Y")}
    p, r = precision_recall(ROWS, gold)
    assert p == 1 / 3 and r == 1 / 2
