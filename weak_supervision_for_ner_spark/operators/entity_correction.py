"""Entity correction (reference spacy_wrapper.py:268-402).

The reference repairs the aggregated entity layer after parsing: 15
boundary/type rules (currency extension left/right, million/billion
absorption, the South-Korean "won", ``520.0p`` pennies, ``Q1``
quartals, per-cent retyping, legal-suffix -> ORG, ...) followed by an
overlap-merge where MONEY wins, run twice (one recursive repair pass).
Round 1 internalised the *within-generator* rules in the money/number
generators; this module is the missing cross-layer home: it repairs an
already-aggregated mention list against the token stream, exactly the
frame the reference applies it to (doc.ents after NER/aggregation).

Pure per-document functions, run in the stage that reads the
document: the aggregated layer is repaired by the per-document kernel,
``triples.doc_mentions(correct=True)`` (the graph's triple stage,
corrected majority mentions), and a plugged-in model's spans by its
annotation stage (``model_annotator``, the ``+c`` layer). No operator
joins mentions back to documents. No oracle SQL (the merge loop and
recursion are procedural), so the gate is the per-rule unit tests plus
the Spark==pure-function integration test.
"""

from __future__ import annotations

import re

from weak_supervision_for_ner_spark.functions import lexicons as lx

# the reference's magnitude list, verbatim (spacy_wrapper.py:299-300)
_MAGNITUDES = {
    "million", "billion", "mln", "bln", "bn", "thousand",
    "m", "k", "b", "m.", "k.", "b.", "mln.", "bln.", "bn.",
}
_CURRENCY_AFTER = lx.CURRENCY_SYMBOLS | {"euro", "cent", "ruble"}
_QUARTAL_RE = re.compile(r"Q[1-4]")


def correct_entity_spans(
    tokens: list[str], ents: list[tuple[int, int, str]], recursive: bool = True
) -> list[tuple[int, int, str]]:
    """Repair (start, end, label) spans against the token stream.

    Faithful transcription of ``_correct_entities``: same rule order,
    same if/elif structure (the currency-right-extension and the
    MONEY-"to"-shrink rules can BOTH fire for one span), the same
    undetected-currency scan, the same overlap merge (MONEY wins, else
    longest), and the same single recursive second pass. The
    '#-preceding' rule labels MONEY even though the reference's comment
    says CARDINAL — the code, not the comment, is mirrored.
    """
    n = len(tokens)
    lower = [t.lower() for t in tokens]
    in_ent = [False] * n
    label_at = [""] * n
    for s, e, lab in ents:
        for i in range(s, min(e, n)):
            in_ent[i] = True
            label_at[i] = lab

    def text_of(s, e):
        return " ".join(tokens[s:e])

    new_ents: list[tuple[int, int, str]] = []
    has_changed = False
    existing = [(s, e, lab) for (s, e, lab) in sorted(ents)
                if text_of(s, e) not in lx.NOT_NAMED_ENTITIES]
    if len(existing) != len(ents):
        has_changed = True

    for s, e, lab in existing:
        # currency symbol/code right after the span -> extend as MONEY
        if (e < n and (lower[e] in _CURRENCY_AFTER or tokens[e].upper() in lx.CURRENCY_CODES)
                and (e == n - 1 or not in_ent[e])):
            new_ents.append((s, e + 1, "MONEY"))
            has_changed = True

        # span ends with the preposition "to" -> shrink MONEY
        if lower[e - 1] == "to" and lab == "MONEY":
            new_ents.append((s, e - 1, "MONEY"))
            has_changed = True
        # the South-Korean currency "won"
        elif (e < n and lower[e] == "won" and (e == n - 1 or not in_ent[e])
                and lab in {"MONEY", "CARDINAL"}):
            new_ents.append((s, e + 1, "MONEY"))
            has_changed = True
        # million/billion/... absorption
        elif e < n and lower[e] in _MAGNITUDES and lab in {"MONEY", "CARDINAL"}:
            new_ents.append((s, e + 1, lab))
            has_changed = True
        # currency symbol/code right before the span -> extend as MONEY
        elif (s > 0 and not in_ent[s - 1]
                and (tokens[s - 1] in lx.CURRENCY_SYMBOLS or tokens[s - 1] in lx.CURRENCY_CODES)):
            new_ents.append((s - 1, e, "MONEY"))
            has_changed = True
        # '#' before the span (reference labels MONEY despite the comment)
        elif s > 0 and not in_ent[s - 1] and tokens[s - 1] == "#":
            new_ents.append((s - 1, e, "MONEY"))
            has_changed = True
        # '#' as first token -> CARDINAL
        elif tokens[s] == "#":
            new_ents.append((s, e, "CARDINAL"))
            has_changed = True
        # quartals (Q1..Q4) are not entities
        elif _QUARTAL_RE.match(tokens[s]):
            has_changed = True
        # first token starts with a currency code -> MONEY
        elif len(tokens[s]) >= 3 and tokens[s][:3] in lx.CURRENCY_CODES and lab != "MONEY":
            new_ents.append((s, e, "MONEY"))
            has_changed = True
        # "... per cent" -> PERCENT
        elif e - s >= 3 and text_of(s, e).endswith("per cent") and lab != "PERCENT":
            new_ents.append((s, e, "PERCENT"))
            has_changed = True
        # pennies: 520.0p
        elif tokens[e - 1][:1].isdigit() and text_of(s, e)[-1] == "p" and lab != "MONEY":
            new_ents.append((s, e, "MONEY"))
            has_changed = True
        # legal suffix right after -> extend as ORG
        elif e < n and lower[e].rstrip(".") in lx.LEGAL_SUFFIXES:
            new_ents.append((s, e + 1, "ORG"))
            has_changed = True
        # multi-token span ending in a legal suffix -> ORG
        elif lower[e - 1].rstrip(".") in lx.LEGAL_SUFFIXES and e > s + 1 and lab != "ORG":
            new_ents.append((s, e, "ORG"))
            has_changed = True
        # unchanged, unless it overlaps the span just added
        elif not new_ents or new_ents[-1][1] < e:
            new_ents.append((s, e, lab))

    # undetected currency symbol/code followed by a numeric value
    for i in range(n):
        if (tokens[i] in lx.CURRENCY_CODES | lx.CURRENCY_SYMBOLS and label_at[i] != "MONEY"
                and i < n - 1 and (tokens[i + 1][:1].isdigit()
                                   or tokens[i + 1] in lx.CURRENCY_SYMBOLS)):
            entity_end = i + 2
            for j in range(i + 2, n):
                if any(j >= s2 and j < e2 for s2, e2, _ in new_ents):
                    entity_end = j + 1
                else:
                    break
            new_ents.append((i, entity_end, "MONEY"))
            has_changed = True

    new_ents.sort(key=lambda p: p[0])

    # overlap merge: MONEY wins, otherwise the longest span's label.
    # Deviation (deliberate): the reference deletes ``new_ents[i+j]``
    # (spacy_wrapper.py:381) which for j>=1 destroys an UNRELATED
    # in-between span and drops the matched span's label from the
    # merge; we delete the matched span (i+1+j) so e.g.
    # [(0,2,ORG),(2,4,MONEY),(2,6,ORG)] correctly surfaces MONEY.
    merge_loop = True
    while merge_loop:
        merge_loop = False
        snapshot = list(new_ents)
        for i, (s1, e1, l1) in enumerate(snapshot):
            for j, (s2, e2, l2) in enumerate(snapshot[i + 1 : i + 5]):
                if e1 > s2 or (e1 == s2 and l1 == l2):
                    del new_ents[i + 1 + j]
                    if l1 == "MONEY" or l2 == "MONEY":
                        new_ents[i] = (s1, e2, "MONEY")
                    elif e2 - s2 >= e1 - s1:
                        new_ents[i] = (s1, e2, l2)
                    else:
                        new_ents[i] = (s1, e2, l1)
                    merge_loop = True
                    has_changed = True
                    break
            if merge_loop:
                break

    if has_changed and recursive:
        return correct_entity_spans(tokens, new_ents, recursive=False)
    return new_ents


def correct_spans_with_conf(
    tokens: list[str], ments: list[tuple[int, int, str, float]]
) -> list[tuple[int, int, str, float]]:
    """Run the 15-rule repair over (start, end, label, conf) mentions
    and re-attach confidences: a repaired span carries the max conf of
    the input spans it absorbs (the reference's spaCy ents carry no
    confidence; ours do).
    Per-doc pure function: safe inside any fused Arrow stage."""
    ents = sorted((int(s), int(e), str(lab)) for (s, e, lab, _c) in ments)
    max_conf = max((float(c) for (_s, _e, _l, c) in ments), default=1.0)
    n = len(tokens)
    out = []
    for s, e, lab in correct_entity_spans(tokens, ents):
        e = min(e, n)
        overlapping = [
            float(c) for (ms, me, _ml, c) in ments if ms < e and s < me
        ]
        out.append((s, e, lab, max(overlapping) if overlapping else max_conf))
    return out

