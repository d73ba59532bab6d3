"""Property-based tests (hypothesis) for the invariants the reference
enforces at runtime (SURVEY.md §5.2)."""

import numpy as np
from hypothesis import example, given, settings, strategies as st

from weak_supervision_for_ner_spark.functions.tokenizer import tokenize_with_offsets
from weak_supervision_for_ner_spark.functions.trie import TokenTrie
from weak_supervision_for_ner_spark.operators.labelling import Doc

text_strategy = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x24F),
    max_size=200,
)


@settings(max_examples=200, deadline=None)
@given(text_strategy)
def test_tokenizer_offsets_always_exact_slices(text):
    tokens, offsets = tokenize_with_offsets(text)
    assert len(tokens) == len(offsets)
    for tok, off in zip(tokens, offsets):
        assert text[off : off + len(tok)] == tok
        assert tok  # no empty tokens
    # monotone offsets
    assert all(a < b for a, b in zip(offsets, offsets[1:]))


@settings(max_examples=100, deadline=None)
@given(text_strategy)
def test_doc_construction_never_crashes(text):
    doc = Doc(text)
    assert len(doc.likely_proper) == len(doc.tokens)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(st.floats(0.01, 1.0), st.sampled_from(["GPE", "PERSON", "ORG"])),
        min_size=1, max_size=6,
    )
)
def test_conf_mass_never_exceeds_one(vals):
    doc = Doc("Oslo and Bergen and Stavanger meet")
    doc.clear("x")
    for conf, label in vals:
        doc.add("x", 0, 1, label, conf)
    for span_vals in doc.layers["x"].values():
        assert sum(c for _, c in span_vals) <= 1.0 + 1e-9


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "New", "York"]), min_size=1, max_size=4),
        min_size=1, max_size=20,
    )
)
def test_trie_longest_prefix_consistent_with_get(keys):
    trie = TokenTrie()
    for k in keys:
        trie.add_class(tuple(k), "X")
    for k in keys:
        length, value = trie.longest_prefix(tuple(k))
        assert length >= 1 and value is not None
        # longest_prefix of key + sentinel still finds at least the key
        length2, _ = trie.longest_prefix((*k, "ZZZ"))
        assert length2 >= length or tuple(k)[:length2] in trie


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 10_000))
def test_page_generation_deterministic_and_valid(doc_id):
    from weak_supervision_for_ner_spark.sources.pages import (
        extract_text_from_html,
        make_page_full,
    )

    p1, g1, t1 = make_page_full(doc_id)
    p2, g2, t2 = make_page_full(doc_id)
    assert p1 == p2 and g1 == g2 and t1 == t2
    assert extract_text_from_html(p1["html"]) == p1["text"]
    for (s, e, label) in g1:
        assert 0 <= s < e <= len(p1["text"])


@given(st.lists(st.sampled_from(["Oslo", "OSLO", "oslo", "THE", "the", "a", "."]),
                min_size=0, max_size=30))
def test_truecase_preserves_shape_and_nonalpha(tokens):
    from weak_supervision_for_ner_spark.functions.truecase import truecase_tokens

    freqs = {"oslo": {"Oslo": 95, "OSLO": 5}, "the": {"the": 90, "THE": 10}}
    sent_start = [i == 0 for i in range(len(tokens))]
    out = truecase_tokens(tokens, sent_start, freqs)
    assert len(out) == len(tokens)
    for before, after in zip(tokens, out):
        # only alpha, upper-initial, non-sentence-start tokens may change,
        # and never their lowercase identity
        if before != after:
            assert before.isalpha() and before[0].isupper()
            assert before.lower() == after.lower()
    # sentence-initial token never changes
    if tokens:
        assert out[0] == tokens[0]


@given(st.lists(
    st.tuples(st.integers(0, 18), st.integers(1, 4),
              st.sampled_from(["MONEY", "CARDINAL", "DATE", "PERSON", "ORG"])),
    min_size=0, max_size=6,
))
@settings(deadline=None)
def test_entity_correction_output_sorted_nonoverlapping(raw):
    from weak_supervision_for_ner_spark.operators.entity_correction import (
        correct_entity_spans,
    )

    tokens = "it cost $ 5 billion to buy Initech Ltd. in Q1 won per cent 520.0p # x y z".split()
    # build non-overlapping input spans (the frame the reference gets)
    ents, cursor = [], 0
    for start, length, label in sorted(raw):
        s = max(start, cursor)
        e = min(s + length, len(tokens))
        if s >= e:
            continue
        ents.append((s, e, label))
        cursor = e
    out = correct_entity_spans(tokens, ents)
    for (s1, e1, _), (s2, e2, _) in zip(out, out[1:]):
        assert s1 <= s2, "output must stay sorted"
        assert e1 <= s2, f"overlap survived the merge loop: {(s1,e1)} vs {(s2,e2)}"
    for s, e, lab in out:
        assert 0 <= s < e
        assert lab and isinstance(lab, str)


@given(st.lists(st.text(alphabet="abcdef ", min_size=1, max_size=12),
                min_size=1, max_size=40))
@settings(deadline=None, max_examples=30)
def test_simhash_packed_agg_equals_naive(tokens):
    """The 20-accumulator packed-popcount fingerprint must equal the
    naive per-bit majority computed in plain Python from the same md5
    bit definition."""
    import hashlib

    toks = [t for t in " ".join(tokens).split() if t]
    if not toks:
        return
    hashes = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in toks]
    naive = 0
    for b in range(60):
        ones = sum((h >> b) & 1 for h in hashes)
        if 2 * ones > len(hashes):
            naive |= 1 << b
    # packed-field arithmetic, mirroring simhash_table's agg exactly
    W, FIELDS = 20, 3
    accs = [0] * (60 // FIELDS)
    for h in hashes:
        for g in range(len(accs)):
            for k in range(FIELDS):
                accs[g] += ((h >> (g * FIELDS + k)) & 1) << (W * k)
    packed = 0
    for g in range(len(accs)):
        for k in range(FIELDS):
            ones = (accs[g] >> (W * k)) & ((1 << W) - 1)
            if 2 * ones > len(hashes):
                packed |= 1 << (g * FIELDS + k)
    assert packed == naive


@given(st.lists(st.floats(min_value=-1.0, max_value=1.0,
                          allow_nan=False, allow_infinity=False),
                min_size=1, max_size=50))
@settings(deadline=None, max_examples=100)
def test_round_half_up6_matches_decimal(xs):
    """The numpy HALF_UP helper must agree with decimal ROUND_HALF_UP
    at 6 dp — including exact 5e-7 boundaries (np.round would not)."""
    import decimal

    import numpy as np

    from weak_supervision_for_ner_spark.operators.similarity import _round_half_up6

    xs = xs + [0.0000005, -0.0000015, 0.1234565,
               # boundary-ulp cases: repr(x) rounds differently from
               # the binary fast path; the Decimal repair must catch
               # them (r5 — no carve-out anymore: exactness everywhere)
               0.49999949999999994, 0.1999995, -0.2999985]
    got = _round_half_up6(np.array(xs, dtype=np.float64))
    for x, g in zip(xs, got):
        want = float(
            decimal.Decimal(repr(x)).quantize(
                decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
            )
        )
        assert g == want, (x, g, want)
    assert np.all(got == -_round_half_up6(-np.array(xs)))   # odd symmetry


@given(st.lists(st.floats(min_value=-0.999, max_value=0.999,
                          allow_nan=False, allow_infinity=False),
                min_size=1, max_size=200),
       st.sampled_from([1, 2]))
@settings(deadline=None, max_examples=40)
def test_wav_pcm16_roundtrip_property(samples, channels):
    """decode(encode(x)) recovers 16-bit PCM within quantization for
    any sample vector and channel count."""
    import numpy as np

    from weak_supervision_for_ner_spark.operators.multimodal import decode_wav_pcm
    from tests.test_dataops import _wav_bytes

    n = len(samples) // channels * channels
    if n == 0:
        return
    samples = samples[:n]
    out = decode_wav_pcm(_wav_bytes(samples, channels=channels))
    assert out.shape == (n // channels, channels)
    # two LSBs of slack: the test encoder truncates toward zero (up to
    # 1/32767) and the decoder uses the conventional /32768 scale
    # (up to |x|/32768 more) — both errors can compose
    assert np.allclose(out.ravel(), samples, atol=2.0 / 32767 + 1e-9)


@given(st.integers(1, 6), st.integers(1, 6), st.sampled_from([255, 65535]),
       st.randoms())
@settings(deadline=None, max_examples=40)
def test_ppm_roundtrip_property(w, h, maxval, rnd):
    """P6 decode recovers the luma mean for 8- AND 16-bit rasters (the
    16-bit big-endian path has no other test)."""
    import numpy as np

    from weak_supervision_for_ner_spark.operators.multimodal import decode_ppm

    vals = [[rnd.randint(0, maxval) for _ in range(3)]
            for _ in range(w * h)]
    arr = np.array(vals).reshape(h, w, 3)
    raster = arr.astype(">u2" if maxval > 255 else np.uint8).tobytes()
    payload = f"P6 {w} {h} {maxval}\n".encode() + raster
    out = decode_ppm(payload)
    assert out.shape == (h, w)
    assert np.allclose(out, arr.mean(axis=2) / maxval, atol=1e-6)


@given(st.lists(st.integers(0, 5), min_size=1, max_size=4), st.randoms())
@settings(deadline=None, max_examples=40)
def test_crowd_chunk_order_invariance(token_idxs, rnd):
    """parse_annotated_text must give the same spans regardless of the
    chunk order in the annotated_text string (the reference sorts
    before merging)."""
    from weak_supervision_for_ner_spark.functions.tokenizer import (
        tokenize_with_offsets,
    )
    from weak_supervision_for_ner_spark.sources.crowd import parse_annotated_text

    sent = "Alpha Beta Gamma Delta Epsilon Zeta"
    toks, offs = tokenize_with_offsets(sent)
    lens = [len(t) for t in toks]
    chunks = [f"{offs[i]}-{offs[i] + lens[i] - 1}/org"
              for i in sorted(set(token_idxs))]
    shuffled = chunks[:]
    rnd.shuffle(shuffled)
    a = parse_annotated_text(" ".join(chunks), sent, offs, lens)
    b = parse_annotated_text(" ".join(shuffled), sent, offs, lens)
    assert a == b


def test_sparse_vote_overwrite_semantics_match_dense():
    """Same-source overlapping spans writing the same (token, state)
    cell: the dense tensor's assignment is last-write-wins, and the
    sparse vote must replicate it (it previously kept the max conf —
    picking L-PERSON 0.9 where the dense path votes L-COMPANY 0.5)."""
    import numpy as np

    from weak_supervision_for_ner_spark.operators.aggregate import (
        extract_sequence,
        majority_vote,
        majority_vote_sparse,
    )
    from weak_supervision_for_ner_spark.schema import SOURCE_NAMES

    src = SOURCE_NAMES[0]
    layers = {src: {(0, 3): (("PERSON", 0.9),),
                    (1, 3): (("PERSON", 0.2), ("COMPANY", 0.5))}}
    sp = majority_vote_sparse({k: dict(v) for k, v in layers.items()}, 3, 1)
    de = majority_vote(extract_sequence({k: dict(v) for k, v in layers.items()}, 3), 1)
    assert np.array_equal(sp[0], de[0])
    assert np.allclose(sp[1], de[1])


@given(st.randoms())
@settings(deadline=None, max_examples=60)
def test_sparse_vote_equals_dense_fuzz(rnd):
    """Randomized sparse == dense parity incl. overlapping spans,
    zero/negative confidences and generic labels."""
    import numpy as np

    from weak_supervision_for_ner_spark.operators.aggregate import (
        extract_sequence,
        majority_vote,
        majority_vote_sparse,
    )
    from weak_supervision_for_ner_spark.schema import LABELS, SOURCE_NAMES

    n_tok = rnd.randint(1, 10)
    layers = {}
    for _ in range(rnd.randint(1, 5)):
        layer = layers.setdefault(rnd.choice(SOURCE_NAMES), {})
        for _ in range(rnd.randint(1, 4)):
            s = rnd.randint(0, n_tok - 1)
            e = rnd.randint(s + 1, n_tok)
            layer[(s, e)] = tuple(
                (rnd.choice(LABELS + ["ENT", "MISC"]),
                 rnd.choice([-0.1, 0.0, 0.2, 0.5, 0.5, 0.9, 1.0]))
                for _ in range(rnd.randint(1, 3))
            )
    th = rnd.randint(1, 4)
    sp = majority_vote_sparse(layers, n_tok, th)
    de = majority_vote(extract_sequence(layers, n_tok), th)
    assert np.array_equal(sp[0], de[0])
    assert np.allclose(sp[1], de[1], atol=1e-6)


def test_standardise_rebuilds_over_unit_conf_mass():
    """A layer whose span conf mass exceeds 1.0 by a float ulp must
    still take the rebuild (doc.add re-renormalises it) even when no
    label is rewritable — the skip fast-path may only bypass true
    identity round-trips."""
    from weak_supervision_for_ner_spark.operators import labelling as lb

    doc = lb.Doc("alpha beta gamma")
    doc.clear("legal_detector")
    # three adds force two renormalisations; the stored mass can sit at
    # 1.0 + ulp, which a rebuild renormalises again
    for lab, c in (("LAW", 0.7), ("DATE", 0.6), ("MONEY", 0.5)):
        doc.add("legal_detector", 0, 2, lab, c)
    before = dict(doc.layers["legal_detector"])
    lb.standardise(doc)
    after = doc.layers["legal_detector"]
    total = sum(c for _, c in after[(0, 2)])
    assert total <= 1.0 + 1e-9
    # and the rebuild applied doc.add's renorm exactly like the
    # historical full-rebuild standardise did
    doc2 = lb.Doc("alpha beta gamma")
    doc2.clear("legal_detector")
    for lab, c in before[(0, 2)]:
        doc2.add("legal_detector", 0, 2, lab, c)
    assert after == doc2.layers["legal_detector"]


# ---------------------------------------------------------------------------
# The per-document triple kernel: the Spark extraction stage equals the
# oracle's loop over the same kernel, whatever the partitioning and the
# Arrow batch size, on corpora with empty and token-less documents.
# ---------------------------------------------------------------------------

_KERNEL_TEXTS = st.one_of(
    st.integers(0, 500),
    st.sampled_from(["", " ", "\n\t  "]),
)


def _kernel_pages(texts):
    from weak_supervision_for_ner_spark.sources.pages import make_page

    return [
        {"url": f"https://kernel.example.org/{j}",
         "text": make_page(t)[0]["text"] if isinstance(t, int) else t,
         "lang": "en"}
        for j, t in enumerate(texts)
    ]


_SMALL_HMM = []


def _small_hmm():
    """An HMM fitted once, by the oracle, on a fixed 30-page corpus."""
    if not _SMALL_HMM:
        from weak_supervision_for_ner_spark.plans.oracle import (
            oracle_annotate,
            oracle_hmm_fit,
        )

        docs = oracle_annotate(_kernel_pages(range(30)))
        _SMALL_HMM.append(oracle_hmm_fit(docs, n_iter=1))
    return _SMALL_HMM[0]


@settings(max_examples=8, deadline=None)
@given(
    texts=st.lists(_KERNEL_TEXTS, max_size=12),
    partitions=st.sampled_from([1, 3, 7]),
    batch=st.sampled_from([1, 2048]),
)
@example(texts=[*range(8), "", " "], partitions=7, batch=1)
def test_spark_triples_equal_oracle_kernel(spark, texts, partitions, batch):
    from weak_supervision_for_ner_spark.operators.aggregate import sequence_from_spans
    from weak_supervision_for_ner_spark.operators.annotate import annotate_pages
    from weak_supervision_for_ner_spark.operators.triples import (
        doc_mentions,
        extract_triples_direct,
        extract_triples_from_doc,
        extract_triples_hmm_fused,
        majority_labeller,
    )
    from weak_supervision_for_ner_spark.plans.oracle import (
        oracle_annotate,
        oracle_form_frequencies,
    )

    pages = _kernel_pages(texts)
    form_freqs = oracle_form_frequencies(pages)
    docs = oracle_annotate(pages, form_freqs=form_freqs)
    model = _small_hmm()

    def oracle(label):
        return sorted(
            t for d in docs
            for t in extract_triples_from_doc(
                d["url"], d["tokens"], doc_mentions(d["tokens"], d["spans"], label, True))
        )

    def collected(df):
        return sorted(map(tuple, df.collect()))

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    previous = spark.conf.get(key)
    spark.conf.set(key, str(batch))
    try:
        df = spark.createDataFrame(
            [(p["url"], p["text"], p["lang"]) for p in pages],
            "url string, text string, lang string",
        ).repartition(partitions)
        annotated = annotate_pages(df, form_freqs=form_freqs)
        majority = oracle(majority_labeller())
        assert collected(extract_triples_direct(df, form_freqs=form_freqs, correct=True)) == majority
        assert collected(extract_triples_direct(annotated, correct=True)) == majority
        assert collected(extract_triples_hmm_fused(annotated, model, correct=True)) == oracle(
            lambda spans, n: model.label(sequence_from_spans(spans, n))
        )
    finally:
        spark.conf.set(key, previous)
