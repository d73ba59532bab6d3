"""Synthetic Common-Crawl-style ``pages`` corpus + gold spans.

BASELINE.json mandates the input shape
``pages(url, warc_ts, html, text, lang)`` and "no external data":
the corpus is synthesised deterministically. Content is a pure
function of ``(doc_id, seed)`` so the SAME corpus materialises at any
partition count and any parallelism level — the property the
scaling-efficiency benchmark and the determinism tests rely on.

Generation is distributed (``spark.range(n)`` + ``mapInPandas``), not a
driver loop: at 10^12 documents the generator itself must scale.

Entity seeding follows FIXTURES.md §5 so every labelling function,
doc-level annotator and relation pattern fires: full names, companies
with legal suffixes, cased/uncased gazetteer hits, dates/times/money/
percent/quantity/ordinal, legal references, NORP/LANGUAGE/FAC/EVENT,
repeated entities (doc-majority), long-form→short-form pairs
(doc-history), and SVO relation patterns (triple extraction).

Hot-domain skew: >=30% of urls come from 2 domains (exercises the
sinks' url rebalance, SURVEY.md §4).
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from weak_supervision_for_ner_spark.functions.tokenizer import tokenize_with_offsets
from weak_supervision_for_ner_spark.schema import PAGES_SCHEMA

_PEOPLE = [
    ("Barack", "Obama"), ("Angela", "Merkel"), ("Marie", "Curie"),
    ("Elena", "Vasquez"), ("Tarek", "Haddad"), ("Ingrid", "Olsen"),
    ("Hiroshi", "Tanaka"), ("Priya", "Sharma"), ("Omar", "Farouk"),
    ("Jean", "Dupont"), ("Sofia", "Marquez"), ("Erik", "Lindqvist"),
    ("Nadia", "Petrova"), ("Karl", "Bauer"), ("Mette", "Hansen"),
    ("Rahul", "Mehta"), ("Yuki", "Nakamura"), ("Clara", "Rossi"),
]
_COMPANIES = [
    "Acme Corp", "Globex", "Initech", "Umbrella Corp", "Stark Industries",
    "Wayne Enterprises", "Hooli", "Pied Piper", "Cyberdyne Systems",
    "Tyrell Corp", "Wonka Industries", "Soylent Corp", "Massive Dynamic",
    "Veridian Dynamics", "NorthWind Analytics", "BlueFjord Labs",
    "GreenVolt Energy", "Nordea Bank", "Telenor", "Statoil",
]
_COMPANY_SUFFIXES = ["Inc.", "Ltd.", "GmbH", "AG", "Corp.", "LLC", "ASA", "Plc"]
_GPES = [
    "Oslo", "Paris", "Berlin", "London", "Tokyo", "Nairobi", "New York",
    "Singapore", "Madrid", "Vienna", "Stockholm", "Helsinki", "Copenhagen",
    "Amsterdam", "Chicago", "Mumbai", "Shanghai", "Lagos", "Cairo", "Sydney",
]
_COUNTRIES = ["Norway", "France", "Germany", "Japan", "Kenya", "India", "Brazil", "Canada"]
_NORPS = ["Norwegian", "French", "German", "Japanese", "Kenyan", "Indian", "Brazilian", "Canadian"]
_LANGS = ["English", "French", "German", "Japanese", "Swahili", "Hindi", "Portuguese", "Spanish"]
_FACS = ["Central Station", "Gardermoen Airport", "Riverside Hospital", "Liberty Bridge", "Grand Hotel"]
_EVENTS = ["Winter Olympics", "Cannes Festival", "Climate Summit", "World Cup", "Solar Revolution"]
_LAWS = ["Kyoto Protocol", "Lisbon Treaty", "Privacy Act", "Trade Agreement", "Energy Directive"]
_PRODUCTS = ["iPhone", "ThinkPad", "Roomba", "Kindle", "PlayStation 5", "AeroGlide 9", "SkyWing Drone"]
_MONTH_NAMES = ["January", "February", "March", "April", "June", "July",
                "August", "September", "October", "November", "December"]
_DAYS = ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday"]

_HOT_DOMAINS = ["news.example.com", "blog.example.org"]
_COLD_DOMAINS = [f"site{i}.example.net" for i in range(40)]

_FILLER = [
    "The report was published after a long review.",
    "Officials declined to comment on the matter.",
    "Analysts expect further announcements soon.",
    "The numbers were slightly below expectations.",
    "A detailed statement will follow next quarter.",
]


class _SentenceBuilder:
    """Accumulates text while recording (start_char, end_char, label)
    gold spans for slot fills."""

    def __init__(self) -> None:
        self.parts: list[str] = []
        self.length = 0
        self.gold: list[tuple[int, int, str]] = []
        self.triples: list[tuple[str, str, str]] = []

    def triple(self, subj: str, pred: str, obj: str) -> "_SentenceBuilder":
        self.triples.append((subj, pred, obj))
        return self

    def lit(self, s: str) -> "_SentenceBuilder":
        self.parts.append(s)
        self.length += len(s)
        return self

    def ent(self, s: str, label: str) -> "_SentenceBuilder":
        self.gold.append((self.length, self.length + len(s), label))
        return self.lit(s)

    def text(self) -> str:
        return "".join(self.parts)


def _gen_sentences(rng: random.Random):
    """Generate one document's text, char-level gold spans and the
    gold relation triples seeded into it."""
    b = _SentenceBuilder()
    n_sentences = rng.choice([1, 2, 2, 3, 3, 4, 5])
    person = rng.choice(_PEOPLE)
    company = rng.choice(_COMPANIES)

    for k in range(n_sentences):
        if b.length:
            b.lit(" ")
        kind = rng.randrange(10)
        if kind == 0:
            gpe0 = rng.choice(_GPES)
            b.ent(f"{person[0]} {person[1]}", "PERSON").lit(" visited ")
            b.ent(gpe0, "GPE").lit(" on ")
            b.triple(f"{person[0]} {person[1]}", "visited", gpe0)
            day = rng.randrange(2, 28)
            b.ent(f"{day} {rng.choice(_MONTH_NAMES)} {rng.randrange(1995, 2025)}", "DATE").lit(".")
        elif kind == 1:
            suffix = rng.choice(_COMPANY_SUFFIXES)
            other = rng.choice([c for c in _COMPANIES if c != company])
            b.ent(f"{company} {suffix}", "COMPANY").lit(" acquired ")
            b.ent(other, "COMPANY")
            b.triple(f"{company} {suffix}", "acquired", other)
            b.lit(" for ")
            money = rng.choice(["$149 million", "USD3,400", "5 bln euros", "2 billion kroner"])
            b.ent(money, "MONEY").lit(".")
        elif kind == 2:
            country = rng.choice(_COUNTRIES)
            b.ent(f"{person[0]} {person[1]}", "PERSON").lit(" is the CEO of ")
            b.ent(company, "COMPANY").lit(" and was born in ")
            b.ent(country, "GPE").lit(".")
            b.triple(f"{person[0]} {person[1]}", "ceo_of", company)
            b.triple(f"{person[0]} {person[1]}", "born_in", country)
        elif kind == 3:
            b.lit("The meeting starts at ")
            b.ent(f"{rng.randrange(1, 12)}:{rng.randrange(10, 59)} pm", "TIME")
            b.lit(" on ").ent(rng.choice(_DAYS), "DATE").lit(".")
        elif kind == 4:
            b.lit("Shares rose ").ent(f"{rng.randrange(1, 40)} %", "PERCENT")
            b.lit(" after the ").ent(rng.choice(_EVENTS), "EVENT").lit(".")
        elif kind == 5:
            b.lit("The pipeline stretches ")
            b.ent(f"{rng.randrange(5, 900)} km", "QUANTITY").lit(" from ")
            b.ent(rng.choice(_GPES), "GPE").lit(" to ")
            b.ent(rng.choice(_GPES), "GPE").lit(".")
        elif kind == 6:
            art, par = rng.randrange(2, 20), rng.randrange(2, 9)
            norp, law = rng.choice(_NORPS), rng.choice(_LAWS)
            b.lit("Under ").ent(f"Article {art}, Paragraph {par}", "LAW")
            b.lit(" the ").ent(norp, "NORP")
            b.lit(" government signed the ").ent(law, "LAW").lit(".")
            b.triple(norp, "signed", law)
        elif kind == 7:
            b.lit("The ").ent(rng.choice(_NORPS), "NORP").lit(" delegation spoke ")
            b.ent(rng.choice(_LANGS), "LANGUAGE").lit(" at the ")
            b.ent(rng.choice(_FACS), "FAC").lit(".")
        elif kind == 8:
            # doc-history pair: full mention then short mention later
            gpe8 = rng.choice(_GPES)
            b.ent(f"{person[0]} {person[1]}", "PERSON").lit(" met reporters in ")
            b.ent(gpe8, "GPE").lit(". Later, ")
            b.ent(person[1], "PERSON").lit(" declined to comment.")
        else:
            product = rng.choice(_PRODUCTS)
            b.ent(company, "COMPANY").lit(" launched the ")
            b.ent(product, "PRODUCT").lit(" on the ")
            b.triple(company, "launched", product)
            b.ent(f"{rng.randrange(2, 30)}th of {rng.choice(_MONTH_NAMES)}", "DATE").lit(".")
            # doc-majority fodder: repeat the company later
            b.lit(" Analysts said ").ent(company, "COMPANY").lit(" beat expectations.")
        if rng.random() < 0.25:
            b.lit(" " + rng.choice(_FILLER))
    return b.text(), b.gold, b.triples


def make_page_full(doc_id: int, seed: int = 42):
    """Deterministic page content for one doc id (pure function);
    returns (page, gold_spans_chars, gold_triples)."""
    rng = random.Random(doc_id * 1_000_003 + seed)
    r = rng.random()
    triples: list[tuple[str, str, str]] = []
    if r < 0.01:
        text, gold = "", []
    elif r < 0.03:
        # tokenizer edge-case docs (FIXTURES.md §1)
        text = rng.choice([
            "Revenue hit USD3,400 after the Jean-Pierre deal at 4:30 pm.",
            "Obama's speech cost $149 and lasted 5bln nanoseconds.",
            "IT WAS 20 % ABOVE TARGET ON 3rd of May 1998.",
        ])
        gold = []
    else:
        text, gold, triples = _gen_sentences(rng)

    if rng.random() < 0.35:
        domain = _HOT_DOMAINS[rng.randrange(2)]
    else:
        domain = rng.choice(_COLD_DOMAINS)
    url = f"https://{domain}/article/{doc_id}"
    lang = "en" if rng.random() < 0.96 else rng.choice(["de", "fr", "es"])
    ts = datetime(2024, 1, 1) + timedelta(seconds=doc_id % 31_536_000)
    html = f"<html><head><title>{doc_id}</title></head><body><p>{text}</p></body></html>"
    page = {
        "url": url,
        "warc_ts": ts,
        "html": html.encode("utf-8"),
        "text": text,
        "lang": lang,
    }
    return page, gold, triples


def make_page(doc_id: int, seed: int = 42) -> tuple[dict, list[tuple[int, int, str]]]:
    page, gold, _ = make_page_full(doc_id, seed)
    return page, gold


def extract_text_from_html(html: bytes) -> str:
    """Deterministic html→text extraction inverse of :func:`make_page`
    (must reproduce ``text`` byte-identically per url)."""
    s = html.decode("utf-8")
    start = s.index("<p>") + 3
    end = s.rindex("</p>")
    return s[start:end]


def synth_pages(spark: SparkSession, n_docs: int, seed: int = 42,
                partitions: int | None = None) -> DataFrame:
    """Distributed deterministic corpus: content is f(doc_id, seed)."""
    base = spark.range(0, n_docs, numPartitions=partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [make_page(int(i), seed)[0] for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return base.mapInPandas(gen, schema=PAGES_SCHEMA)


def synth_pages_hot_domain(
    spark: SparkSession, n_docs: int, seed: int = 42,
    partitions: int | None = None, hot_frac: int = 2, n_templates: int = 128,
    placement: str = "interleaved",
) -> DataFrame:
    """Adversarially SKEWED corpus for the skew-stress bench: 1 in
    ``hot_frac`` docs (default: 50%) serves one of only ``n_templates``
    distinct texts from a single hot domain — the hot-domain +
    boilerplate-content shape that melts un-salted partitionings and
    uncapped LSH buckets. Urls stay unique (crawls re-crawl content
    under new urls, they do not duplicate urls).

    ``placement`` controls WHERE the hot docs sit in the id space, and
    is designed so both values generate the IDENTICAL multiset of
    texts (the skew ratio then isolates data placement from work
    content — r5 review: differing text mass between variants
    conflated workload with skew):
    - "interleaved": hot docs at i % hot_frac == 0, template
      (i // hot_frac) % n_templates, cold docs = make_page(i) at the
      remaining ids (note (i//hot_frac)%n, NOT i%n — hot ids share a
      stride with hot_frac, so i%128 over even ids reaches only 64
      templates);
    - "block": the same hot docs occupy the CONTIGUOUS front
      [0, n/hot_frac) of the id space (template rank % n_templates) and
      the same cold docs fill the rest — with range-partitioned input,
      whole partitions become all-boilerplate, the worst case for
      per-partition work balance."""
    if n_docs % hot_frac != 0:
        # the two placements count hot docs differently on a remainder
        # (ceil vs floor), silently breaking the identical-multiset
        # invariant the skew ratios rest on — refuse rather than skew
        # the skew bench (r5 review)
        raise ValueError(
            f"n_docs={n_docs} must be divisible by hot_frac={hot_frac}: "
            "otherwise 'interleaved' and 'block' placements generate "
            "different text multisets and the skew comparison is confounded"
        )
    base = spark.range(0, n_docs, numPartitions=partitions)
    n_hot = n_docs // hot_frac

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                if placement == "interleaved":
                    hot, rank = (i % hot_frac == 0), i // hot_frac
                    cold_id = i
                else:
                    hot, rank = (i < n_hot), i
                    # cold rank r maps to the SAME cold doc ids the
                    # interleaved layout uses (ids not divisible by
                    # hot_frac), keeping the text multisets identical
                    r = i - n_hot
                    cold_id = (r // (hot_frac - 1)) * hot_frac + (r % (hot_frac - 1)) + 1
                if hot:
                    page = dict(make_page(rank % n_templates, seed)[0])
                    page["url"] = f"https://hot.example.net/article/{i}"
                else:
                    page = dict(make_page(cold_id, seed)[0])
                    page["url"] = page["url"] + f"?p={i}"
                rows.append(page)
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return base.mapInPandas(gen, schema=PAGES_SCHEMA)


GOLD_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("start", T.IntegerType(), False),
    T.StructField("end", T.IntegerType(), False),
    T.StructField("label", T.StringType(), False),
])


def gold_token_spans(text: str, char_gold: list[tuple[int, int, str]]):
    """Map char-level gold spans to token intervals of the canonical
    tokenizer."""
    tokens, offsets = tokenize_with_offsets(text)
    out = []
    for cs, ce, label in char_gold:
        idx = [i for i, o in enumerate(offsets) if cs <= o < ce]
        if idx:
            out.append((idx[0], idx[-1] + 1, label))
    return out


GOLD_TRIPLES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("subj", T.StringType(), False),
    T.StructField("pred", T.StringType(), False),
    T.StructField("obj", T.StringType(), False),
])


def synth_gold_triples(spark: SparkSession, n_docs: int, seed: int = 42,
                       partitions: int | None = None) -> DataFrame:
    """The relation triples the generator seeded into each document —
    ground truth for end-to-end KG quality (only emitted for docs the
    pipeline ingests, i.e. lang == en)."""
    base = spark.range(0, n_docs, numPartitions=partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                page, _gold, triples = make_page_full(int(i), seed)
                if page["lang"] != "en":
                    continue
                for subj, pred, obj in triples:
                    rows.append((page["url"], subj, pred, obj))
            yield pd.DataFrame(rows, columns=["url", "subj", "pred", "obj"])

    return base.mapInPandas(gen, schema=GOLD_TRIPLES_SCHEMA)


def synth_gold(spark: SparkSession, n_docs: int, seed: int = 42,
               partitions: int | None = None) -> DataFrame:
    base = spark.range(0, n_docs, numPartitions=partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                page, char_gold = make_page(int(i), seed)
                for s, e, label in gold_token_spans(page["text"], char_gold):
                    rows.append((page["url"], s, e, label))
            yield pd.DataFrame(rows, columns=["url", "start", "end", "label"])

    return base.mapInPandas(gen, schema=GOLD_SCHEMA)
