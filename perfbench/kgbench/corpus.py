"""Benchmark corpora, generated from the workload seed.

The program reads each corpus from a parquet table that set-up writes
with ``sources.pages.synth_pages``. The same documents are produced here
in plain Python (the generator is a pure function of doc id and seed)
for the single-node oracle and for the generator's gold triples.
"""

from __future__ import annotations

from dataclasses import dataclass

from weak_supervision_for_ner_spark.sources.pages import make_page_full, synth_pages


@dataclass(frozen=True)
class Corpus:
    n_docs: int
    files: int       # parquet files written by set-up

    def stage(self, spark, seed: int, path: str) -> None:
        synth_pages(spark, self.n_docs, seed=seed, partitions=self.files) \
            .write.mode("overwrite").parquet(path)

    def pages(self, seed: int) -> list[dict]:
        return [make_page_full(i, seed)[0] for i in range(self.n_docs)]

    def gold(self, seed: int) -> set[tuple[str, str, str, str]]:
        """(url, subj, pred, obj) relations seeded into English docs."""
        out = set()
        for i in range(self.n_docs):
            page, _, triples = make_page_full(i, seed)
            if page["lang"] == "en":
                out.update((page["url"], s, p, o) for s, p, o in triples)
        return out
