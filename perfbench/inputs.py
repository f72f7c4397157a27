"""Seeded input generator.

Everything the benchmark feeds the program is made here from the seed:
the corpus JSONL, the append batches, the query pools and the filters.
The same seed gives byte-identical inputs. The text imitates the shape
of the engine's sf0.1 ``documents`` fixture (space-separated lower-case
words, 20-100 tokens per document) but draws from a larger Zipf-ranked
vocabulary, so keyword and vector rankings have real spread and an
exact-text query has exactly one best match.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np

# the sf0.1 fixture's 31-word vocabulary heads the Zipf ranking
BASE_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch dup"
).split()
N_SYNTH_WORDS = 4000
N_CATEGORIES = 10
DOC_TOKENS = (20, 100)  # inclusive; far below the 500-token chunk size
TAIL_TOKEN = "zqx"  # appended to a source text to make its near-duplicate
BATCH_DOCS, BATCH_DUPS = 50, 5  # per write_churn upload
N_QUERIES, N_NAME_LISTS, NAMES_PER_LIST = 512, 64, 50
QUERY_TOKENS = (2, 7)  # half-open


@dataclass
class Doc:
    filename: str
    text: str
    category: str
    dup_of: str | None = None  # source filename for a planted near-dup


@dataclass
class Inputs:
    seed: int
    corpus: list[Doc]
    batches: list[list[Doc]] = field(default_factory=list)
    queries: list[str] = field(default_factory=list)
    name_lists: list[list[str]] = field(default_factory=list)
    delete_order: list[str] = field(default_factory=list)

    def properties(self, base_docs: int) -> dict:
        """Input properties the system's behaviour depends on."""
        toks = [len(d.text.split()) for d in self.corpus]
        dups = sum(d.dup_of is not None for d in self.corpus)
        cats = [d.category for d in self.corpus]
        return {
            "docs": len(self.corpus),
            # every document is shorter than one chunk: chunks == docs
            "chunks": len(self.corpus),
            "mean_tokens": round(float(np.mean(toks)), 2),
            "mean_query_tokens": round(float(np.mean(
                [len(q.split()) for q in self.queries])), 2),
            "category_selectivity_max": round(max(
                cats.count(c) for c in set(cats)) / len(cats), 4),
            "names_selectivity": round(float(np.mean(
                [len(nl) for nl in self.name_lists])) / len(self.corpus), 4),
            "planted_dup_rate": round(dups / len(self.corpus), 4),
            "corpus_vs_serve_read": round(len(self.corpus) / base_docs, 3),
            "append_batches": len(self.batches),
            "mean_batch_docs": round(float(np.mean(
                [len(b) for b in self.batches])), 2) if self.batches else 0,
        }


def _vocabulary(rng: np.random.Generator) -> list[str]:
    cons = list("bcdfghjklmnprstvwz")
    vows = list("aeiou")
    words: set[str] = set()
    while len(words) < N_SYNTH_WORDS:
        n = int(rng.integers(2, 4))
        words.add("".join(
            cons[int(rng.integers(len(cons)))] + vows[int(rng.integers(5))]
            for _ in range(n)
        ))
    synth = sorted(words - set(BASE_WORDS) - {TAIL_TOKEN})
    rng.shuffle(synth)
    return BASE_WORDS + synth


class _TextSource:
    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.vocab = np.array(_vocabulary(rng))
        w = 1.0 / np.arange(1, len(self.vocab) + 1)
        self.p = w / w.sum()

    def text(self, n_tokens: int) -> str:
        idx = self.rng.choice(len(self.vocab), size=n_tokens, p=self.p)
        return " ".join(self.vocab[idx])

    def doc_text(self) -> str:
        lo, hi = DOC_TOKENS
        return self.text(int(self.rng.integers(lo, hi + 1)))


def generate(seed: int, n_docs: int, dup_rate: float,
             n_batches: int = 0) -> Inputs:
    rng = np.random.default_rng(seed)
    src = _TextSource(rng)

    def new_doc(tag: str, i: int, category: str | None = None) -> Doc:
        # the initial load derives category from the "c<k>_" prefix
        cat = int(rng.integers(N_CATEGORIES))
        return Doc(f"c{cat}_{tag}{i:05d}.txt", src.doc_text(),
                   category or f"cat{cat}")

    def near_dup(of: Doc, tag: str, i: int, category: str | None = None):
        # one extra token at the end: 3-shingle Jaccard >= 0.97 with the
        # source, far above the default LSH banding's ~0.5 threshold
        return Doc(
            f"{of.filename[:3]}{tag}{i:05d}.txt",
            f"{of.text} {TAIL_TOKEN}",
            category or of.category,
            dup_of=of.filename,
        )

    n_dups = int(round(n_docs * dup_rate))
    originals = [new_doc("d", i) for i in range(n_docs - n_dups)]
    sources = rng.choice(len(originals), size=n_dups, replace=False)
    corpus = originals + [
        near_dup(originals[int(s)], "p", i) for i, s in enumerate(sources)
    ]
    # deletes take originals that are neither a dup source nor a dup, so
    # every planted pair stays live for the dedup check
    src_set = {int(s) for s in sources}
    deletable = [d.filename for i, d in enumerate(originals)
                 if i not in src_set]
    order = rng.permutation(len(deletable))
    delete_order = [deletable[int(i)] for i in order[:n_batches]]
    batches = []
    doomed = set(delete_order)
    for b in range(n_batches):
        # one upload carries one category, as import_jsonl(category=) does
        cat = f"cat{b % N_CATEGORIES}"
        fresh = [new_doc(f"b{b:03d}_", i, cat)
                 for i in range(BATCH_DOCS - BATCH_DUPS)]
        picks = rng.choice(len(originals), size=BATCH_DUPS, replace=False)
        fresh += [
            near_dup(originals[int(s)], f"b{b:03d}_q", i, cat)
            for i, s in enumerate(picks)
            if originals[int(s)].filename not in doomed
        ]
        batches.append(fresh)
    # query pool: short keyword queries of 2-6 tokens; exact document
    # texts serve only write_churn's freshness probes
    queries = [src.text(int(rng.integers(*QUERY_TOKENS)))
               for _ in range(N_QUERIES)]
    names = [d.filename for d in corpus]
    name_lists = [
        [names[int(i)] for i in rng.choice(len(names), NAMES_PER_LIST,
                                           replace=False)]
        for _ in range(N_NAME_LISTS)
    ]
    return Inputs(seed, corpus, batches, queries, name_lists, delete_order)


def write_jsonl(docs: list[Doc], path: str) -> int:
    """Write (filename, text) lines; returns the bytes written."""
    with open(path, "w") as f:
        for d in docs:
            f.write(json.dumps({"filename": d.filename, "text": d.text}) + "\n")
    return os.path.getsize(path)
