"""Independent answers the benchmark checks the program against.

The query embedding is re-derived here from its definition (hashed
bag-of-words: md5 bucket per token, counts, l2-normalised), and top-k is
an exact numpy scan over a snapshot of the committed table, with scores
rounded to 6 digits and ties broken by ascending id, as the engine
documents for every kNN path. Hybrid answers are checked against the
bounds an exact evaluation of the hybrid contract puts on each row's
fused score.
"""

from __future__ import annotations

import functools
import hashlib
from collections import Counter

import numpy as np

ROUND = 6
TIE_EPS = 1.5e-6  # two scores this close may order either way
# two unrounded cosines this close are equal but for the order in which
# a float sum added their terms
COS_EPS = 1e-12
RRF_K = 60


def embed(texts: list[str], dim: int) -> np.ndarray:
    out = np.zeros((len(texts), dim))
    for i, t in enumerate(texts):
        for tok in t.split():
            out[i, int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % dim] += 1
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return out / norms


class Snapshot:
    """Rows of the chunks table at one version, held as numpy arrays."""

    def __init__(self, pdf):
        self.pdf = pdf.sort_values("chunk_id").reset_index(drop=True)
        self.ids = self.pdf["chunk_id"].to_numpy().astype(str)
        self.mat = np.stack(self.pdf["embedding"].to_numpy())

    def mask(self, filters: dict | None) -> np.ndarray:
        keep = np.ones(len(self.ids), dtype=bool)
        for col, val in (filters or {}).items():
            vals = self.pdf[col]
            keep &= (vals.isin(val) if isinstance(val, list)
                     else vals == val).to_numpy()
        return keep

    def topk(self, qv: np.ndarray, k: int, filters: dict | None = None):
        keep = self.mask(filters)
        ids, scores = self.ids[keep], np.round(self.mat[keep] @ qv, ROUND)
        order = np.lexsort((ids, -scores))[:k]
        return [(ids[i], float(scores[i])) for i in order], ids, scores

    @functools.cached_property
    def term_counts(self) -> list[Counter]:
        return [Counter(t.split(" ")) for t in self.pdf["text"]]

    def hybrid_bounds(self, qv: np.ndarray, terms: list[str], n: int):
        """Lowest and highest fused score each row can take under the
        hybrid contract: keyword rank by (-summed tf, id), vector rank
        by (-unrounded cosine, id), each capped at n+1, score
        1/(60+rank_kw) + 1/(60+rank_vec) rounded to 6 digits. A row
        whose cosine lies within COS_EPS of a neighbour's may take any
        rank of that run of near-equal cosines: which of them comes
        first depends only on float summation order."""
        ids = self.ids
        tf = np.array([sum(c[t] for t in terms) for c in self.term_counts])
        rank_kw = np.empty(len(ids), dtype=np.int64)
        rank_kw[np.lexsort((ids, -tf))] = np.arange(1, len(ids) + 1)
        cos = self.mat @ qv
        order = np.lexsort((ids, -cos))
        new_run = np.r_[True, -np.diff(cos[order]) > COS_EPS]
        starts = np.flatnonzero(new_run)
        run = np.cumsum(new_run) - 1
        ends = np.r_[starts[1:], len(ids)]
        best, worst = np.empty_like(rank_kw), np.empty_like(rank_kw)
        best[order], worst[order] = starts[run] + 1, ends[run]

        def rrf(rank_vec):
            return np.round(1.0 / (RRF_K + np.minimum(rank_kw, n + 1))
                            + 1.0 / (RRF_K + np.minimum(rank_vec, n + 1)),
                            ROUND)

        return rrf(worst), rrf(best)


def same_ranking(got: list[tuple], want: list[tuple], ids, scores) -> bool:
    """``got`` equals the oracle's top-k, allowing only swaps between
    scores within rounding distance of each other."""
    if len(got) != len(want):
        return False
    score_of = dict(zip(ids, scores))
    for (gid, gs), (wid, ws) in zip(got, want):
        if abs(gs - ws) > TIE_EPS:
            return False
        if gid != wid and abs(score_of.get(gid, np.inf) - ws) > TIE_EPS:
            return False
    return True


def hybrid_mismatch(got: list[tuple], k: int, ids, lo, hi) -> str:
    """'' when ``got``, (id, fused score) pairs, can be the hybrid top-k
    for rows whose scores lie in [lo, hi]: in (-score, id) order, each
    score within its row's bounds, and no row left out whose lowest
    score still outranks the last hit. Otherwise, what is wrong. These
    conditions are necessary, not sufficient: rows of one run of equal
    cosines are not checked to take distinct ranks."""
    if len(got) != min(k, len(ids)):
        return f"got {len(got)} hits, want {min(k, len(ids))}"
    if got != sorted(got, key=lambda h: (-h[1], h[0])):
        return "hits not in (-score, id) order"
    row = {c: i for i, c in enumerate(ids)}
    for r, (cid, s) in enumerate(got):
        i = row.get(cid)
        if i is None:
            return f"rank {r + 1}: {cid} is not in the table"
        if not lo[i] - TIE_EPS <= s <= hi[i] + TIE_EPS:
            return (f"rank {r + 1}: {cid} scored {s}, exact bounds "
                    f"[{lo[i]}, {hi[i]}]")
    left_out = np.ones(len(ids), dtype=bool)
    left_out[[row[c] for c, _ in got]] = False
    last = got[-1][1]
    beats = np.flatnonzero(left_out & (lo > last + TIE_EPS))
    if len(beats):
        j = beats[np.argmax(lo[beats])]
        return (f"{ids[j]} left out with a score of at least {lo[j]}, "
                f"above the last hit's {last}")
    return ""


def first_difference(got: list[tuple], want: list[tuple]) -> str:
    for i, (g, w) in enumerate(zip(got, want)):
        if g != w:
            return f"rank {i + 1}: got {g}, want {w}"
    return f"got {len(got)} hits, want {len(want)}"


def shingle_jaccard(a: str, b: str, n: int = 3) -> float:
    def sh(t):
        toks = t.split(" ")
        return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0
