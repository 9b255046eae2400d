"""Pure-Python BM25 over the generator's token counts, and result checks.

Scoring follows the package's documented formula (FIXTURES.md §4):
k1 = 1.2, b = 0.75, idf = log10(N/df), score summed over the distinct
query terms, ties broken by doc_id. Only the generator's arrays are
used, never the package, so a wrong index or a wrong ranking shows.
"""

from __future__ import annotations

import math

import numpy as np

K1 = 1.2
B = 0.75
TOL = 1e-6
# Scores closer than this are one tie: the engine may sum a document's
# term contributions in another order and land a last-bit apart, which
# can swap two tied documents. Within a tie any order is accepted.
TIE = 1e-9


class Bm25Oracle:
    """BM25 over the visible documents ``rows`` (default: all)."""

    def __init__(self, corpus, postings, rows: np.ndarray | None = None):
        self.corpus = corpus
        self.post = postings
        n = corpus.n_docs
        self.visible = np.ones(n, bool) if rows is None else np.isin(np.arange(n), rows)
        self.dl = corpus.doc_lengths().astype(np.float64)
        self.n_docs = int(self.visible.sum())
        self.avgdl = float(self.dl[self.visible].sum()) / self.n_docs
        self.word_id = {w: i for i, w in enumerate(corpus.vocab)}

    def term(self, word: str) -> tuple[np.ndarray, np.ndarray]:
        w = self.word_id.get(word)
        if w is None:
            return np.zeros(0, np.int64), np.zeros(0, np.int64)
        rows, tf = self.post.of(w)
        keep = self.visible[rows]
        return rows[keep], tf[keep]

    def scores(self, terms: list[str]) -> dict[int, float]:
        """doc_id -> BM25 score over the distinct ``terms``."""
        acc: dict[int, float] = {}
        for t in dict.fromkeys(terms):
            rows, tf = self.term(t)
            if not len(rows):
                continue
            idf = math.log10(self.n_docs / len(rows))
            tff = tf.astype(np.float64)
            contrib = idf * (tff * (K1 + 1.0)) / (
                tff + K1 * (1.0 - B + B * self.dl[rows] / self.avgdl)
            )
            for r, c in zip(rows.tolist(), contrib.tolist()):
                d = int(self.corpus.doc_ids[r])
                acc[d] = acc.get(d, 0.0) + c
        return acc

    def matched_rows(self, terms: list[str]) -> int:
        """tf rows a query touches: the sum of its terms' posting lengths."""
        return sum(len(self.term(t)[0]) for t in dict.fromkeys(terms))

    def topk(self, terms: list[str], k: int) -> list[tuple[int, float]]:
        s = self.scores(terms)
        return sorted(s.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def check_topk(got: list[tuple[int, float]], oracle: Bm25Oracle, terms: list[str], k: int) -> str | None:
    """None when ``got`` is the oracle's top-k; else a reason.

    Exact up to ``TOL`` on scores and ``TIE`` on ordering: the returned
    documents must be the top-k with ties broken by doc_id, except that
    documents whose scores differ by less than ``TIE`` may come in any
    order and the last tie group may be cut at any member. With at most
    two distinct terms a tie is bit-exact in any summation order, so
    there exact ties must come in doc_id order."""
    scores = oracle.scores(terms)
    commutative = len(dict.fromkeys(terms)) <= 2
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    if len(got) != min(k, len(want)):
        return f"{len(got)} hits, expected {min(k, len(want))}"
    if len({d for d, _ in got}) != len(got):
        return "duplicate doc_id"
    for d, s in got:
        if d not in scores:
            return f"doc {d} matches no query term"
        if abs(s - scores[d]) > TOL:
            return f"doc {d} score {s} != {scores[d]}"
    for (d1, _), (d2, _) in zip(got, got[1:]):
        s1, s2 = scores[d1], scores[d2]
        if s1 < s2 - TIE or (commutative and s1 == s2 and d1 > d2):
            return f"order: doc {d1} ({s1}) before doc {d2} ({s2})"
    if got:
        floor = scores[got[-1][0]]
        missing = [d for d, s in want[: len(got)] if d not in dict(got) and s > floor + TIE]
        if missing:
            return f"missing docs {missing[:3]}"
    return None


def check_index_tables(tables: dict, oracle: Bm25Oracle) -> str | None:
    """Collected idf_values / doc_lengths vs the oracle, plus (when the
    worker reported them) scoring_params and the FIXTURES.md §2
    invariants."""
    why = _check_invariants(tables["invariants"], oracle) if "invariants" in tables else None
    if why:
        return why
    want_dl = {
        int(oracle.corpus.doc_ids[r]): int(oracle.dl[r]) for r in np.flatnonzero(oracle.visible)
    }
    if dict(tables["doc_lengths"]) != want_dl:
        return "doc_lengths differ from the generator's lengths"
    df = {}
    for w in range(len(oracle.corpus.vocab)):
        n = len(oracle.term(oracle.corpus.vocab[w])[0])
        if n:
            df[oracle.corpus.vocab[w]] = n
    got = {w: (d, i) for w, d, i in tables["idf_values"]}
    if set(got) != set(df):
        return f"vocabulary {len(got)} words, expected {len(df)}"
    for w, (d, i) in got.items():
        if d != df[w]:
            return f"doc_freq({w}) {d} != {df[w]}"
        if abs(i - math.log10(oracle.n_docs / d)) > TOL:
            return f"idf({w}) {i} != log10(N/df)"
    return None


def _check_invariants(inv: dict, oracle: Bm25Oracle) -> str | None:
    if inv["sum_doc_length"] != inv["flat_words"]:
        return f"sum(doc_length) {inv['sum_doc_length']} != count(flat_words) {inv['flat_words']}"
    if not (inv["idf_values"] == inv["inverted_index"] == inv["distinct_words"]):
        return f"vocabulary counts differ: {inv}"
    if inv["tf_mismatch"] != 0:
        return f"{inv['tf_mismatch']} term_frequencies rows differ from flat_words counts"
    if inv["n_docs"] != inv["doc_lengths"]:
        return f"n_docs {inv['n_docs']} != count(doc_lengths) {inv['doc_lengths']}"
    if abs(inv["avgdl"] - inv["sum_doc_length"] / inv["doc_lengths"]) > TOL:
        return "avgdl != sum(doc_length) / count(doc_lengths)"
    if inv["n_docs"] != oracle.n_docs or abs(inv["avgdl"] - oracle.avgdl) > TOL:
        return f"scoring_params ({inv['n_docs']}, {inv['avgdl']}) != ({oracle.n_docs}, {oracle.avgdl})"
    return None
