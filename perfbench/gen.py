"""Seeded input generator for the benchmark workloads.

Everything the package sees is written here as parquet; everything the
checker needs (token counts, planted duplicates, query streams) is kept
in memory as numpy arrays. The same seed gives byte-identical files.

Corpus model: a Zipf vocabulary of ``VOCAB`` random lowercase words
(length 3..10, never a stopword), lognormal document lengths. Every
word is one the package tokenizer keeps unchanged, so the token counts
drawn here are exactly the counts the index holds.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The package's English stopword list (text/tokenizer.STOPWORDS),
# restated so the generator runs without importing the package. A
# generated word equal to one of these would be dropped by the
# tokenizer and break the exact oracle; the self-test checks the two
# lists agree.
STOPWORDS = frozenset(
    (
        "a an and are as at be been but by for from had has have he her his i "
        "in is it its not of on or s she so t that the their them they this to "
        "was we were which will with you"
    ).split()
)

# The corpus and query model below is an assumption of this benchmark,
# not fitted to any measured corpus or query log; METRICS.md lists which
# gated figures depend on each choice.
VOCAB = 30_000
ZIPF_S = 1.05
DOC_LEN_MEDIAN = 90.0
DOC_LEN_SIGMA = 0.7
LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


@dataclass
class Corpus:
    """Token ids per document, concatenated, with per-document offsets."""

    vocab: list[str]
    doc_ids: np.ndarray          # int64, ascending
    offsets: np.ndarray          # doc i's tokens are tokens[offsets[i]:offsets[i+1]]
    tokens: np.ndarray           # int32 word ids

    @property
    def n_docs(self) -> int:
        return len(self.doc_ids)

    def doc_lengths(self) -> np.ndarray:
        return np.diff(self.offsets)

    def text(self, i: int) -> str:
        return " ".join(self.vocab[w] for w in self.tokens[self.offsets[i] : self.offsets[i + 1]])

    def subset(self, rows: np.ndarray) -> "Corpus":
        rows = np.asarray(rows, dtype=np.int64)
        lens = self.doc_lengths()[rows]
        offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)
        tokens = (
            np.concatenate([self.tokens[self.offsets[r] : self.offsets[r + 1]] for r in rows])
            if len(rows)
            else np.zeros(0, np.int32)
        )
        return Corpus(self.vocab, self.doc_ids[rows], offsets, tokens)

    def write_parquet(self, path: str) -> int:
        """Write (doc_id, text); returns the total text bytes."""
        texts = [self.text(i) for i in range(self.n_docs)]
        table = pa.table(
            {
                "doc_id": pa.array(self.doc_ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
            }
        )
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path, compression="snappy")
        return sum(len(t.encode()) for t in texts)


def make_vocab(rng: np.random.Generator) -> list[str]:
    """``VOCAB`` distinct random words the tokenizer keeps (alpha, len>=3, no stopword)."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < VOCAB:
        lens = rng.integers(3, 11, size=2 * VOCAB)
        letters = LETTERS[rng.integers(0, 26, size=int(lens.sum()))].tobytes().decode()
        pos = 0
        for ln in lens:
            w = letters[pos : pos + ln]
            pos += ln
            if w not in seen and w not in STOPWORDS:
                seen.add(w)
                out.append(w)
                if len(out) == VOCAB:
                    break
    return out


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def make_corpus(
    rng: np.random.Generator,
    vocab: list[str],
    n_docs: int,
    *,
    first_id: int = 1,
) -> Corpus:
    lens = np.clip(
        np.round(rng.lognormal(np.log(DOC_LEN_MEDIAN), DOC_LEN_SIGMA, size=n_docs)), 12, 1500
    ).astype(np.int64)
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)
    probs = zipf_probs(len(vocab), ZIPF_S)
    tokens = rng.choice(len(vocab), size=int(offsets[-1]), p=probs).astype(np.int32)
    doc_ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    return Corpus(vocab, doc_ids, offsets, tokens)


class Postings:
    """word id -> (doc row, tf) over the docs of a corpus, as CSR arrays."""

    def __init__(self, corpus: Corpus):
        rows = np.repeat(np.arange(corpus.n_docs, dtype=np.int64), corpus.doc_lengths())
        key = corpus.tokens.astype(np.int64) * corpus.n_docs + rows
        uniq, tf = np.unique(key, return_counts=True)
        self.word = (uniq // corpus.n_docs).astype(np.int64)
        self.row = (uniq % corpus.n_docs).astype(np.int64)
        self.tf = tf.astype(np.int64)
        self.start = np.searchsorted(self.word, np.arange(len(corpus.vocab) + 1))
        self.df = np.diff(self.start)

    def of(self, w: int) -> tuple[np.ndarray, np.ndarray]:
        a, b = self.start[w], self.start[w + 1]
        return self.row[a:b], self.tf[a:b]


# ----------------------------------------------------------- queries

TERMS_PER_QUERY = (1, 2, 3, 4)
TERMS_WEIGHTS = (0.3, 0.35, 0.2, 0.15)
TYPO_SHARE = 0.05
OOV_SHARE = 0.05
# Head / torso cut-offs by document-frequency rank, and the Zipf
# exponent of query popularity over the pool.
HEAD_WORDS = 50
TORSO_END = 2000
QUERY_ZIPF_S = 1.1


def _band_words(df: np.ndarray) -> dict[str, np.ndarray]:
    """Head / torso / tail of the indexed vocabulary by document frequency.

    Word ids are Zipf ranks, so posting lengths fall by orders of
    magnitude from head to tail."""
    present = np.flatnonzero(df > 0)
    return {
        "head": present[:HEAD_WORDS],
        "torso": present[HEAD_WORDS:TORSO_END],
        "tail": present[TORSO_END:],
    }


def distance1_variants(word: str) -> set[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = set()
    for i in range(len(word) + 1):
        for c in letters:
            out.add(word[:i] + c + word[i:])
    for i in range(len(word)):
        out.add(word[:i] + word[i + 1 :])
        for c in letters:
            if c != word[i]:
                out.add(word[:i] + c + word[i + 1 :])
    return out


def make_typo(rng: np.random.Generator, word: str, vocab_set: set[str]) -> str | None:
    """A distance-1 edit of ``word`` whose only in-vocabulary neighbour at
    distance <= 1 is ``word`` itself, so fuzzy correction must restore it."""
    for _ in range(20):
        i = int(rng.integers(0, len(word)))
        c = "abcdefghijklmnopqrstuvwxyz"[int(rng.integers(0, 26))]
        if c == word[i]:
            continue
        typo = word[:i] + c + word[i + 1 :]
        if typo in vocab_set or typo in STOPWORDS:
            continue
        if (distance1_variants(typo) & vocab_set) == {word}:
            return typo
    return None


def make_query_pool(
    rng: np.random.Generator,
    vocab: list[str],
    df: np.ndarray,
    n: int,
    *,
    typo_share: float = TYPO_SHARE,
) -> list[dict]:
    """Distinct queries: 1-4 terms from the head/torso/tail bands.

    Each entry: ``q`` (the text sent), ``clean`` (the terms the result
    must be scored on), ``fuzzy`` (send with fuzzy=1)."""
    bands = _band_words(df)
    band_names = ("head", "torso", "tail")
    indexed = {vocab[w] for w in np.flatnonzero(df > 0)}
    pool: list[dict] = []
    seen: set[str] = set()
    while len(pool) < n:
        n_terms = int(rng.choice(TERMS_PER_QUERY, p=TERMS_WEIGHTS))
        words = []
        for _ in range(n_terms):
            band = bands[band_names[int(rng.integers(0, 3))]]
            words.append(vocab[int(band[int(rng.integers(0, len(band)))])])
        if len(set(words)) != len(words):
            continue
        kind = rng.random()
        fuzzy = False
        sent = list(words)
        clean = list(words)
        if kind < typo_share:
            j = int(rng.integers(0, n_terms))
            typo = make_typo(rng, words[j], indexed)
            if typo is None:
                continue
            sent[j] = typo
            fuzzy = True
        elif kind < typo_share + OOV_SHARE:
            oov = "".join(LETTERS[rng.integers(0, 26, size=12)].tobytes().decode())
            if oov in indexed:
                continue
            sent.append(oov)
        q = " ".join(sent)
        if q in seen:
            continue
        seen.add(q)
        pool.append({"q": q, "clean": clean, "fuzzy": fuzzy})
    return pool


def zipf_stream(rng: np.random.Generator, pool_size: int, length: int) -> list[int]:
    """Query ids with Zipf popularity: a few repeat often, most once."""
    probs = zipf_probs(pool_size, QUERY_ZIPF_S)
    return [int(i) for i in rng.choice(pool_size, size=length, p=probs)]


# --------------------------------------------------------- workloads


def serve_inputs(seed: int, out_dir: str, *, n_docs: int = 4000) -> dict:
    rng = np.random.default_rng([seed, 1])
    vocab = make_vocab(rng)
    corpus = make_corpus(rng, vocab, n_docs)
    text_bytes = corpus.write_parquet(os.path.join(out_dir, "documents.parquet"))
    post = Postings(corpus)
    pool = make_query_pool(rng, vocab, post.df, 600)
    stream = zipf_stream(rng, len(pool), 4000)
    return {"corpus": corpus, "postings": post, "pool": pool, "stream": stream,
            "text_bytes": text_bytes}


# corpus_to_index plants these shares of the corpus as copies of
# earlier documents (higher doc_id than their original).
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.05
NEAR_DUP_EDITS = 0.015  # share of a near-copy's tokens replaced


# After the flow, corpus_to_index appends this many batches of new
# documents to the reloaded index and queries after each.
APPEND_BATCHES = 2
APPEND_DOCS = 150
QUERIES_PER_APPEND = 2


def flow_inputs(seed: int, out_dir: str, *, n_docs: int = 1500) -> dict:
    rng = np.random.default_rng([seed, 2])
    vocab = make_vocab(rng)
    n_exact = int(n_docs * EXACT_DUP_SHARE)
    n_near = int(n_docs * NEAR_DUP_SHARE)
    n_orig = n_docs - n_exact - n_near
    base = make_corpus(rng, vocab, n_orig)
    originals = rng.choice(n_orig, size=n_exact + n_near, replace=False)
    lens = list(base.doc_lengths())
    toks = [base.tokens[base.offsets[i] : base.offsets[i + 1]] for i in range(n_orig)]
    probs = zipf_probs(len(vocab), ZIPF_S)
    kinds: list[str] = ["orig"] * n_orig
    for j, o in enumerate(originals):
        t = toks[o].copy()
        if j >= n_exact:
            n_edit = max(1, int(round(len(t) * NEAR_DUP_EDITS)))
            pos = rng.choice(len(t), size=n_edit, replace=False)
            t[pos] = rng.choice(len(vocab), size=n_edit, p=probs)
            kinds.append("near")
        else:
            kinds.append("exact")
        toks.append(t)
        lens.append(len(t))
    # Planted copies sit after their originals in doc_id order, so exact
    # dedup (keep min doc_id) and near-dup removal (drop the higher id)
    # both keep the original. The append batches follow the corpus.
    extra = make_corpus(rng, vocab, APPEND_BATCHES * APPEND_DOCS, first_id=n_docs + 1)
    lens += list(extra.doc_lengths())
    toks.append(extra.tokens)
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)
    corpus = Corpus(vocab, np.arange(1, len(lens) + 1, dtype=np.int64), offsets,
                    np.concatenate(toks).astype(np.int32))
    text_bytes = corpus.subset(np.arange(n_docs)).write_parquet(
        os.path.join(out_dir, "documents.parquet"))
    batches = [np.arange(n_docs + b * APPEND_DOCS, n_docs + (b + 1) * APPEND_DOCS)
               for b in range(APPEND_BATCHES)]
    for b, rows in enumerate(batches):
        corpus.subset(rows).write_parquet(os.path.join(out_dir, f"batch_{b}.parquet"))
    post = Postings(corpus)
    pool = make_query_pool(rng, vocab, post.df, 150, typo_share=0.0)
    return {"corpus": corpus, "postings": post, "pool": pool, "kinds": np.array(kinds),
            "n_docs": n_docs, "batches": batches, "text_bytes": text_bytes}
