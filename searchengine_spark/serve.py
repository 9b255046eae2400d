"""Long-lived interactive serving over the cached index.

The reference is, end to end, a served app: a Streamlit loop that
takes a query, scores it against pre-built index frames, and prints
top-10 results with truncated document text
(/root/reference/pyapp.py:82-121; devcontainer runs
`streamlit run pyapp.py`). This module is that user experience on the
Spark engine without the Streamlit dependency: build + cache the
index ONCE at startup (the reference's offline-build /
interactive-query architecture), then answer queries from the warm
cache — as a stdlib-only HTTP JSON endpoint and/or a terminal REPL.

Serving layout (serving_layout, built once at start-up): two cached
tables hash-partitioned by doc_id into SERVING_PARTITIONS — the impact
table (word, doc_id, term_score), every posting's BM25 contribution
at the default parameters, and the snippet table (doc_id, snippet),
one truncated text per doc.

Serving path per query: tokenize driver-side (tiny), filter the
impact table by the query terms, sum per doc with no exchange (the
table is already partitioned by doc_id), top-k via
TakeOrderedAndProject, then hash only those k hits into the snippet
table's partitioning and join (not the reference's N+1 per-hit
collect loop — pyapp.py:110-114; no corpus scan or text shuffle per
request), literal highlight. Scoring and highlighting are
index/bm25.py's; calls with non-default BM25 parameters fall back to
its lazy tf⋈idf⋈doc_lengths path.

Usage:
    python -m searchengine_spark.serve --sf-dir /root/testdata/sf0.01 --port 8765
    python -m searchengine_spark.serve --sf-dir ... --repl
"""

from __future__ import annotations

import json
from dataclasses import replace
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.index.bm25 import term_scores
from searchengine_spark.index.builder import InvertedIndex

# Upper bound on requested result-list size for both HTTP endpoints:
# k drives a post-limit collect, so an unbounded k is an unbounded
# driver materialization — clamp, don't trust the client.
MAX_K = 100
# Partitions of the cached serving tables: an interactive query is
# task-scheduling-bound, not data-bound (kilobytes of hits per task),
# so a few partitions per serving executor keep it cheap.
SERVING_PARTITIONS = 4


def serving_layout(
    index: InvertedIndex, docs: DataFrame, *, snippet_len: int
) -> tuple[InvertedIndex, DataFrame]:
    """(serving index, snippet table), both cached and built by one
    action.

    - ``impacts`` (word, doc_id, term_score): every posting's BM25
      contribution at the default parameters (bm25.term_scores),
      hash-partitioned by doc_id into SERVING_PARTITIONS, so search()'s
      per-doc sum needs no exchange.
    - snippet table (doc_id, snippet): one row per doc, partitioned
      like the impacts. Duplicate doc_ids keep min(text), the rule
      bm25.snippets() applies; truncating before the min picks the
      same prefix (a prefix of the least string is the least prefix),
      so a shuffle of the rows moves only ``snippet_len`` characters.

    Only what requests read stays cached: the impacts, the snippets,
    idf_values (the fuzzy path's vocabulary) and scoring_params; the
    rest of the index stays lazy for calls the impacts cannot answer.
    With ``docs`` hash-partitioned by doc_id into SERVING_PARTITIONS and
    the index built from them (as SearchService does), tf, the broadcast
    joins of term_scores and the snippet rows all keep that
    partitioning, and both repartitions below are no-ops; otherwise
    they shuffle."""
    n = SERVING_PARTITIONS
    served = replace(
        index,
        idf_values=index.idf_values.coalesce(n).cache(),
        scoring_params=index.scoring_params.cache(),
    )
    impacts = term_scores(served).repartition(n, "doc_id").cache()
    snips = (
        docs.select("doc_id", F.substring("text", 1, snippet_len).alias("snippet"))
        .repartition(n, "doc_id")
        .groupBy("doc_id")
        .agg(F.min("snippet").alias("snippet"))
        .cache()
    )
    # one action builds both tables and the idf/params caches they read
    snips.select("doc_id").union(impacts.select("doc_id")).count()
    return replace(served, impacts=impacts), snips


class SearchService:
    """Build-once/query-many façade over the index + serving helpers."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        *,
        stem: bool = False,
        snippet_len: int = 200,
        multilingual: bool = False,
    ) -> None:
        from searchengine_spark.index.builder import build_index
        from searchengine_spark.io import load_table

        self._spark = spark
        self._stem = stem
        self._multilingual = multilingual
        if multilingual and stem:
            raise ValueError(
                "stem applies to the English Porter pipeline; the "
                "multilingual index routes per-language instead"
            )
        # Partitioned like the serving tables and cached for the build
        # only: tokens, tf, doc_lengths, impacts and snippets all keep
        # this partitioning, so set-up shuffles the corpus once.
        docs = (
            load_table(spark, sf_dir, "documents")
            .repartition(SERVING_PARTITIONS, "doc_id")
            .cache()
        )
        try:
            if multilingual:
                # Language-routed index (text/multilingual.py): NFC +
                # langid + per-language stopwords + CJK bigrams. Snippets
                # still render from the ORIGINAL text — normalization is
                # a matching key, not a display rewrite.
                from searchengine_spark.text.multilingual import routed_frame

                routed = routed_frame(docs).select("doc_id", "words")
                index = build_index(routed, tokens=F.col("words"))
            else:
                index = build_index(docs, stem=stem)
            # Built before the first user query, so first-hit latency is
            # query cost, not index build (the reference pays its 1-2 min
            # cold start inside the first Streamlit interaction).
            self._index, self._snippets = serving_layout(
                index, docs, snippet_len=snippet_len
            )
        finally:
            docs.unpersist()
        # embeddings power /similar; optional in custom datasets
        import os

        from searchengine_spark.io import table_path

        self._emb = None
        if os.path.exists(table_path(sf_dir, "embeddings")):
            self._emb = (
                load_table(spark, sf_dir, "embeddings")
                .coalesce(SERVING_PARTITIONS)
                .cache()
            )

    def _with_snippets(self, hits: DataFrame) -> DataFrame:
        """Each hit joined to its cached snippet row. The hint makes the
        k hits the hashed build side: they are shuffled into the
        snippet table's doc_id partitioning, which is neither shuffled
        nor broadcast (by size alone Spark would broadcast the whole
        table on every request). The hits' order is not kept."""
        return hits.hint("shuffle_hash").join(self._snippets, "doc_id", "left")

    def query(
        self, q: str, k: int = 10, *, fuzzy: bool = False
    ) -> list[dict[str, Any]]:
        """Top-k hits with highlighted snippets, as plain dicts.

        ``fuzzy``: query terms missing from the vocabulary are
        replaced by their closest in-vocabulary suggestion (distance
        then doc_freq) before scoring — typo tolerance the reference
        lacks (its unknown terms silently contribute nothing)."""
        from searchengine_spark.index.bm25 import highlight, search

        highlight_terms = [q]
        if self._multilingual:
            if fuzzy:
                raise ValueError(
                    "fuzzy correction is vocabulary-keyed to the English "
                    "pipeline; not combinable with the routed index"
                )
            from searchengine_spark.text.multilingual import (
                routed_query_terms,
            )

            terms = routed_query_terms(q)
            hits = search(self._index, terms, k=k)
            # every routed term (CJK bigrams included) is a literal
            # substring of the original text, so highlight matches it
            highlight_terms = terms
        elif fuzzy:
            from searchengine_spark.index.phrase import search_with_correction
            from searchengine_spark.text.tokenizer import tokenize_query

            hits, corrections = search_with_correction(
                self._index, q, k=k, stem=self._stem
            )
            # Highlight the terms actually SEARCHED, each on its own:
            # a raw substring rewrite of q would miss case variants
            # ('Sparkk' vs the lowercased correction key) and corrupt
            # words that merely contain the typo as a substring.
            highlight_terms = [
                corrections.get(t, t)
                for t in tokenize_query(q, stem=self._stem)
                if corrections.get(t, t) is not None
            ]
        else:
            hits = search(self._index, q, k=k, stem=self._stem)
        # k rows, post-limit — the only driver collect
        rows = highlight(
            self._with_snippets(hits), "snippet", highlight_terms
        ).collect()
        return [
            {
                "doc_id": r["doc_id"],
                "total_score": round(float(r["total_score"]), 6),
                "snippet": r["snippet"],
            }
            for r in _by_score(rows, "total_score")
        ]


    def similar(
        self, doc_id: int, q: str | None = None, k: int = 10
    ) -> list[dict[str, Any]]:
        """More-like-this: embedding neighbors of ``doc_id``, optionally
        RRF-fused with a BM25 keyword list (index/hybrid.py) — "find
        docs like this one, about <terms>". Brute cosine is the right
        serving shape at cached-table scale; at 100 TB swap the
        semantic list for the IVF probe (operators/ann.py) — the
        fusion contract is rank lists, so nothing else changes."""
        from searchengine_spark.index.bm25 import search
        from searchengine_spark.index.hybrid import FUSE_N, _ranked, rrf_fuse
        from searchengine_spark.operators.similarity import cosine_expr

        if self._emb is None:
            raise ValueError("no embeddings table in this dataset")
        qv = self._emb.filter(F.col("vec_id") == doc_id).select(
            F.col("embedding").alias("qvec")
        )
        if not qv.take(1):
            raise ValueError(f"unknown doc_id {doc_id}")
        sem_scores = (
            self._emb.filter(F.col("vec_id") != doc_id)
            .crossJoin(F.broadcast(qv))
            .select(
                F.col("vec_id").alias("doc_id"),
                F.round(
                    cosine_expr(F.col("embedding"), F.col("qvec")), 6
                ).alias("cosine"),
            )
        )
        lists = [_ranked(sem_scores, "cosine", "doc_id", FUSE_N)]
        if q:
            lists.append(
                _ranked(
                    search(self._index, q, k=FUSE_N, stem=self._stem),
                    "total_score",
                    "doc_id",
                    FUSE_N,
                )
            )
        fused = (
            rrf_fuse(lists)
            .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
            .limit(k)
        )
        rows = self._with_snippets(fused).collect()
        return [
            {
                "doc_id": r["doc_id"],
                "rrf_score": round(float(r["rrf_score"]), 6),
                "snippet": r["snippet"],
            }
            for r in _by_score(rows, "rrf_score")
        ]


def _by_score(rows: list, score: str) -> list:
    """Collected hits in result order — score desc, doc_id asc — since
    the snippet join does not keep the order of the ranked frame."""
    return sorted(rows, key=lambda r: (-r[score], r["doc_id"]))


def make_http_server(service: SearchService, port: int = 0):
    """stdlib ThreadingHTTPServer: GET /search?q=...&k=10 -> JSON hits;
    GET /healthz -> ok. Returns the (not yet serving) server object so
    callers control the serve_forever lifecycle (tests run it in a
    thread; __main__ blocks on it)."""
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qs, urlparse

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self) -> None:  # noqa: N802 — http.server API
            url = urlparse(self.path)
            if url.path == "/healthz":
                self._reply(200, {"status": "ok"})
                return
            if url.path == "/similar":
                params = parse_qs(url.query)
                try:
                    doc_id = int((params.get("doc_id") or [""])[0])
                except ValueError:
                    self._reply(400, {"error": "doc_id must be an integer"})
                    return
                # parse/validate k BEFORE the serving try: a malformed k
                # is a client error (400), never a 500
                try:
                    k = int((params.get("k") or ["10"])[0])
                except ValueError:
                    self._reply(400, {"error": "k must be an integer"})
                    return
                if k < 1:
                    self._reply(400, {"error": "k must be >= 1"})
                    return
                k = min(k, MAX_K)  # bounded collect is the serving contract
                q = (params.get("q") or [None])[0]
                try:
                    self._reply(
                        200,
                        {
                            "doc_id": doc_id,
                            "results": service.similar(doc_id, q=q, k=k),
                        },
                    )
                except ValueError as exc:
                    # unknown doc_id (or a dataset without embeddings):
                    # the resource does not exist — 404, not 500
                    self._reply(404, {"error": str(exc)[:300]})
                except Exception as exc:  # noqa: BLE001 — keep serving
                    self._reply(
                        500, {"error": f"{type(exc).__name__}: {exc}"[:300]}
                    )
                return
            if url.path != "/search":
                self._reply(
                    404, {"error": "unknown path; use /search?q=... or /similar?doc_id=..."}
                )
                return
            params = parse_qs(url.query)
            q = (params.get("q") or [""])[0]
            try:
                k = int((params.get("k") or ["10"])[0])
            except ValueError:
                self._reply(400, {"error": "k must be an integer"})
                return
            if k < 1:
                self._reply(400, {"error": "k must be >= 1"})
                return
            k = min(k, MAX_K)
            if not q:
                self._reply(400, {"error": "missing query parameter q"})
                return
            fuzzy = (params.get("fuzzy") or ["0"])[0] in ("1", "true", "yes")
            try:
                self._reply(
                    200,
                    {"query": q, "results": service.query(q, k=k, fuzzy=fuzzy)},
                )
            except Exception as exc:  # noqa: BLE001 — a bad query must not kill the server
                self._reply(500, {"error": f"{type(exc).__name__}: {exc}"[:300]})

        def _reply(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args) -> None:  # quiet test output
            pass

    return ThreadingHTTPServer(("127.0.0.1", port), Handler)


def repl(service: SearchService) -> None:
    """Terminal loop mirroring the Streamlit input->results flow."""
    while True:
        try:
            q = input("search> ").strip()
        except EOFError:
            return
        if q in ("", ":q", "exit", "quit"):
            return
        for hit in service.query(q):
            print(f"doc {hit['doc_id']:>8}  score {hit['total_score']:.4f}  {hit['snippet'][:120]}")


def main() -> None:
    import argparse

    from searchengine_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--port", type=int, default=8765)
    ap.add_argument("--stem", action="store_true")
    ap.add_argument("--repl", action="store_true")
    ap.add_argument(
        "--multilingual",
        action="store_true",
        help="serve the language-routed index (NFC + langid + "
        "per-language stopwords + CJK bigrams)",
    )
    args = ap.parse_args()

    spark = get_spark("searchengine-serve")
    service = SearchService(
        spark, args.sf_dir, stem=args.stem, multilingual=args.multilingual
    )
    if args.repl:
        repl(service)
    else:
        server = make_http_server(service, port=args.port)
        print(f"serving on http://127.0.0.1:{server.server_address[1]}/search?q=...")
        server.serve_forever()


if __name__ == "__main__":
    main()
