"""The serving entry point: start the HTTP loop, query it, check a
highlighted snippet comes back — the reference's end-to-end user
experience (pyapp.py input -> results -> text) on the Spark engine."""

import json
import sys
import threading
import urllib.request

import pytest

sys.path.insert(0, "/root/repo")

pytestmark = pytest.mark.smoke


def _get(port, path):
    import urllib.error

    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=60) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:  # 4xx/5xx still carry JSON bodies
        return e.code, json.loads(e.read())


def test_http_serving_loop_end_to_end(spark, sf_dir):
    from searchengine_spark.serve import SearchService, make_http_server

    service = SearchService(spark, sf_dir)
    server = make_http_server(service, port=0)
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        status, health = _get(port, "/healthz")
        assert (status, health) == (200, {"status": "ok"})

        status, payload = _get(port, "/search?q=spark&k=3")
        assert status == 200
        results = payload["results"]
        assert 0 < len(results) <= 3
        top = results[0]
        assert set(top) == {"doc_id", "total_score", "snippet"}
        # snippet text present and the literal query highlighted
        assert top["snippet"]
        assert "<mark>spark</mark>" in top["snippet"]
        scores = [r["total_score"] for r in results]
        assert scores == sorted(scores, reverse=True)

        # warm-cache serving: repeated queries reuse the index (no error,
        # same answer)
        status2, payload2 = _get(port, "/search?q=spark&k=3")
        assert status2 == 200 and payload2["results"] == results

        assert _get(port, "/search?k=3")[0] == 400  # missing q
    finally:
        server.shutdown()
        server.server_close()


def test_service_query_empty_and_unknown_terms(spark, sf_dir):
    from searchengine_spark.serve import SearchService

    service = SearchService(spark, sf_dir)
    assert service.query("the a") == []  # stopword-only
    assert service.query("zzzzunknown") == []  # out-of-vocab


def test_fuzzy_param_corrects_typos(spark, sf_dir):
    from searchengine_spark.serve import SearchService, make_http_server

    service = SearchService(spark, sf_dir)
    server = make_http_server(service, port=0)
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        # 'sparkk' is out-of-vocabulary: strict search returns nothing,
        # fuzzy corrects it to 'spark' and returns the same hits
        status, strict = _get(port, "/search?q=sparkk&k=3")
        assert status == 200 and strict["results"] == []
        status, fuzzy = _get(port, "/search?q=sparkk&k=3&fuzzy=1")
        assert status == 200 and len(fuzzy["results"]) > 0
        status, plain = _get(port, "/search?q=spark&k=3")
        assert [r["doc_id"] for r in fuzzy["results"]] == [
            r["doc_id"] for r in plain["results"]
        ]
    finally:
        server.shutdown()
        server.server_close()


def test_similar_endpoint_hybrid_more_like_this(spark, sf_dir):
    from searchengine_spark.serve import SearchService, make_http_server

    service = SearchService(spark, sf_dir)
    server = make_http_server(service, port=0)
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        status, payload = _get(port, "/similar?doc_id=0&k=5")
        assert status == 200
        results = payload["results"]
        assert 0 < len(results) <= 5
        assert set(results[0]) == {"doc_id", "rrf_score", "snippet"}
        assert all(r["doc_id"] != 0 for r in results)  # anchor excluded
        scores = [r["rrf_score"] for r in results]
        assert scores == sorted(scores, reverse=True)

        # keyword-constrained: fusing a BM25 list changes/filters ranks
        status2, p2 = _get(port, "/similar?doc_id=0&q=spark&k=5")
        assert status2 == 200 and 0 < len(p2["results"]) <= 5

        assert _get(port, "/similar?doc_id=abc")[0] == 400
        assert _get(port, "/similar?doc_id=0&k=abc")[0] == 400
        assert _get(port, "/similar?doc_id=0&k=0")[0] == 400
        assert _get(port, "/similar?doc_id=99999999")[0] == 404  # unknown id
        # unbounded k clamps to MAX_K instead of an unbounded collect
        status3, p3 = _get(port, "/similar?doc_id=0&k=100000")
        from searchengine_spark.serve import MAX_K

        assert status3 == 200 and len(p3["results"]) <= MAX_K
        assert _get(port, "/search?q=spark&k=0")[0] == 400
    finally:
        server.shutdown()
        server.server_close()


def test_multilingual_service_routed_queries(spark, sf_dir):
    """Routed serving mode: the index is built from the language-
    routed token stream; query terms go through routed_query_terms
    (union-stopword drop + CJK bigrams). On the ASCII corpus the
    English path still answers; a CJK query returns empty instead of
    erroring; fuzzy is vocabulary-keyed to the English pipeline and
    must refuse."""
    import pytest as _pytest

    from searchengine_spark.serve import SearchService

    svc = SearchService(spark, sf_dir, multilingual=True)
    hits = svc.query("data processing system", k=5)
    assert hits and all("snippet" in h for h in hits)
    assert svc.query("機械学習", k=5) == []  # no CJK docs in testdata
    with _pytest.raises(ValueError):
        svc.query("data", fuzzy=True)
    with _pytest.raises(ValueError):
        SearchService(spark, sf_dir, multilingual=True, stem=True)
