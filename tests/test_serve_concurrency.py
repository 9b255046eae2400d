"""Concurrent clients on one ThreadingHTTPServer: every answer must
equal the answer the same query gets when sent alone."""

import json
import sys
import threading
import urllib.parse
import urllib.request

import pytest

pytestmark = pytest.mark.smoke

CLIENTS = 4
# (query, fuzzy): multi-term, repeated, typo (corrected only with
# fuzzy=1), out-of-vocabulary and stopword-only queries
QUERIES = [
    ("spark join", False),
    ("window fast data", False),
    ("hash hash join", False),
    ("sparkk joinn", True),
    ("windw", True),
    ("sparkk", False),
    ("zzzzunknown spark", False),
    ("the a", False),
    ("vector stream table sort", False),
    ("merge", True),
]


def _get(port, q, fuzzy):
    params = {"q": q, "k": 5, **({"fuzzy": 1} if fuzzy else {})}
    url = f"http://127.0.0.1:{port}/search?{urllib.parse.urlencode(params)}"
    with urllib.request.urlopen(url, timeout=120) as r:
        return r.status, json.loads(r.read())["results"]


def test_concurrent_requests_match_sequential_answers(spark, sf_dir):
    from searchengine_spark.serve import SearchService, make_http_server

    service = SearchService(spark, sf_dir)
    server = make_http_server(service, port=0)
    port = server.server_address[1]
    serving = threading.Thread(target=server.serve_forever, daemon=True)
    serving.start()
    switch = sys.getswitchinterval()
    try:
        sequential = {qf: _get(port, *qf) for qf in QUERIES}
        assert all(status == 200 for status, _ in sequential.values())
        assert sequential[("sparkk joinn", True)][1]  # the typos were corrected
        assert sequential[("sparkk", False)][1] == []

        answers, errors = [], []
        lock = threading.Lock()

        def client(offset):
            # each client walks the whole list from its own offset, so
            # different queries are in flight at the same time
            try:
                for i in range(len(QUERIES)):
                    qf = QUERIES[(i + offset) % len(QUERIES)]
                    got = _get(port, *qf)
                    with lock:
                        answers.append((qf, got))
            except Exception as exc:  # noqa: BLE001 — reported below
                with lock:
                    errors.append(repr(exc))

        sys.setswitchinterval(1e-5)
        clients = [
            threading.Thread(target=client, args=(c * 3,)) for c in range(CLIENTS)
        ]
        for c in clients:
            c.start()
        for c in clients:
            c.join(timeout=600)
        assert not any(c.is_alive() for c in clients)
        assert errors == []
        assert len(answers) == CLIENTS * len(QUERIES)
        for qf, got in answers:
            assert got == sequential[qf], qf
    finally:
        sys.setswitchinterval(switch)
        server.shutdown()
        server.server_close()
