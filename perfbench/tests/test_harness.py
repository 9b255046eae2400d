"""Self-tests of the benchmark harness (not of the package).

    python3 -m pytest perfbench/tests -q
"""

import hashlib
import math
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from tracing import Tracer, fold_event_log  # noqa: E402


# ---------------------------------------------------------------- tail


def test_tail_keeps_ten_samples_beyond():
    pct, value, n = stats.tail(list(range(1, 101)))
    assert (pct, value, n) == (90.0, 90.0, 100)
    pct, value, n = stats.tail([float(x) for x in range(30, 0, -1)])
    assert n == 30 and pct == 66.0 and value == 20.0  # 10 samples above rank 20
    assert sum(1 for x in range(1, 31) if x > value) == 10


def test_tail_falls_back_to_median_when_too_few():
    assert stats.tail([5.0, 1.0, 3.0]) == (50.0, 3.0, 3)
    with pytest.raises(ValueError):
        stats.tail([])


# ---------------------------------------------------------- generator


def _digest(path):
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_generator_is_deterministic(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.flow_inputs(seed, str(tmp_path / name), n_docs=200)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_generated_words_survive_the_tokenizer(tmp_path):
    from searchengine_spark.text.tokenizer import STOPWORDS, tokenize_query

    assert gen.STOPWORDS == frozenset(STOPWORDS)
    g = gen.serve_inputs(3, str(tmp_path), n_docs=50)
    text = g["corpus"].text(0)
    assert tokenize_query(text) == text.split()


def test_typo_has_a_unique_neighbour(tmp_path):
    g = gen.serve_inputs(4, str(tmp_path), n_docs=300)
    vocab = {g["corpus"].vocab[w] for w in np.flatnonzero(g["postings"].df > 0)}
    typos = [q for q in g["pool"] if q["fuzzy"]]
    assert typos
    for q in typos:
        (bad,) = [t for t in q["q"].split() if t not in vocab]
        assert gen.distance1_variants(bad) & vocab == set(q["clean"]) - set(q["q"].split())


# -------------------------------------------------------------- oracle


def _micro_fixture():
    """FIXTURES.md §4: five tokenized docs with hand-computed goldens."""
    docs = [
        ["murder", "trial", "court"],
        ["contract", "breach", "court", "court"],
        ["murder", "murder", "appeal"],
        ["properti", "right", "court"],
        ["appeal", "court"],
    ]
    vocab = sorted({w for d in docs for w in d})
    ids = {w: i for i, w in enumerate(vocab)}
    offsets = np.concatenate([[0], np.cumsum([len(d) for d in docs])])
    tokens = np.array([ids[w] for d in docs for w in d], np.int32)
    corpus = gen.Corpus(vocab, np.arange(1, 6, dtype=np.int64), offsets, tokens)
    return corpus, gen.Postings(corpus)


def test_oracle_matches_the_fixture_goldens():
    o = oracle.Bm25Oracle(*_micro_fixture())
    top = o.topk(["murder"], 10)
    assert [d for d, _ in top] == [3, 1]
    assert math.isclose(top[0][1], 0.547168, abs_tol=1e-6)
    top = o.topk(["court", "appeal"], 10)
    assert [d for d, _ in top] == [5, 3, 2, 1, 4]  # the 1-vs-4 tie by doc_id
    assert math.isclose(top[0][1], 0.572985, abs_tol=1e-6)


def test_check_topk_rejects_wrong_answers():
    o = oracle.Bm25Oracle(*_micro_fixture())
    good = o.topk(["court", "appeal"], 10)
    assert oracle.check_topk(good, o, ["court", "appeal"], 10) is None
    assert oracle.check_topk(good[:4], o, ["court", "appeal"], 10)  # a hit missing
    swapped = [good[1], good[0]] + good[2:]
    assert oracle.check_topk(swapped, o, ["court", "appeal"], 10)  # out of order
    tie_flipped = good[:3] + [good[4], good[3]]
    assert oracle.check_topk(tie_flipped, o, ["court", "appeal"], 10)  # tie not by doc_id
    off = [(good[0][0], good[0][1] + 1e-3)] + good[1:]
    assert oracle.check_topk(off, o, ["court", "appeal"], 10)  # score off


# ------------------------------------------------- failure accounting


def test_injected_failures_raise_the_error_rate(tmp_path):
    g = run.make_inputs("serve_zipf", 9, str(tmp_path))
    o = oracle.Bm25Oracle(g["corpus"], g["postings"])
    stream = g["spec"]["stream"]
    records = [
        {"i": i, "ms": 1.0, "status": 200,
         "hits": [list(h) for h in o.topk(stream[i]["clean"], run.K)]}
        for i in range(20)
    ]
    raw = {"c1": records[:10], "c4": records[10:], "probe": []}
    attempted, failures = run.check("serve_zipf", g, raw)
    assert (attempted, failures) == (20, [])

    wrong = next(r for r in records if r["hits"])
    wrong["hits"][0][1] += 0.5
    records[1]["status"] = 500
    attempted, failures = run.check("serve_zipf", g, raw)
    assert attempted == 20 and len(failures) == 2
    assert stats.error_rate(attempted, len(failures)) == 0.1


# ------------------------------------------------------ event-log fold


def test_fold_counts_one_shuffle_group_by_as_two_stages(tmp_path):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    log_dir = tmp_path / "events"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-fold-test")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    tracer = Tracer(spark.sparkContext, enabled=True)
    try:
        with tracer.span("pipeline", "probe") as gid:
            rows = spark.range(1000).groupBy((F.col("id") % 3).alias("m")).count().collect()
    finally:
        spark.stop()
    assert sorted(r["count"] for r in rows) == [333, 333, 334]
    lines = []
    for name in os.listdir(log_dir):
        with open(log_dir / name) as fh:
            lines.extend(fh)
    fold = fold_event_log(lines, tracer.spans)
    group = fold["groups"][gid]
    assert group["stages"] == 2
    assert group["tasks"] >= 3  # 2+ map tasks and at least one reduce task
    assert group["shuffle_write_bytes"] > 0
    assert fold["layers"]["pipeline"]["stages"] == 2
    assert 0 <= group["driver_only_ms"] <= tracer.spans[0]["dur_ms"]


# ------------------------------------------------------ layer self sum


def _serve_trace(lat_ms: float) -> dict:
    """A traced serve_zipf run of three 1-client requests, each with the
    same spans and re-collect timings, and latency ``lat_ms``."""
    spans = [{"gid": "index.builder#0", "layer": "index.builder", "op": "service",
              "parent": None, "dur_ms": 1000.0, "phase": None, "req": None}]
    c1 = []
    for i in range(3):
        q = {"gid": f"serve#q{i}", "layer": "serve", "op": "query", "parent": None,
             "dur_ms": 90.0, "phase": "c1", "req": i}
        plan = {"gid": f"index.bm25#p{i}", "layer": "index.bm25", "op": "plan",
                "parent": q["gid"], "dur_ms": 11.0, "phase": "c1", "req": i}
        tok = {"gid": f"text.tokenizer#t{i}", "layer": "text.tokenizer", "op": "query",
               "parent": plan["gid"], "dur_ms": 1.0, "phase": "c1", "req": i}
        snip = {"gid": f"serve#s{i}", "layer": "serve", "op": "snippet_plan",
                "parent": q["gid"], "dur_ms": 2.0, "phase": "c1", "req": i}
        spans += [q, plan, tok, snip]
        c1.append({"i": i, "ms": lat_ms, "status": 200, "hits": [],
                   "exec_ms": 40.0, "full_ms": 70.0, "http_ms": 5.0})
    return {"fold": {"layers": {}, "groups": {}}, "session_start_s": 1.0,
            "tokenizer_corpus_s": 1.0, "spans": spans, "c1": c1, "c4": [], "probe": [],
            "setup_reps_s": [1.0]}


def test_self_sum_gap_counts_unattributed_time(tmp_path):
    g = run.make_inputs("serve_zipf", 9, str(tmp_path))
    e2e = dict.fromkeys((name for name, _ in run.E2E), 0.0)
    # tok 1 + plan 10 + exec 40 + snippet (2 + 70 - 40) + http 5 = 88
    layers = run.per_layer("serve_zipf", g, _serve_trace(88.0), e2e, e2e)
    assert layers["serve.snippet_ms"] == 32.0 and layers["serve.http_ms"] == 5.0
    assert layers["text.tokenizer.query_us"] == 1000.0 and layers["index.bm25.plan_ms"] == 10.0
    assert layers["serve.self_sum_gap"] == 0.0 and run.check_self_sum(layers) is None
    layers = run.per_layer("serve_zipf", g, _serve_trace(176.0), e2e, e2e)
    assert layers["serve.self_sum_gap"] == 0.5 and run.check_self_sum(layers)
    untraced = _serve_trace(88.0)
    for rec in untraced["c1"]:
        del rec["exec_ms"]
    assert run.check_self_sum(run.per_layer("serve_zipf", g, untraced, e2e, e2e))
