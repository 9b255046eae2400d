"""One measured run of one workload, in a process of its own.

Started by ``run.py``, which has already generated the inputs and set
the environment (CPU count, local dirs, and for a traced run the Spark
event log). Talks to the package only through its public API, plus
``pipeline._stages`` for the traced curation breakdown. Writes the raw
timings, the results to check and the trace spans as JSON.

    python3 perfbench/worker.py --workload serve_zipf --inputs DIR --seconds 20 --mode full --out OUT.json

Modes: ``full`` measures and runs every check (``--trace 0``). A traced
run starts two workers: ``baseline``, the untraced side the tracing
overhead is measured against, and ``traced``, with spans and the event
log. Both leave out the Spark-side index checks that every ``full`` run
makes; ``baseline`` also leaves out the work after the gated figures
(corpus_to_index's append phase), so that a traced run fits its budget.
"""

import time

T0 = time.perf_counter()
EPOCH0 = time.time()

import argparse  # noqa: E402
import http.client  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from urllib.parse import urlencode  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from tracing import Tracer, install_serving_wrappers  # noqa: E402

K = 10
SETUP_REPS = 3
CLIENTS = 4
# serve_zipf splits its measuring time between the 1-client and the
# 4-client phase; the 1-client phase needs more samples for its tail.
C1_SHARE = 0.65
# serve_zipf sends this many unmeasured requests from 4 clients before
# phase c1, so the JVM has compiled the request path when timing starts.
WARMUP_REQUESTS = 8
# corpus_to_index runs its search_many batch this many times per round
# and keeps the median, so one stalled batch does not set the figure.
BATCH_REPEATS = 3


_pc = time.perf_counter


# ------------------------------------------------------------ helpers


class RoundClock:
    """Repeats a fixed round of work while the next round is predicted
    to end within ``seconds`` (always at least one round), so every
    round is whole and the same on every run."""

    def __init__(self, seconds: float):
        self.seconds = seconds
        self.start = _pc()
        self.excluded = 0.0
        self.rounds = 0
        self.last = 0.0
        self._lap_start = self.start

    def exclude(self, s: float) -> None:
        """Leave ``s`` seconds of checking out of the measured time."""
        self.excluded += s

    def lap(self) -> None:
        now = _pc()
        self.rounds += 1
        self.last = now - self._lap_start
        self._lap_start = now

    def another(self) -> bool:
        used = _pc() - self.start - self.excluded
        return self.rounds == 0 or used + self.last <= self.seconds


def index_report(idx, invariants: bool = True) -> dict:
    """Tables and FIXTURES.md §2 invariants of an index, for checking."""
    from pyspark.sql import functions as F

    tables = {
        "idf_values": [[r[0], int(r[1]), float(r[2])] for r in idx.idf_values.collect()],
        "doc_lengths": [[int(r[0]), int(r[1])] for r in idx.doc_lengths.collect()],
    }
    if not invariants:
        return tables
    fw = idx.flat_words
    tf_from_flat = fw.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("term_freq"))
    tf = idx.term_frequencies.select("doc_id", "word", F.col("term_freq").cast("bigint"))
    sp = idx.scoring_params.first()
    inv = {
        "sum_doc_length": int(idx.doc_lengths.agg(F.sum("doc_length")).first()[0]),
        "flat_words": fw.count(),
        "idf_values": idx.idf_values.count(),
        "inverted_index": idx.inverted_index.count(),
        "distinct_words": fw.select("word").distinct().count(),
        "tf_mismatch": tf.exceptAll(tf_from_flat).count() + tf_from_flat.exceptAll(tf).count(),
        "doc_lengths": idx.doc_lengths.count(),
        "n_docs": int(sp["n_docs"]),
        "avgdl": float(sp["avgdl"]),
    }
    return {"invariants": inv, **tables}


# -------------------------------------------------------- serve_zipf


def _fetch(port: int, path: str) -> tuple[int, float, bytes]:
    """(status, milliseconds, body) of one GET on a fresh connection."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    t = _pc()
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        body = resp.read()
        return resp.status, (_pc() - t) * 1000.0, body
    except OSError as exc:
        return 0, (_pc() - t) * 1000.0, str(exc).encode()
    finally:
        conn.close()


def _get(port: int, q: str, fuzzy: bool):
    params = {"q": q, "k": K}
    if fuzzy:
        params["fuzzy"] = 1
    status, ms, body = _fetch(port, "/search?" + urlencode(params))
    if status != 200:
        return status, ms, body.decode(errors="replace")[:300]
    hits = [[h["doc_id"], h["total_score"]] for h in json.loads(body)["results"]]
    return status, ms, hits


def recollect(tracer: Tracer, port: int, i: int) -> dict:
    """Traced only: time parts of request ``i`` again, each on its own and
    outside the request, so that the per-layer sum has something to
    disagree with: the bare search, the full snippet frame the request
    collected, and an HTTP round trip that reaches no Spark code. Each
    frame is re-planned (``select("*")``): collecting the same frame
    again would skip the shuffle stages it has already run."""
    kept, tracer.kept = tracer.kept, {}
    tracer.request = i
    t = _pc()
    with tracer.span("index.bm25", "exec"):
        kept["search"].select("*").collect()
    t1 = _pc()
    with tracer.span("serve", "snippet_exec"):
        kept["full"].select("*").collect()
    t2 = _pc()
    tracer.request = None
    status, http_ms, _ = _fetch(port, "/healthz")
    if status != 200:
        raise RuntimeError(f"/healthz answered {status}")
    return {"exec_ms": (t1 - t) * 1000.0, "full_ms": (t2 - t1) * 1000.0, "http_ms": http_ms}


def run_clients(port: int, stream: list, indices, deadline: float | None, out: list) -> None:
    """CLIENTS closed-loop clients sending ``stream[i]`` for ``i`` in
    ``indices`` until the indices or the time run out."""
    lock = threading.Lock()
    nxt = iter(indices)

    def client():
        while deadline is None or _pc() < deadline:
            with lock:
                j = next(nxt, None)
            if j is None:
                return
            status, ms, hits = _get(port, stream[j]["q"], stream[j]["fuzzy"])
            with lock:
                out.append({"i": j, "ms": ms, "status": status, "hits": hits})

    clients = [threading.Thread(target=client) for _ in range(CLIENTS)]
    for c in clients:
        c.start()
    for c in clients:
        c.join()


def serve_zipf(spark, tracer: Tracer, inputs: str, seconds: float, mode: str) -> dict:
    from searchengine_spark.serve import SearchService, make_http_server

    with open(os.path.join(inputs, "queries.json")) as fh:
        spec = json.load(fh)
    stream, warm = spec["stream"], spec["warm"]
    reps = []
    for r in range(SETUP_REPS):
        if r:
            spark.catalog.clearCache()
        t = _pc()
        with tracer.span("index.builder", "service"):
            svc = SearchService(spark, inputs)
        with tracer.span("serve", "warm"):
            svc.query(warm)
        reps.append(_pc() - t)
    server = make_http_server(svc, port=0)
    port = server.server_address[1]
    th = threading.Thread(target=server.serve_forever, daemon=True)
    th.start()
    try:
        run_clients(port, stream, range(len(stream) - WARMUP_REQUESTS, len(stream)), None, [])
        if tracer.enabled:
            install_serving_wrappers(tracer, svc)
        tracer.phase = "c1"
        c1 = []
        deadline = _pc() + seconds * C1_SHARE
        i = 0
        while _pc() < deadline and i < spec["c4_start"]:
            q = stream[i]
            status, ms, out = _get(port, q["q"], q["fuzzy"])
            rec = {"i": i, "ms": ms, "status": status, "hits": out}
            if tracer.enabled and "full" in tracer.kept:
                rec.update(recollect(tracer, port, i))
            c1.append(rec)
            i += 1

        tracer.phase = "c4"
        c4 = []
        run_clients(port, stream, range(spec["c4_start"], len(stream) - WARMUP_REQUESTS),
                    _pc() + seconds * (1.0 - C1_SHARE), c4)

        # Traced only: typo queries are a small share of the stream, so a
        # short run may send none; send a few of them once each, so that
        # the correction path is timed on every run.
        probe = []
        if tracer.enabled:
            tracer.phase = "probe"
            for j in spec["fuzzy_probe"]:
                status, ms, out = _get(port, stream[j]["q"], True)
                probe.append({"i": j, "ms": ms, "status": status, "hits": out})
    finally:
        server.shutdown()
        server.server_close()
        th.join()
    res = {"setup_reps_s": reps, "c1": c1, "c4": c4, "probe": probe}
    if tracer.enabled:
        from searchengine_spark.io import load_table

        res["tokenizer_corpus_s"] = tokenizer_pass(tracer, load_table(spark, inputs, "documents"))
    return res


# --------------------------------------------------- corpus_to_index


def tokenizer_pass(tracer: Tracer, docs) -> float:
    """Traced only: materialize the tokenizer over a whole corpus."""
    from pyspark.sql import functions as F

    from searchengine_spark.text.tokenizer import tokens_column

    t = _pc()
    with tracer.span("text.tokenizer", "corpus"):
        docs.select(F.sum(F.size(tokens_column("text")))).collect()
    return _pc() - t


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _dedup_breakdown(spark, tracer: Tracer, docs) -> dict:
    """Traced only: the curation chain stage by stage, each materialized,
    so each stage's time and counts stand alone."""
    from pyspark.sql import functions as F

    from searchengine_spark.operators.dedup import (
        exact_dedup_groups,
        jaccard_pairs,
        minhash_bands,
        neardup_candidate_pairs,
        shingle_frame,
    )
    from searchengine_spark.pipeline import CURATE_MAX_BUCKET, JACCARD_CUT, _stages

    out = {}
    t = _pc()
    with tracer.span("pipeline", "quality"):
        quality = _stages(docs)[0].cache()
        quality.count()
    out["quality_s"] = _pc() - t
    t = _pc()
    with tracer.span("operators.dedup", "exact"):
        canon = exact_dedup_groups(quality).select(F.col("canonical_doc_id").alias("doc_id")).cache()
        canon.count()
    out["exact_s"] = _pc() - t
    survivors = quality.join(canon, "doc_id", "left_semi")
    t = _pc()
    with tracer.span("operators.dedup", "minhash"):
        sh = shingle_frame(survivors).cache()
        pairs = neardup_candidate_pairs(minhash_bands(shingles=sh), max_bucket=CURATE_MAX_BUCKET).cache()
        out["candidate_pairs"] = pairs.count()
    out["minhash_s"] = _pc() - t
    t = _pc()
    with tracer.span("operators.dedup", "jaccard"):
        near = jaccard_pairs(None, pairs, shingles=sh).filter(F.col("jaccard") >= JACCARD_CUT).cache()
        out["verified_pairs"] = near.count()
    out["jaccard_s"] = _pc() - t
    drop = near.select(F.col("doc_b").alias("doc_id"))
    out["keep"] = sorted(
        r[0] for r in survivors.join(drop, "doc_id", "left_anti").select("doc_id").collect()
    )
    spark.catalog.clearCache()
    return out


def corpus_to_index(spark, tracer: Tracer, inputs: str, seconds: float, mode: str) -> dict:
    from pyspark.sql import functions as F

    from searchengine_spark.index.bm25 import search_many
    from searchengine_spark.index.builder import build_index, read_index, write_index
    from searchengine_spark.io import load_table
    from searchengine_spark.pipeline import curate

    with open(os.path.join(inputs, "queries.json")) as fh:
        spec = json.load(fh)
    queries = spec["batch"]
    work = os.path.join(inputs, "indexes")
    reps = []
    for _ in range(SETUP_REPS):
        t = _pc()
        docs = load_table(spark, inputs, "documents")
        docs.select(F.sum(F.length("text"))).collect()
        reps.append(_pc() - t)
    batches = [load_table(spark, inputs, f"batch_{b}") for b in range(len(spec["appends"]))]

    rounds, check = [], None
    n = 0
    clock = RoundClock(seconds)
    while clock.another():
        out, table = os.path.join(work, f"r{n}"), f"perfbench_tf_{n}"
        rec = {}
        t0 = _pc()
        with tracer.span("pipeline", "curate"):
            keep = curate(docs).cache()
            keep.count()
        rec["curate_s"] = _pc() - t0
        survivors = docs.join(keep, "doc_id", "left_semi")
        t = _pc()
        with tracer.span("index.builder", "build"):
            idx = build_index(survivors).cache()
            idx.scoring_params.collect()
            idx.term_frequencies.count()
            idx.idf_values.count()
        rec["build_s"] = _pc() - t
        t = _pc()
        with tracer.span("index.builder", "write"):
            write_index(idx, out, table_name=table)
        rec["write_s"] = _pc() - t
        t = _pc()
        with tracer.span("index.builder", "read"):
            loaded = read_index(spark, out, table_name=table)
            loaded.scoring_params.collect()
        rec["read_s"] = _pc() - t
        rec["flow_s"] = _pc() - t0
        batch_s = []
        for _ in range(BATCH_REPEATS):
            t = _pc()
            with tracer.span("index.bm25", "batch"):
                rows = search_many(loaded, queries, k=K).collect()
            batch_s.append(_pc() - t)
        rec["batch_s"] = statistics.median(batch_s)
        rec["bytes_written"] = _dir_bytes(out)
        if check is None:
            t = _pc()
            check = {
                "keep": sorted(r[0] for r in keep.collect()),
                "batch": [[r["query_id"], r["doc_id"], r["total_score"], r["rnk"]] for r in rows],
            }
            if mode == "full":
                # On the built index: its flat_words come from the token
                # stream, while a reloaded index rebuilds them from tf.
                check["index"] = index_report(idx)
            clock.exclude(_pc() - t)
        rec["appends"], rec["queries"], rec["plan_nodes"] = [], [], []
        if mode != "baseline":
            cur = append_phase(tracer, loaded, batches, spec, rec, first=n == 0)
        if n == 0 and mode == "full":
            t = _pc()
            cur = cur.cache()
            report = index_report(cur, invariants=False)
            every = survivors
            for batch in batches:
                every = every.unionByName(batch)
            check["appended"] = report
            check["rebuild_diff"] = compare_to_rebuild(report, cur, build_index(every))
            clock.exclude(_pc() - t)
        rounds.append(rec)
        spark.catalog.clearCache()
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(out, ignore_errors=True)
        n += 1
        clock.lap()
    res = {"setup_reps_s": reps, "rounds": rounds, "check": check, "n_queries": len(queries)}
    if tracer.enabled:
        res["breakdown"] = _dedup_breakdown(spark, tracer, docs)
        res["tokenizer_corpus_s"] = tokenizer_pass(tracer, docs)
    return res


def plan_nodes(df) -> int:
    """Nodes in a query's optimized logical plan (one per tree line)."""
    return len(df._jdf.queryExecution().optimizedPlan().treeString().strip().splitlines())


def append_phase(tracer: Tracer, loaded, batches, spec: dict, rec: dict, first: bool):
    """Cache the reloaded index the way SearchService caches its own
    (``coalesce(4).cache()``), then append each batch and query after it.
    The appended index is not re-cached, so its lineage grows per append."""
    from searchengine_spark.index.bm25 import search
    from searchengine_spark.index.incremental import append_to_index

    t = _pc()
    with tracer.span("index.builder", "serve_cache"):
        cur = loaded.coalesce(4).cache()
        cur.scoring_params.collect()
        search(cur, spec["fixed"], k=K).collect()
    rec["serve_cache_s"] = _pc() - t
    for b, batch in enumerate(batches):
        t = _pc()
        with tracer.span("index.incremental", "append"):
            cur = append_to_index(cur, batch)
            cur.scoring_params.collect()
        rec["appends"].append(_pc() - t)
        if tracer.enabled and first:
            rec["plan_nodes"].append(plan_nodes(search(cur, spec["fixed"], k=K)))
        for qi, q in enumerate(spec["appends"][b]):
            t = _pc()
            with tracer.span("index.bm25", "plan"):
                df = search(cur, q, k=K)
            t1 = _pc()
            with tracer.span("index.bm25", "exec"):
                rows = df.collect()
            t2 = _pc()
            rec["queries"].append({"batch": b, "qi": qi, "ms": (t2 - t) * 1000.0,
                                   "plan_ms": (t1 - t) * 1000.0, "exec_ms": (t2 - t1) * 1000.0,
                                   "hits": [[r["doc_id"], r["total_score"]] for r in rows]})
    return cur


def compare_to_rebuild(report: dict, appended, full) -> str | None:
    """None when the appended index (``report`` is its ``index_report``)
    equals a full rebuild on idf_values, doc_lengths and scoring_params,
    exactly."""
    rebuilt = index_report(full, invariants=False)
    got, want = tuple(appended.scoring_params.first()), tuple(full.scoring_params.first())
    if got != want:
        return f"scoring_params {got} != rebuild {want}"
    for name in ("idf_values", "doc_lengths"):
        if sorted(map(tuple, report[name])) != sorted(map(tuple, rebuilt[name])):
            return f"{name} differ from a full rebuild"
    return None


WORKLOADS = {
    "serve_zipf": serve_zipf,
    "corpus_to_index": corpus_to_index,
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--mode", required=True, choices=("full", "baseline", "traced"))
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    import pyspark

    from searchengine_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    session_s = _pc() - T0
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark.sparkContext, enabled=args.mode == "traced")
    tracer.record("session", "start", EPOCH0, session_s)
    try:
        res = WORKLOADS[args.workload](spark, tracer, args.inputs, args.seconds, args.mode)
        conf = spark.sparkContext.getConf()
        res["env"] = {
            "pyspark": pyspark.__version__,
            "master": conf.get("spark.master"),
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "driver_memory": conf.get("spark.driver.memory"),
            "event_log": conf.get("spark.eventLog.enabled", "false"),
        }
    finally:
        spark.stop()
    res["session_start_s"] = session_s
    res["spans"] = tracer.spans
    with open(args.out, "w") as fh:
        json.dump(res, fh)


if __name__ == "__main__":
    main()
