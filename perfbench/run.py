"""The repository benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload serve_zipf --seed 1 --seconds 20 --trace 0

Generates the workload's inputs from the seed, runs the workload in a
worker process (``worker.py``) against the package's public API, checks
every answer against a pure-Python oracle, and prints two lines: a
detail record (environment, the workload's own named metrics, error
rate) and, last, the result object with the end-to-end metrics
(``--trace 0``) or the per-layer metrics (``--trace 1``). A traced run
runs the workload twice, untraced and then traced with the Spark event
log on, and reports the difference as the tracing overhead.

Run from the repository root; everything it writes stays under
``.perfbench-work/`` there and is removed at exit. See METRICS.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
from tracing import LAYERS, SPARK_COUNTERS, fold_event_log, self_times  # noqa: E402

K = 10
CLIENTS = 4
RUN_BUDGET_S = 170.0
# How long a finished worker's leftover processes get before SIGKILL.
REAP_GRACE_S = 15.0
WORKLOADS = ("serve_zipf", "corpus_to_index")
E2E = (
    ("setup_s", "s"),
    ("index_ready_s", "s"),
    ("query_p50_ms", "ms"),
    ("qps", "1/s"),
)
# Allowed gap between the sum of the per-layer median self times of a
# 1-client request and the traced median request latency. The sum mixes
# in-request spans with parts timed again outside the request (bare
# search, snippet frame, an HTTP round trip to /healthz), and medians do
# not add exactly. A larger gap counts as a failed operation.
SELF_SUM_TOLERANCE = 0.25
# A traced serve_zipf run sends this many distinct typo queries once
# each after phase c4, so that index.phrase is timed on every run.
FUZZY_PROBES = 5
# Span ops of the re-collects that follow a traced 1-client request
# (``worker.recollect``), outside the request.
RECOLLECT_OPS = ("exec", "snippet_exec")


# ------------------------------------------------------------- inputs


def make_inputs(workload: str, seed: int, inputs: str) -> dict:
    """Write the workload's parquet files and queries.json; return what
    the checker needs."""
    if workload == "serve_zipf":
        g = gen.serve_inputs(seed, inputs)
        stream = [dict(g["pool"][i], pool=i) for i in g["stream"]]
        first_typos = {}
        for j, q in enumerate(stream):
            if q["fuzzy"]:
                first_typos.setdefault(q["pool"], j)
        spec = {"stream": stream, "c4_start": len(stream) // 2,
                "warm": "warm up the index",
                "fuzzy_probe": sorted(first_typos.values())[:FUZZY_PROBES]}
    else:
        g = gen.flow_inputs(seed, inputs)
        per = gen.QUERIES_PER_APPEND
        qs = [q["q"] for q in g["pool"]]
        spec = {"batch": {f"q{i:03d}": q for i, q in enumerate(qs)},
                "appends": [qs[b * per : (b + 1) * per] for b in range(gen.APPEND_BATCHES)],
                "fixed": qs[0]}
    with open(os.path.join(inputs, "queries.json"), "w") as fh:
        json.dump(spec, fh)
    g["spec"] = spec
    return g


# ------------------------------------------------------------- worker


def pinned_env(work: str, event_log: str | None) -> dict:
    """Environment of a worker: every CPU the process may use, local and
    temp dirs inside the work dir, and (traced) the Spark event log,
    applied through launcher arguments, not through the package."""
    env = dict(os.environ)
    for var in ("SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS", "SPARK_GRAFT_PERSIST_DIR",
                "SPARK_DRIVER_MEMORY", "PYSPARK_SUBMIT_ARGS"):
        env.pop(var, None)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = local
    env["TMPDIR"] = tmp
    args = [
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
    ]
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_log}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return env


def run_worker(workload: str, inputs: str, seconds: float, mode: str, work: str,
               deadline: float) -> dict:
    """Run ``worker.py`` in ``mode`` (full, baseline or traced) and return
    its raw record; a traced worker's event log is folded into it."""
    out = os.path.join(work, f"{mode}.json")
    event_log = os.path.join(work, "eventlog") if mode == "traced" else None
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload,
           "--inputs", inputs, "--seconds", str(seconds), "--mode", mode, "--out", out]
    with open(os.path.join(work, f"{mode}.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=pinned_env(work, event_log),
                                stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        finally:
            if proc.poll() is None:  # timed out or interrupted
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            reap_group(proc.pid)
    if proc.returncode != 0:
        with open(os.path.join(work, f"{mode}.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"{mode} worker exited with {proc.returncode}")
    with open(out) as fh:
        raw = json.load(fh)
    if event_log:
        lines = []
        for path in sorted(glob.glob(os.path.join(event_log, "*"))):
            with open(path) as fh:
                lines.extend(fh)
        raw["fold"] = fold_event_log(lines, raw["spans"])
    return raw


def reap_group(pgid: int) -> None:
    """Wait until every process of the worker's group (the JVM too) is
    gone; kill stragglers after ``REAP_GRACE_S`` seconds."""
    end = time.monotonic() + REAP_GRACE_S
    while True:
        try:
            os.killpg(pgid, signal.SIGKILL if time.monotonic() > end else 0)
        except ProcessLookupError:
            return
        if time.monotonic() > end + REAP_GRACE_S:
            raise RuntimeError(f"processes of group {pgid} outlived SIGKILL")
        time.sleep(0.1)


# ------------------------------------------------------------- checks


def check(workload: str, g: dict, raw: dict) -> tuple[int, list[str]]:
    """(attempted, failures) for every checked operation of a run."""
    failures: list[str] = []
    attempted = 0

    def record(reason):
        nonlocal attempted
        attempted += 1
        if reason:
            failures.append(reason)

    if workload == "serve_zipf":
        o = oracle.Bm25Oracle(g["corpus"], g["postings"])
        stream = g["spec"]["stream"]
        for rec in raw["c1"] + raw["c4"] + raw["probe"]:
            q = stream[rec["i"]]
            if rec["status"] != 200:
                record(f"{q['q']!r}: HTTP {rec['status']} {rec['hits']}")
                continue
            why = oracle.check_topk([tuple(h) for h in rec["hits"]], o, q["clean"], K)
            record(why and f"{q['q']!r}: {why}")
    else:
        corpus, n_docs = g["corpus"], g["n_docs"]
        chk = raw["check"]
        keep = set(chk["keep"])
        kind_of = dict(zip(corpus.doc_ids[:n_docs].tolist(), g["kinds"].tolist()))
        exact_kept = [d for d, k in kind_of.items() if k == "exact" and d in keep]
        orig_dropped = [d for d, k in kind_of.items() if k == "orig" and d not in keep]
        record(
            (exact_kept and f"curate kept planted exact copies {exact_kept[:5]}")
            or (orig_dropped and f"curate dropped unplanted docs {orig_dropped[:5]}")
            or None
        )
        visible = [i for i, d in enumerate(corpus.doc_ids.tolist()) if d in keep]
        o = oracle.Bm25Oracle(corpus, g["postings"], rows=visible)
        if "index" in chk:
            record(oracle.check_index_tables(chk["index"], o))
        by_query: dict = {}
        for qid, doc, score, rnk in chk["batch"]:
            by_query.setdefault(qid, []).append((rnk, doc, score))
        for i, q in enumerate(g["pool"]):
            got = [(d, s) for _, d, s in sorted(by_query.get(f"q{i:03d}", []))]
            why = oracle.check_topk(got, o, q["clean"], K)
            record(why and f"batch {q['q']!r}: {why}")
        if "breakdown" in raw:
            record(None if raw["breakdown"]["keep"] == chk["keep"]
                   else "stage-by-stage curation keeps other docs than curate()")
        appended = append_oracles(g, visible)
        for rec in (q for r in raw["rounds"] for q in r["queries"]):
            terms = append_terms(g, rec)
            why = oracle.check_topk([tuple(h) for h in rec["hits"]], appended[rec["batch"]],
                                    terms, K)
            record(why and f"after append {rec['batch']} {terms}: {why}")
        if "appended" in chk:
            record(oracle.check_index_tables(chk["appended"], appended[-1]))
            record(chk["rebuild_diff"])
    return attempted, failures


def append_terms(g: dict, rec: dict) -> list[str]:
    return g["pool"][rec["batch"] * gen.QUERIES_PER_APPEND + rec["qi"]]["clean"]


def append_oracles(g: dict, visible: list[int]) -> list:
    """The oracle after each append: the curated docs plus batches 0..b."""
    out, rows = [], list(visible)
    for batch in g["batches"]:
        rows += batch.tolist()
        out.append(oracle.Bm25Oracle(g["corpus"], g["postings"], rows=list(rows)))
    return out


# ------------------------------------------------------------ metrics


def end_to_end(workload: str, g: dict, raw: dict) -> tuple[dict, dict]:
    """(gated metrics, the workload's own named metrics)."""
    setup_rep = stats.median(raw["setup_reps_s"])
    setup = raw["session_start_s"] + setup_rep
    named: dict = {"setup_s": (setup, "s")}
    if workload == "serve_zipf":
        c1 = [r["ms"] for r in raw["c1"]]
        ok4 = [r for r in raw["c4"] if r["status"] == 200]
        pct, tail_ms, n = stats.tail(c1)
        # The first build in the process is what a starting server waits
        # for; later repetitions run on an ever warmer JVM.
        ready, p50 = raw["setup_reps_s"][0], stats.median(c1)
        # Closed loop, no think time: throughput = clients / mean latency
        # (Little's law), which the phase's start and end do not quantize.
        qps = CLIENTS * len(ok4) / (sum(r["ms"] for r in raw["c4"]) / 1000.0)
        named.update({
            "search_p50_ms": (p50, "ms"),
            "search_tail_ms": (tail_ms, "ms", {"percentile": pct, "n": n}),
            "search_c4_qps": (qps, "req/s", {"n": len(raw["c4"])}),
            "search_c4_p50_ms": (stats.median([r["ms"] for r in raw["c4"]]), "ms"),
        })
    else:
        rounds, nq = raw["rounds"], raw["n_queries"]
        ready = stats.median([r["flow_s"] for r in rounds])
        p50 = stats.median([r["batch_s"] * 1000.0 / nq for r in rounds])
        qps = stats.median([nq / r["batch_s"] for r in rounds])
        appends = [a for r in rounds for a in r["appends"]]
        after = [q["ms"] for r in rounds for q in r["queries"]]
        named.update({
            "flow_s": (ready, "s", {"n": len(rounds)}),
            "batch_qps": (qps, "queries/s"),
            "index_bytes_per_input_byte": (rounds[0]["bytes_written"] / g["text_bytes"], "ratio"),
        })
        if appends:  # a baseline worker skips the append phase
            named.update({
                "append_p50_s": (stats.median(appends), "s", {"n": len(appends)}),
                "search_after_append_p50_ms": (stats.median(after), "ms", {"n": len(after)}),
            })
    gated = {"setup_s": setup, "index_ready_s": ready, "query_p50_ms": p50, "qps": qps}
    return gated, named


def per_layer_names() -> list[tuple[str, str]]:
    names = [
        ("session.start_s", "s"),
        ("text.tokenizer.query_us", "us"),
        ("text.tokenizer.corpus_s", "s"),
        ("index.builder.build_s", "s"),
        ("index.builder.write_s", "s"),
        ("index.builder.read_s", "s"),
        ("index.builder.bytes_written", "bytes"),
        ("index.bm25.plan_ms", "ms"),
        ("index.bm25.exec_ms", "ms"),
        ("index.bm25.jobs_per_query", "count"),
        ("index.bm25.stages_per_query", "count"),
        ("index.bm25.tasks_per_query", "count"),
        ("index.bm25.postings_per_hit", "count"),
        ("index.bm25.batch_exec_s", "s"),
        ("serve.snippet_ms", "ms"),
        ("serve.http_ms", "ms"),
        ("serve.self_sum_gap", "fraction"),
        ("index.phrase.correction_ms", "ms"),
        ("pipeline.quality_s", "s"),
        ("operators.dedup.exact_s", "s"),
        ("operators.dedup.minhash_s", "s"),
        ("operators.dedup.jaccard_s", "s"),
        ("operators.dedup.candidate_pairs", "count"),
        ("operators.dedup.verified_per_candidate", "fraction"),
        ("index.incremental.merge_s", "s"),
        ("index.incremental.plan_nodes", "count"),
    ]
    units = {"executor_run_ms": "ms", "executor_cpu_ms": "ms", "gc_ms": "ms",
             "driver_only_ms": "ms", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes"}
    for layer in LAYERS:
        for c in SPARK_COUNTERS:
            names.append((f"{layer}.{c}", units.get(c, "count")))
    for name, unit in E2E:
        names.append((f"overhead.{name}", unit))
    return names


def per_layer(workload: str, g: dict, raw: dict, untraced: dict, traced: dict) -> dict:
    """Per-layer metrics of a traced run; 0 where the workload does not
    reach the layer."""
    m = {name: 0.0 for name, _ in per_layer_names()}
    fold = raw["fold"]
    for layer, counters in fold["layers"].items():
        for c, v in counters.items():
            m[f"{layer}.{c}"] = float(v)
    for name, _ in E2E:
        m[f"overhead.{name}"] = traced[name] - untraced[name]
    m["session.start_s"] = raw["session_start_s"]
    m["text.tokenizer.corpus_s"] = raw["tokenizer_corpus_s"]
    spans = raw["spans"]
    own = self_times(spans)
    med = stats.median
    if workload == "serve_zipf":
        m["index.builder.build_s"] = med([s["dur_ms"] / 1000.0 for s in spans
                                          if s["op"] == "service"])
        c1_reqs = {r["i"]: r for r in raw["c1"] if "exec_ms" in r}
        # In-request self times of the steps the request runs in Python;
        # the collect inside ``serve.query`` is timed again outside it.
        in_request = {("text.tokenizer", "query"): "tok", ("index.bm25", "plan"): "plan",
                      ("index.phrase", "correction"): "phrase",
                      ("serve", "snippet_plan"): "snippet_plan"}
        per_req = {i: dict.fromkeys(in_request.values(), 0.0) for i in c1_reqs}
        corrections = []
        for s in spans:
            if s["req"] is None:
                continue
            if s["layer"] == "index.phrase":
                corrections.append(own[s["gid"]])
            r = per_req.get(s["req"])
            key = in_request.get((s["layer"], s["op"]))
            if r is not None and s["phase"] == "c1" and key:
                r[key] += own[s["gid"]]
        rows = []
        for i, r in per_req.items():
            rec = c1_reqs[i]
            rows.append({"tok": r["tok"], "plan": r["plan"], "phrase": r["phrase"],
                         "exec": rec["exec_ms"],
                         "snippet": r["snippet_plan"] + rec["full_ms"] - rec["exec_ms"],
                         "http": rec["http_ms"], "lat": rec["ms"]})
        # With no traced request nothing is attributed: the full gap.
        m["serve.self_sum_gap"] = 1.0
        if rows:
            col = {k: med([x[k] for x in rows]) for k in rows[0]}
            m["text.tokenizer.query_us"] = col["tok"] * 1000.0
            m["index.bm25.plan_ms"] = col["plan"]
            m["index.bm25.exec_ms"] = col["exec"]
            m["serve.snippet_ms"] = col["snippet"]
            m["serve.http_ms"] = col["http"]
            parts = sum(col[k] for k in ("tok", "plan", "phrase", "exec", "snippet", "http"))
            m["serve.self_sum_gap"] = abs(parts - col["lat"]) / col["lat"]
        if corrections:
            m["index.phrase.correction_ms"] = med(corrections)
        groups = fold["groups"]
        c1_gids = [s["gid"] for s in spans if s["phase"] == "c1" and s["req"] is not None
                   and s["op"] not in RECOLLECT_OPS]
        n = max(1, len(rows))
        for c in ("jobs", "stages", "tasks"):
            m[f"index.bm25.{c}_per_query"] = sum(groups.get(gid, {}).get(c, 0.0)
                                                  for gid in c1_gids) / n
        o = oracle.Bm25Oracle(g["corpus"], g["postings"])
        stream = g["spec"]["stream"]
        m["index.bm25.postings_per_hit"] = med(
            [o.matched_rows(stream[r["i"]]["clean"]) / K for r in raw["c1"]])
    else:
        rounds, b = raw["rounds"], raw["breakdown"]
        for key in ("build_s", "write_s", "read_s"):
            m[f"index.builder.{key}"] = med([r[key] for r in rounds])
        m["index.builder.bytes_written"] = float(rounds[0]["bytes_written"])
        m["index.bm25.batch_exec_s"] = med([r["batch_s"] for r in rounds])
        m["pipeline.quality_s"] = b["quality_s"]
        for key in ("exact_s", "minhash_s", "jaccard_s"):
            m[f"operators.dedup.{key}"] = b[key]
        m["operators.dedup.candidate_pairs"] = float(b["candidate_pairs"])
        m["operators.dedup.verified_per_candidate"] = (
            b["verified_pairs"] / b["candidate_pairs"] if b["candidate_pairs"] else 0.0)
        qs = [q for r in rounds for q in r["queries"]]
        m["index.bm25.plan_ms"] = med([q["plan_ms"] for q in qs])
        m["index.bm25.exec_ms"] = med([q["exec_ms"] for q in qs])
        exec_gids = [s["gid"] for s in spans if s["layer"] == "index.bm25" and s["op"] == "exec"]
        for c in ("jobs", "stages", "tasks"):
            m[f"index.bm25.{c}_per_query"] = sum(
                fold["groups"].get(gid, {}).get(c, 0.0) for gid in exec_gids) / len(qs)
        keep = set(raw["check"]["keep"])
        visible = [i for i, d in enumerate(g["corpus"].doc_ids.tolist()) if d in keep]
        appended = append_oracles(g, visible)
        m["index.bm25.postings_per_hit"] = med(
            [appended[q["batch"]].matched_rows(append_terms(g, q)) / K for q in qs])
        m["index.incremental.merge_s"] = med([a for r in rounds for a in r["appends"]])
        m["index.incremental.plan_nodes"] = float(rounds[0]["plan_nodes"][-1])
    return m


def check_self_sum(layers: dict) -> str | None:
    """None when the serve_zipf layer self times add up to the traced
    1-client median latency within ``SELF_SUM_TOLERANCE``."""
    gap = layers["serve.self_sum_gap"]
    if gap <= SELF_SUM_TOLERANCE:
        return None
    return f"layer self times miss the traced search_p50_ms by {gap:.3f} > {SELF_SUM_TOLERANCE}"


# --------------------------------------------------------------- main


def environment(seed: int, raw: dict, work: str) -> dict:
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "searchengine_spark", "**", "*.py"),
                                 recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    return {"seed": seed, "git_sha": sha, "source_sha256": h.hexdigest(),
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_LOCAL_DIRS": os.path.relpath(os.path.join(work, "spark-local"), ROOT),
            **raw["env"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # SIGTERM unwinds like an exception, so the worker group is killed
    # and the work dir removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    start = time.monotonic()
    deadline = start + RUN_BUDGET_S

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("searchengine_spark") is None:
        print("perfbench: package searchengine_spark not found under "
              f"{ROOT}; run from a checkout of the repository", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{args.seed}-{os.getpid()}")
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs, exist_ok=True)
    try:
        g = make_inputs(args.workload, args.seed, inputs)
        raw = run_worker(args.workload, inputs, args.seconds,
                         "baseline" if args.trace else "full", work, deadline)
        attempted, failures = check(args.workload, g, raw)
        gated, named = end_to_end(args.workload, g, raw)
        env = environment(args.seed, raw, work)
        if args.trace:
            traced = run_worker(args.workload, inputs, args.seconds, "traced", work, deadline)
            a2, f2 = check(args.workload, g, traced)
            attempted, failures = attempted + a2, failures + f2
            traced_gated, _ = end_to_end(args.workload, g, traced)
            layers = per_layer(args.workload, g, traced, gated, traced_gated)
            if args.workload == "serve_zipf":
                why = check_self_sum(layers)
                attempted += 1
                failures += [why] if why else []
            units = dict(per_layer_names())
            metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
        else:
            units = dict(E2E)
            metrics = {k: {"value": v, "unit": units[k]} for k, v in gated.items()}
        detail = {
            "workload": args.workload,
            "env": env,
            "metrics": {k: {"value": v[0], "unit": v[1], **(v[2] if len(v) > 2 else {})}
                        for k, v in named.items()},
            "error_rate": stats.error_rate(attempted, len(failures)),
            "failures": failures[:10],
            "setup_reps_s": raw["setup_reps_s"],
            "wall_s": time.monotonic() - start,
        }
        if args.trace:
            detail["self_sum_tolerance"] = SELF_SUM_TOLERANCE
        print(json.dumps(detail))
        print(json.dumps({"correct": not failures, "attempted": attempted,
                          "failed": len(failures), "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
