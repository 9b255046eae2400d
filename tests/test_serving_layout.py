"""The serving layout (serve.serving_layout): search() over the cached
impact table must give the answers of the lazy tf⋈idf⋈doc_lengths
path, use the impacts only for the parameters they were computed with,
and no index derived from a serving index may keep them."""

import math

import pytest

pytestmark = pytest.mark.smoke

# Two identical docs (1, 2) tie on every query; doc 5 is stopwords
# only, so it has a snippet row but no postings.
DOCS = [
    (1, "spark join fast spark"),
    (2, "spark join fast spark"),
    (3, "window join slow"),
    (4, "spark window window data"),
    (5, "the a of"),
    (6, "data stream table join spark fast window"),
    (7, "Spark joins spark; window functions are fast."),
    (8, "hash join sort merge join"),
]

QUERIES = [
    "spark join",  # multi-term, ties between docs 1 and 2
    "spark spark join",  # repeated term counts once
    "spark window fast data",  # 4 terms
    "zzzzunknown spark",  # out-of-vocabulary term contributes nothing
    "zzzzunknown",  # out-of-vocabulary only
    "the a of",  # stopwords only
    "join",
]

NON_DEFAULT = [
    {"k1": 1.5},
    {"b": 0.5},
    {"idf_variant": "okapi"},
    {"idf_variant": "rank_bm25"},
]


def _hits(df):
    return [(r["doc_id"], r["total_score"]) for r in df.collect()]


def _same_hits(got, want):
    """Equal doc_id lists and scores within 1e-12 relative: with more
    than two matched terms the two plans may add the same per-term
    doubles in a different order."""
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert math.isclose(a, b, rel_tol=1e-12, abs_tol=0.0), (got, want)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id bigint, text string")


@pytest.fixture(scope="module")
def plain(docs):
    from searchengine_spark.index.builder import build_index

    return build_index(docs)


@pytest.fixture(scope="module")
def serving(docs):
    from searchengine_spark.index.builder import build_index
    from searchengine_spark.serve import serving_layout

    index, snippets = serving_layout(build_index(docs), docs, snippet_len=10)
    return index, snippets


def test_serving_search_equals_plain_index(serving, plain):
    from searchengine_spark.index.bm25 import search

    index, _ = serving
    assert index.impacts is not None
    for q in QUERIES:
        got, want = _hits(search(index, q, k=10)), _hits(search(plain, q, k=10))
        if len(set(q.split())) <= 2:  # a + b == b + a: bit-equal
            assert got == want, q
        else:
            _same_hits(got, want)
    tied = _hits(search(index, "spark join", k=2))
    assert [d for d, _ in tied] == [1, 2] and tied[0][1] == tied[1][1]
    assert _hits(search(index, "the a of")) == []
    assert _hits(search(index, "zzzzunknown")) == []


def test_serving_search_on_testdata_corpus(spark, sf_dir):
    from searchengine_spark.index.bm25 import search
    from searchengine_spark.index.builder import build_index
    from searchengine_spark.io import load_table
    from searchengine_spark.serve import serving_layout

    docs = load_table(spark, sf_dir, "documents")
    plain = build_index(docs)
    index, _ = serving_layout(build_index(docs), docs, snippet_len=50)
    for q in ("spark join", "window fast data stream", "hash hash join", "vector"):
        _same_hits(_hits(search(index, q, k=10)), _hits(search(plain, q, k=10)))


def test_impacts_only_serve_default_parameters(serving, plain):
    """Poison the impacts: the default call must read them (so the
    cached path is really taken), and every non-default call must not."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    from searchengine_spark.index.bm25 import search

    index, _ = serving
    poisoned = replace(
        index, impacts=index.impacts.withColumn("term_score", F.lit(-1.0))
    )
    assert {s for _, s in _hits(search(poisoned, "spark", k=10))} == {-1.0}
    for params in NON_DEFAULT:
        got = _hits(search(poisoned, "spark join window", k=10, **params))
        _same_hits(got, _hits(search(plain, "spark join window", k=10, **params)))


def test_snippet_table_one_row_per_doc(spark):
    """Duplicate doc_ids keep min(text), truncated — the rule
    bm25.snippets() applies per request — and every doc has a row,
    postings or not."""
    from searchengine_spark.index.bm25 import snippets
    from searchengine_spark.index.builder import build_index
    from searchengine_spark.serve import serving_layout

    docs = spark.createDataFrame(
        DOCS + [(3, "alpha window join"), (3, "zulu window join")],
        "doc_id bigint, text string",
    )
    _, table = serving_layout(build_index(docs), docs, snippet_len=12)
    got = {r["doc_id"]: r["snippet"] for r in table.collect()}
    ids = spark.createDataFrame([(d,) for d, _ in DOCS], "doc_id bigint")
    want = {
        r["doc_id"]: r["snippet"] for r in snippets(ids, docs, max_len=12).collect()
    }
    assert got == want
    assert got[3] == "alpha window"
    assert table.rdd.getNumPartitions() == 4


def test_derived_indexes_drop_impacts(spark, docs, serving, tmp_path):
    """A precomputed score must not outlive the idf and avgdl it came
    from: every constructor that derives an index from a serving index
    leaves ``impacts`` None, and append's search equals a rebuild."""
    from searchengine_spark.index.bm25 import search
    from searchengine_spark.index.builder import build_index, read_index, write_index
    from searchengine_spark.index.incremental import append_to_index
    from searchengine_spark.streaming.index_stream import read_incremental_index

    index, _ = serving
    batch = spark.createDataFrame(
        [(20, "spark spark spark window"), (21, "join data")],
        "doc_id bigint, text string",
    )
    appended = append_to_index(index, batch)
    assert appended.impacts is None
    rebuilt = build_index(docs.unionByName(batch))
    for q in QUERIES:
        _same_hits(_hits(search(appended, q, k=10)), _hits(search(rebuilt, q, k=10)))

    assert index.materialized().impacts is None
    assert index.coalesce(2).impacts is None

    write_index(index, str(tmp_path / "idx"), table_name="se_tf_serving_layout_test")
    assert read_index(
        spark, str(tmp_path / "idx"), table_name="se_tf_serving_layout_test"
    ).impacts is None
    spark.sql("DROP TABLE IF EXISTS se_tf_serving_layout_test")

    out = tmp_path / "stream"
    index.term_frequencies.write.parquet(str(out / "term_frequencies"))
    index.doc_lengths.write.parquet(str(out / "doc_lengths"))
    assert read_incremental_index(spark, str(out)).impacts is None
