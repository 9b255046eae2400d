"""Inverted-index / BM25-statistics builder.

Produces the same five derived tables the reference materializes
(SURVEY.md §1.2; /root/reference/searchenginespark.py:101-205):

    flat_words        (doc_id, word)               one row per token
    term_frequencies  (doc_id, word, term_freq)    tf(t, d)
    doc_lengths       (doc_id, doc_length)         |d|
    idf_values        (word, doc_freq, idf)        idf = log10(N/df)
    inverted_index    (word, doc_ids)              sorted postings
    scoring_params    (n_docs, avgdl)              global scalars

Scale design (vs the reference's hand-tuned repartition(8, ...)):
- Everything is lazy DataFrame lineage off one tokenized scan; no
  .count()/.collect() driver sync points. N and avgdl are 1-row
  DataFrames cross-joined (broadcast) where needed, so the whole
  build is a single Spark job graph that AQE sizes at runtime.
- The tf aggregation shuffles once on (doc_id, word) with map-side
  partial aggregation; doc_freq/idf reuse tf (already one row per
  (doc, word) pair) instead of re-shuffling the raw token stream —
  at 100 TB that skips a second full-corpus shuffle.
- `doc_lengths` is computed from the token arrays BEFORE the explode
  (F.size on the array), so it never touches the exploded stream.
- Writers partition/bucket by `word` so query-time term lookups
  prune files (see write_index).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.text.tokenizer import tokens_column


@dataclass
class InvertedIndex:
    """The materialized-view set a BM25 query touches."""

    term_frequencies: DataFrame  # doc_id, word, term_freq
    doc_lengths: DataFrame       # doc_id, doc_length
    idf_values: DataFrame        # word, doc_freq, idf
    inverted_index: DataFrame    # word, doc_ids (sorted array)
    scoring_params: DataFrame    # n_docs, avgdl (single row)
    flat_words: DataFrame        # doc_id, word (token stream)
    # word, doc_id, term_score: BM25 contributions at the default
    # parameters, filled only by the serving layout (serve.py). Every
    # other constructor leaves it None, so precomputed scores never
    # outlive the idf and avgdl they were computed from.
    impacts: DataFrame | None = None

    def cache(self) -> "InvertedIndex":
        for df in (
            self.term_frequencies,
            self.doc_lengths,
            self.idf_values,
            self.scoring_params,
        ):
            df.cache()
        return self

    def materialized(self) -> "InvertedIndex":
        """Lineage-cut the core serving tables (io.cut_lineage, r14):
        a session-cached index whose tables keep the tokenize lineage
        makes every downstream search plan re-canonicalize that
        subtree per cache lookup — the se_* family pays it once per
        query. The cut stores each table once (localCheckpoint /
        reliable checkpoint) and hands consumers LogicalRDD leaves.

        Scope matches what ``cache()`` cached: term_frequencies,
        doc_lengths, idf_values, scoring_params. inverted_index and
        flat_words stay LAZY — they were never cached, only a couple
        of queries read them, and eagerly materializing them in the
        build charged every index-building slot two extra corpus
        passes (measured: se_term_frequencies 4.4 -> 5.9 s before
        this scoping)."""
        from searchengine_spark.io import cut_lineage

        return InvertedIndex(
            term_frequencies=cut_lineage(self.term_frequencies),
            doc_lengths=cut_lineage(self.doc_lengths),
            idf_values=cut_lineage(self.idf_values),
            inverted_index=self.inverted_index,
            scoring_params=cut_lineage(self.scoring_params),
            flat_words=self.flat_words,
        )

    def coalesce(self, n: int) -> "InvertedIndex":
        """Few-partition layout: shrink the core tables to ``n``
        partitions before caching (serve.serving_layout goes further
        and precomputes the scores). A small query over a cached index is
        task-scheduling-bound, not data-bound — at sf0.1 the default
        32-partition cache costs ~800 ms/query vs ~400 ms at 4
        partitions (measured; each of the query's stages schedules a
        task per partition for kilobytes of hits). Size n to the hot
        set: a few partitions per executor that serves queries; the
        100 TB COLD index stays in bucketed parquet (write_index) and
        never lives in one cache anyway."""
        return InvertedIndex(
            term_frequencies=self.term_frequencies.coalesce(n),
            doc_lengths=self.doc_lengths.coalesce(n),
            idf_values=self.idf_values.coalesce(n),
            inverted_index=self.inverted_index.coalesce(n),
            scoring_params=self.scoring_params,
            flat_words=self.flat_words,
        )


def build_index(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    stem: bool = False,
    tokens: Column | None = None,
    cache_tokens: bool = True,
    normalize: bool = False,
) -> InvertedIndex:
    """Build the full index lineage from a (doc_id, text) DataFrame.

    ``tokens`` overrides the tokenizer with a caller-supplied
    array<string> Column (e.g. concat of nested opinion texts for the
    reference's CAP corpus shape — see corpus.py).

    ``normalize``: replace ``text_col`` with its NFC-canonicalized
    form (text/normalize.py) BEFORE tokenization. Byte-variant twins
    (composed vs decomposed accents — proven present in real corpora
    by Q:dedup_nfc_exact_audit) otherwise index under different
    terms, and a composed-form query silently misses decomposed-form
    documents; under \\p{L} tokenization the decomposed form even
    loses its accents entirely (combining marks are category Mn, not
    L, so "cafe\\u0301" tokenizes as "cafe"). Works with both the
    default tokenizer and a caller ``tokens`` expression, which binds
    to the replaced column by name. One Arrow-batched pandas_udf on
    the ingest scan — the same budget as the Porter stemmer.

    ``cache_tokens``: the tokenized stream feeds four aggregates;
    without caching, Spark re-tokenizes the corpus once per branch.
    In-memory cache is right for interactive/test scale; for a
    100 TB build, disable and instead persist the index with
    write_index (one pass per aggregate over a disk-backed scan
    beats caching a corpus-sized token stream in RAM).
    """
    from searchengine_spark.io import ensure_min_partitions

    if normalize:
        from searchengine_spark.text.normalize import normalize_text_column

        docs = docs.withColumn(text_col, normalize_text_column(text_col))
    tok = tokens if tokens is not None else tokens_column(text_col, stem=stem)
    # NB: the empty-doc filter comes AFTER the (cached) projection —
    # filtering on size(words) in the same lineage lets predicate
    # pushdown sink the tokenizer expression into the scan stage,
    # serializing the whole tokenize pass onto the scan's partitions.
    tokenized = ensure_min_partitions(docs).select(
        F.col(id_col).alias("doc_id"), tok.alias("words")
    )
    if cache_tokens:
        tokenized = tokenized.cache()
    tokenized = tokenized.filter(F.size("words") > 0)

    # |d| straight off the array — no explode, no shuffle beyond the
    # (tiny) aggregate below.
    doc_lengths = tokenized.select(
        "doc_id", F.size("words").cast("bigint").alias("doc_length")
    )

    flat_words = tokenized.select(
        "doc_id", F.explode("words").alias("word")
    )

    # tf: the one unavoidable full shuffle, keyed (doc_id, word),
    # partials combined map-side by the hash aggregate.
    term_frequencies = flat_words.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).alias("term_freq")
    )

    # Postings: sorted for deterministic output (collect_list order is
    # partition-dependent; SURVEY.md §2.5 A1).
    inverted_index = term_frequencies.groupBy("word").agg(
        F.sort_array(F.collect_list("doc_id")).alias("doc_ids")
    )

    # Global scalars as a 1-row DF (no .collect() — stays lazy and
    # broadcast-joins wherever needed).
    scoring_params = doc_lengths.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("doc_length") / F.count(F.lit(1))).alias("avgdl"),
    )

    return InvertedIndex(
        term_frequencies=term_frequencies,
        doc_lengths=doc_lengths,
        idf_values=idf_table(term_frequencies, scoring_params),
        inverted_index=inverted_index,
        scoring_params=scoring_params,
        flat_words=flat_words,
    )


def idf_table(term_frequencies: DataFrame, scoring_params: DataFrame) -> DataFrame:
    """(word, doc_freq, idf) with idf = log10(N / df).

    df(t) comes from tf (already deduped to one row per (doc, word)):
    count(*) == countDistinct(doc_id) here, without the distinct's
    extra pass over the raw token stream."""
    return (
        term_frequencies.groupBy("word")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .crossJoin(F.broadcast(scoring_params.select("n_docs")))
        .select(
            "word",
            "doc_freq",
            F.log10(F.col("n_docs") / F.col("doc_freq")).alias("idf"),
        )
    )


def write_index(
    index: InvertedIndex,
    out_dir: str,
    *,
    buckets: int = 64,
    table_name: str = "se_term_frequencies",
) -> None:
    """Persist the index; term-keyed tables bucketed by word.

    Bucketing by `word` means a query's isin() filter prunes to a few
    buckets and the tf⋈idf join needs no shuffle on reload — the
    property the reference approximated with repartition(8, "word")
    (/root/reference/searchenginespark.py:160).

    ``table_name`` is the catalog entry for the bucketed tf table
    (bucketing metadata lives in the catalog, not the parquet files);
    writing a second index must use a distinct name or it repoints
    the first index's catalog entry.
    """
    (
        index.term_frequencies.write.format("parquet")
        .bucketBy(buckets, "word")
        .sortBy("word")
        .option("path", f"{out_dir}/term_frequencies")
        .mode("overwrite")
        .saveAsTable(table_name)
    )
    index.doc_lengths.write.mode("overwrite").parquet(f"{out_dir}/doc_lengths")
    index.idf_values.write.mode("overwrite").parquet(f"{out_dir}/idf_values")
    index.inverted_index.write.mode("overwrite").parquet(f"{out_dir}/inverted_index")
    index.scoring_params.write.mode("overwrite").parquet(f"{out_dir}/scoring_params")


def read_index(
    spark: SparkSession, out_dir: str, *, table_name: str = "se_term_frequencies"
) -> InvertedIndex:
    """Reload a persisted index.

    tf comes from the CATALOG table when available — a plain
    parquet-path read would silently drop the bucketing metadata and
    re-shuffle every word-keyed join, wasting what write_index paid
    for. The path read is only the fallback for indexes copied
    without a metastore.
    """
    if spark.catalog.tableExists(table_name):
        tf = spark.table(table_name)
    else:
        tf = spark.read.parquet(f"{out_dir}/term_frequencies")
    dl = spark.read.parquet(f"{out_dir}/doc_lengths")
    idf = spark.read.parquet(f"{out_dir}/idf_values")
    inv = spark.read.parquet(f"{out_dir}/inverted_index")
    sp = spark.read.parquet(f"{out_dir}/scoring_params")
    # flat_words must have one row per token OCCURRENCE, not per
    # (doc, word) pair — tf already collapsed duplicates, so expand
    # each pair back to term_freq rows. Without this a reloaded
    # index's flat_words silently under-counts repeated terms
    # (462,380 vs 1,530,152 rows at reference-corpus scale).
    flat = tf.select(
        "doc_id",
        F.explode(
            F.array_repeat(F.col("word"), F.col("term_freq").cast("int"))
        ).alias("word"),
    )
    return InvertedIndex(tf, dl, idf, inv, sp, flat)
