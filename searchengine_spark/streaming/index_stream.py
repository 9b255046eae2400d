"""Incremental inverted-index maintenance over a document stream.

Design: tf(doc, word) and doc_length(doc) are PER-DOCUMENT facts —
append-only when documents arrive whole (the crawl/ingest case). So
the streaming maintenance is:

    docs stream -> foreachBatch:
        tokenize batch -> batch tf + doc_lengths -> APPEND parquet

Corpus-level statistics (df, idf, N, avgdl) are NOT maintained
incrementally — they are cheap aggregates over the compact tf/dl
tables and are derived lazily at query time, always consistent with
everything ingested so far. This avoids every pitfall of streaming
multi-aggregation (no state store for a corpus-wide countDistinct,
no stale idf).

At 100 TB: each micro-batch appends partition files; a periodic
compaction job rewrites small files and re-buckets by word. The
query path is identical to the batch engine's (read_incremental_index
returns the same InvertedIndex type).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.index.builder import InvertedIndex, idf_table
from searchengine_spark.text.tokenizer import tokens_column


def start_index_maintenance(
    docs_stream: DataFrame,
    out_dir: str,
    *,
    text_col: str = "text",
    stem: bool = False,
    checkpoint_dir: str | None = None,
):
    """Start the maintenance query; returns the StreamingQuery."""

    def update_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Persist: the token stream feeds two writes; without it each
        # write re-tokenizes the batch.
        tokenized = (
            batch_df.select(
                F.col("doc_id"), tokens_column(text_col, stem=stem).alias("words")
            )
            .filter(F.size("words") > 0)
            .persist()
        )
        try:
            tokenized.select(
                "doc_id", F.size("words").cast("bigint").alias("doc_length")
            ).write.mode("append").parquet(f"{out_dir}/doc_lengths")
            (
                tokenized.select("doc_id", F.explode("words").alias("word"))
                .groupBy("doc_id", "word")
                .agg(F.count(F.lit(1)).alias("term_freq"))
                .write.mode("append")
                .parquet(f"{out_dir}/term_frequencies")
            )
        finally:
            tokenized.unpersist()

    writer = docs_stream.writeStream.foreachBatch(update_batch).trigger(
        availableNow=True
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def compact_incremental_index(
    spark: SparkSession,
    out_dir: str,
    compacted_dir: str,
    *,
    buckets: int = 64,
    table_name: str = "se_tf_compacted",
) -> InvertedIndex:
    """Periodic compaction: fold the micro-batch appends into the
    batch engine's bucketed layout (small-file rewrite + word
    bucketing + materialized idf/postings/params). The streaming
    maintenance keeps appending; compaction runs out-of-band and
    queries move to the compacted index — the standard
    lambda-architecture hand-off.
    """
    from searchengine_spark.index.builder import write_index

    idx = read_incremental_index(spark, out_dir)
    write_index(idx, compacted_dir, buckets=buckets, table_name=table_name)
    from searchengine_spark.index.builder import read_index

    return read_index(spark, compacted_dir, table_name=table_name)


def read_incremental_index(spark: SparkSession, out_dir: str) -> InvertedIndex:
    """Assemble the queryable index: tf/dl from the appended files,
    idf/params derived lazily (always consistent with ingested data).

    foreachBatch is at-least-once: a retried batch may append its
    per-doc facts twice. The facts are IDEMPOTENT per key — tf rows
    are identical for a re-tokenized doc, dl likewise — so read-side
    dropDuplicates on the key restores exactly-once semantics without
    any write-side transaction.
    """
    tf = spark.read.parquet(f"{out_dir}/term_frequencies").dropDuplicates(
        ["doc_id", "word"]
    )
    dl = spark.read.parquet(f"{out_dir}/doc_lengths").dropDuplicates(["doc_id"])
    params = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("doc_length") / F.count(F.lit(1))).alias("avgdl"),
    )
    inverted = tf.groupBy("word").agg(
        F.sort_array(F.collect_list("doc_id")).alias("doc_ids")
    )
    return InvertedIndex(
        term_frequencies=tf,
        doc_lengths=dl,
        idf_values=idf_table(tf, params),
        inverted_index=inverted,
        scoring_params=params,
        flat_words=tf.select("doc_id", "word"),
    )
