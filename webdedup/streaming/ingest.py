"""Streaming ingest: crawl feed -> deduped signature tables.

Pattern: ``readStream`` on a directory of parquet drops (stand-in for
Kafka/Kinesis in the sandbox) -> extraction + signature projection (the
same per-document signature function as batch — pure per-row projections
lift to streams unchanged) -> watermarked exact-dup suppression -> append
sink.

Near-dup LSH joins and connected components stay BATCH: they are global
fixpoint computations; the streaming layer's job is to land deduplicated,
signature-enriched micro-batches that the periodic batch pipeline clusters
(the standard lambda shape for web-scale dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webdedup.config import DedupConfig, DEFAULT
from webdedup.functions.extract import extract_text_udf
from webdedup.functions.signatures import simhash64_udf
from webdedup.sources.corpus import WEB_PAGES_SCHEMA


def read_page_stream(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(WEB_PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def enrich_stream(pages: DataFrame, cfg: DedupConfig = DEFAULT) -> DataFrame:
    """html -> text -> content hash + simhash, streaming-safe projections.

    Extractor/tokenizer are the cfg-named registry schemes (SURVEY §2.9)."""
    text = (F.col("text") if "text" in pages.columns
            else extract_text_udf(cfg.extractor)(F.col("html")))
    return (
        pages.withColumn("text", text)
        .drop("html")
        .withColumn("content_sha", F.sha2(F.col("text"), 256))
        .withColumn("simhash", simhash64_udf(cfg)(F.col("text")))
    )


def dedup_stream(enriched: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Suppress exact duplicates within the watermark window — the streaming
    analog of the exact-dedup hash-agg A1.

    Uses ``dropDuplicatesWithinWatermark``: per-key state is EVICTED once
    the event-time watermark passes a key's first-seen time + delay, so a
    long-running stream holds state only for the trailing window.  (Plain
    ``dropDuplicates(['content_sha'])`` would IGNORE the watermark here —
    Spark only applies watermark-based eviction to dedup state when the
    event-time column is part of the key subset — and state would grow
    unboundedly.)  The contract is correspondingly windowed: a re-crawl of
    the same page more than ``watermark`` after the original is emitted
    again; the periodic batch pipeline's global exact matcher collapses
    those — the standard streaming/batch split for web-scale dedup.
    """
    return (
        enriched.withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["content_sha"])
    )


def write_signature_stream(deduped: DataFrame, out_dir: str,
                           checkpoint_dir: str, once: bool = True):
    """Append sink + checkpoint dir => exactly-once, resumable ingestion."""
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if once:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime="10 seconds").start()
