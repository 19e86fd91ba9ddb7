"""Streaming corpus curation: the stream-native form of
``operators.curation.curation_pipeline`` for continuously-ingested
documents (crawl drops, log shipping) rather than batch backfills.

Stages, all bounded-state / stream-safe:

1. watermark on the ingest timestamp — bounds every stateful stage and
   defines lateness;
2. exact dedup via ``dropDuplicatesWithinWatermark`` on the normalized
   text digest — the streaming twin of the batch ``exact_dedup``
   groupBy: state holds one digest per UNIQUE document seen within the
   watermark horizon and is GC'd as the watermark advances (an
   unbounded ``dropDuplicates`` would grow state forever — the classic
   streaming-dedup trap);
3. quality gate + language ID — pure Column expressions shared with
   the batch pipeline (same thresholds, same argmax), so batch
   backfills and the live stream make byte-identical keep decisions;
4. corpus sink partitioned by predicted language (static pruning for
   training readers), plus per-batch curation counters.

Near-dup (MinHash) dedup stays a batch job over the accumulated lake:
its candidate join is cross-PARTITION by nature and does not fit
bounded per-key streaming state honestly; the production pattern is
stream-exact-dedup + periodic batch near-dup compaction, which this
module plus ``operators.dedup`` implements end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import texthash as TH
from ..operators import dedup as DD
from ..operators import text_analysis as TA

DOC_STREAM_SCHEMA = (
    "doc_id long, text string, lang string, source string, ingest_ts timestamp"
)


def curate_doc_stream(
    stream_docs: DataFrame, watermark_delay: str = "10 minutes"
) -> DataFrame:
    """Watermarked exact-dedup + quality gate + language ID over a
    streaming documents frame (schema ``DOC_STREAM_SCHEMA``).

    Returns the curated manifest stream ``(doc_id, predicted_lang,
    n_tokens, source, ingest_ts, text)`` — append-mode safe (no
    aggregation; the only stateful operator is the watermark-bounded
    dedup).
    """
    s = stream_docs.withWatermark("ingest_ts", watermark_delay)
    hashed = s.withColumn("text_hash", F.md5(DD.normalized(F.col("text"))))
    deduped = hashed.dropDuplicatesWithinWatermark(["text_hash"])

    text = F.col("text")
    toks = TH.tokens(text)
    scored = deduped.select(
        "doc_id",
        "source",
        "ingest_ts",
        "text",
        F.size(toks).alias("n_tokens"),
        F.length(text).alias("n_chars"),
        F.length(F.regexp_replace(text, r"[^.,;:!?]", "")).alias("punct"),
        F.length(F.regexp_replace(text, r"[^0-9]", "")).alias("digits"),
        *[TA._lang_score(toks, lang).alias(f"s_{lang}") for lang in TA.LANGS],
    )
    quality_keep = (
        (F.col("n_tokens") >= 10)
        & (F.col("punct") / F.col("n_chars").cast("double") < 0.2)
        & (F.col("digits") / F.col("n_chars").cast("double") < 0.5)
    )
    return (
        scored.withColumn("predicted_lang", TA.predicted_lang_over_scores())
        .filter(quality_keep)
        .select("doc_id", "predicted_lang", "n_tokens", "source", "ingest_ts", "text")
    )


def parse_kafka_documents(records: DataFrame) -> DataFrame:
    """Kafka-source-shaped records -> streaming documents frame
    (shared parse path; mirrors ``sources.events.parse_kafka_records``).

    Expects the Kafka source contract columns (``value`` binary JSON of
    one document, ``partition`` int, ``offset`` long); the
    partition-offset pair rides along as ``source_seq`` for dead-letter
    traceability. Unit-tested on a Kafka-shaped frame — the parse stage
    is identical whether records came from the connector or a fixture.
    """
    parsed = records.select(
        F.concat_ws(
            "-", F.col("partition").cast("string"), F.col("offset").cast("string")
        ).alias("source_seq"),
        F.from_json(
            F.col("value").cast("string"), DOC_STREAM_SCHEMA
        ).alias("_d"),
    )
    return parsed.select("source_seq", "_d.*")


def run_corpus_stream(
    spark: SparkSession,
    source_dir: str,
    corpus_dir: str,
    checkpoint_dir: str,
    watermark_delay: str = "10 minutes",
    available_now: bool = True,
):
    """Wire a JSONL document drop directory into the partitioned corpus
    sink. Returns the started StreamingQuery.

    The sink partitions by predicted language (the ``write_corpus``
    routing rule: low-cardinality keys only) so training readers prune
    statically; exactly-once delivery comes from the checkpoint +
    parquet sink's transactional commit protocol.
    """
    stream = (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(source_dir)
    )
    curated = curate_doc_stream(stream, watermark_delay)
    writer = (
        curated.writeStream.format("parquet")
        .option("path", corpus_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("predicted_lang")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
