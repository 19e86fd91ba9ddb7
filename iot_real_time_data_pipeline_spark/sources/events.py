"""Raw IoT event ingestion (reference sources S1/S2/S6).

The reference consumes base64-encoded JSON from Kinesis
(``Lambda/lamda.py:422-428``) and quarantines undecodable payloads to
``errors/json_decode/`` (lamda.py:488-503). Spark-first equivalent:

- wire format = one JSON text payload per line/row (file source in
  tests; a Kafka `value` column in production — same parse path);
- explicit ``raw_event_schema()`` + ``from_json`` replaces the Glue
  crawler's schema inference (README.md:81);
- a payload ``from_json`` cannot parse yields a null struct — that IS
  the dead-letter predicate (S6), no exceptions, no driver round-trip.

Keeping ``raw_json`` alongside the parsed struct costs one string
column before the first projection and preserves the lexical
string-vs-number distinction validation needs (see
``functions.validation``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import RAW_JSON_COL, raw_event_schema

CORRUPT_COL = "_corrupt_record"


def parse_raw_payloads(
    df: DataFrame, payload_col: str = "value", seq_col: str | None = None
) -> DataFrame:
    """payload text column -> parsed event columns + raw_json +
    json_decode_error flag + source_seq. Works identically for batch
    and streaming inputs (same plan fragment).

    PERMISSIVE mode + a corrupt-record column replaces the reference's
    ``json.JSONDecodeError`` try/except (lamda.py:488-503): malformed
    payloads set ``_corrupt_record`` instead of raising, and ``{}`` —
    valid JSON — correctly proceeds to validation (where it becomes
    INVALID via missing_loc_id, as in the reference).

    ``source_seq`` stands in for the Kinesis sequence number the
    reference stores with every dead letter (lamda.py:509): pass
    ``seq_col`` when the wire format carries one (Kafka
    partition-offset, Kinesis sequence); otherwise batch inputs get a
    per-batch-unique ``monotonically_increasing_id`` so a dead letter
    can still be traced to its position in the batch. Streaming inputs
    without a ``seq_col`` leave it null here (the expression is not
    allowed on streaming frames) and the micro-batch loader fills it
    per batch (``streaming.pipeline.foreach_batch_loader``).
    """
    schema = raw_event_schema().add(T.StructField(CORRUPT_COL, T.StringType()))
    payload = F.col(payload_col).cast("string")
    if seq_col:
        seq = F.col(seq_col).cast("string")
    elif df.isStreaming:
        seq = F.lit(None).cast("string")
    else:
        seq = F.monotonically_increasing_id().cast("string")
    parsed = df.select(
        payload.alias(RAW_JSON_COL),
        seq.alias("source_seq"),
        F.from_json(
            payload,
            schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
        ).alias("_e"),
    )
    decode_error = (
        F.col(RAW_JSON_COL).isNull()
        | (F.trim(F.col(RAW_JSON_COL)) == "")
        | F.col("_e").isNull()
        | F.col(f"_e.{CORRUPT_COL}").isNotNull()
    )
    return parsed.select(
        RAW_JSON_COL,
        "source_seq",
        *[F.col(f"_e.{f.name}") for f in raw_event_schema().fields],
        decode_error.alias("json_decode_error"),
    )


def parse_base64_payloads(df: DataFrame, payload_col: str = "data") -> DataFrame:
    """Kinesis-shaped input: base64 column -> events (lamda.py:426-428)."""
    decoded = df.withColumn("_payload", F.unbase64(F.col(payload_col)).cast("string"))
    return parse_raw_payloads(decoded, "_payload")


def read_raw_events_stream(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming read of the same wire format (S1/S2 stand-in)."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return parse_raw_payloads(reader.load(path), "value")


def parse_kafka_records(records: DataFrame) -> DataFrame:
    """Kafka-source-shaped records -> parsed events (shared parse path).

    Expects the Kafka source contract columns (``value`` binary,
    ``partition`` int, ``offset`` long); the partition-offset pair
    becomes ``source_seq``, the analog of the Kinesis sequence number
    the reference stores with dead letters (lamda.py:509). Unit-tested
    on a Kafka-shaped frame — the parse stage is identical whether the
    records came from the connector or a test fixture. In production,
    pass it ``spark.readStream.format("kafka")...load()`` (needs the
    spark-sql-kafka connector on the classpath).
    """
    with_seq = records.withColumn(
        "_kafka_seq",
        F.concat_ws(
            "-", F.col("partition").cast("string"), F.col("offset").cast("string")
        ),
    )
    return parse_raw_payloads(with_seq, "value", seq_col="_kafka_seq")


DOC_STREAM_SCHEMA = (
    "doc_id long, text string, lang string, source string, ingest_ts timestamp"
)


def parse_kafka_documents(records: DataFrame) -> DataFrame:
    """Kafka-source-shaped records -> documents frame (schema
    ``DOC_STREAM_SCHEMA``); the document twin of ``parse_kafka_records``.

    Expects the same Kafka source contract columns (``value`` binary
    JSON of one document, ``partition`` int, ``offset`` long); the
    partition-offset pair rides along as ``source_seq`` for dead-letter
    traceability.
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
