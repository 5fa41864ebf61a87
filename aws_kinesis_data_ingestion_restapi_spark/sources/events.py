"""Order-event sources: envelope decode, batch + streaming readers.

The reference's ingest head is ``base64 → utf-8 → json.loads`` at the
top of every consumer (e.g. lambda_kinesis_consumer:27,
lambda_orders_transformation:17-18). Here that is one declarative
expression — ``from_json(unbase64(Data), ORDER_EVENT_SCHEMA)`` — which
stays JVM-side inside whole-stage codegen (no Python UDF).

Malformed payloads do NOT kill the query: ``from_json`` is PERMISSIVE
(null struct on parse failure), matching the reference's contract that
bad records divert to an ``errors/`` prefix (terraform/main.tf:676)
rather than failing the pipeline. Use ``split_corrupt`` to route them.

The decode is source-agnostic because it operates on the ``Data``
payload column; wiring a production Kinesis or Kafka connector in front
of it is ROADMAP direction 4.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_kinesis_data_ingestion_restapi_spark.schema import ENVELOPE_SCHEMA, ORDER_EVENT_SCHEMA


def decode_envelope(envelopes: DataFrame) -> DataFrame:
    """Decode ``{StreamName, PartitionKey, Data(b64 JSON)}`` rows into
    typed order-event rows (SURVEY §2 S4).

    Output: the 7 ORDER_EVENT_SCHEMA columns plus ``_raw`` (the decoded
    JSON string, kept for error routing; drop it with ``split_corrupt``).
    """
    # try_to_binary (not unbase64): under ANSI semantics unbase64 THROWS
    # on malformed base64, which would let one bad record kill the
    # stream; try_to_binary yields NULL, which split_corrupt quarantines.
    raw = F.try_to_binary(F.col("Data"), F.lit("base64")).cast("string")
    parsed = F.from_json(raw, ORDER_EVENT_SCHEMA)
    # _raw falls back to the ORIGINAL transport payload when the
    # base64 decode itself failed — a NULL _raw would quarantine a
    # record nobody can inspect or replay, losing exactly the bytes
    # the errors/ prefix exists to keep
    return envelopes.select(
        parsed.alias("event"),
        F.coalesce(raw, F.col("Data")).alias("_raw"),
    ).select("event.*", "_raw")


def is_corrupt() -> Column:
    """The corrupt-record test on decoded events: JSON parsing failed
    entirely or a required key field is missing (the reference's
    Lambdas would KeyError → Firehose error prefix)."""
    return F.col("order_id").isNull() | F.col("customer_id").isNull()


def split_corrupt(decoded: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split decoded events into (good, corrupt) by :func:`is_corrupt`
    — the error-quarantine contract (SURVEY §2 E1).
    """
    is_bad = is_corrupt()
    good = decoded.filter(~is_bad).drop("_raw")
    bad = decoded.filter(is_bad).select(
        F.col("_raw").alias("raw_payload"),
        F.lit("ProcessingFailed").alias("result"),  # Firehose status vocab (T9)
        F.current_timestamp().alias("error_ts"),
    )
    return good, bad


def read_envelope_json(spark: SparkSession, path: str) -> DataFrame:
    """Batch-read NDJSON envelope files and decode to order events."""
    return decode_envelope(spark.read.schema(ENVELOPE_SCHEMA).json(path))


def read_envelope_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming file source of NDJSON envelopes → decoded order events.

    Stands in for the Kinesis connector in tests (micro-batching via
    ``maxFilesPerTrigger`` ~ the reference's batch_size/window knobs,
    terraform/main.tf:271-279).
    """
    reader = spark.readStream.schema(ENVELOPE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return decode_envelope(reader.json(path))


def rate_envelope_stream(
    spark: SparkSession, rows_per_second: int = 100
) -> DataFrame:
    """Decoded order-event stream driven by Spark's built-in ``rate``
    source — a CONTINUOUS, unbounded micro-batch source, which is the
    deployment shape the Kinesis connector has (the file source the
    gate adapters use is bounded and mtime-ordered; ``rate`` exercises
    the pipeline the way a real stream does: batches keep coming,
    volume is time- not file-driven, and there is no backlog to drain).

    Each ``value`` (the rate source's monotonically increasing int64)
    becomes one deterministic synthetic order event assembled ENTIRELY
    column-side — struct build, ``to_json``, ``base64`` — then decoded
    by the very same :func:`decode_envelope` the production path uses,
    so the whole envelope codec round-trips per record at stream rate
    with zero Python in the loop. Field domains mirror the reference
    producer's (sources/generator.py: 30 fixed customers, 5 payment
    types, exactly 2 products per order).

    Swap-in contract: the returned frame is column-compatible with
    ``read_envelope_stream`` output — ``IngestionPipeline.start`` takes
    either; tests/test_streaming.py drives the full 4-table fan-out
    from it."""
    from aws_kinesis_data_ingestion_restapi_spark.sources import generator as g

    def pick(choices: list, key):
        arr = F.array(*[F.lit(str(c)) for c in choices])
        return F.element_at(arr, (key % len(choices)).cast("int") + 1)

    v = F.col("value")

    def product(k):
        return F.struct(
            F.concat(
                F.lit("p"), F.lpad(((k * 7919) % 100000).cast("string"), 5, "0")
            ).alias("product_id"),
            pick(g.PRODUCT_NAMES, k * 13).alias("name"),
            ((k % 5) + 1).cast("int").alias("quantity"),
            F.struct(
                pick(g.COLORS, k * 3).alias("color"),
                pick(g.SIZES, k * 5).alias("size"),
            ).alias("item_details"),
        )

    event = F.struct(
        pick(g.CUSTOMER_POOL, v).alias("customer_id"),
        F.concat(F.lit("o"), F.lpad((v % 100000).cast("string"), 5, "0")).alias(
            "order_id"
        ),
        F.concat(
            F.date_format(
                F.timestamp_seconds(F.lit(1704067200) + (v % 2419200)),
                "yyyy-MM-dd'T'HH:mm:ss",
            ),
            F.lit("Z"),
        ).alias("order_date"),
        F.lit("pending").alias("status"),
        F.struct(
            F.concat(
                ((v % 9999) + 1).cast("string"),
                F.lit(" "),
                pick(g.PRODUCT_NAMES, v * 11).alias("_"),
                F.lit(" "),
                pick(g.STREET_SUFFIXES, v * 17),
            ).alias("street"),
            F.concat(F.lit("City"), ((v % 50) + 1).cast("string")).alias("city"),
            pick(g.STATES, v * 19).alias("state"),
            ((v % 90000) + 10000).cast("string").alias("zip"),
            pick(g.COUNTRIES, v * 23).alias("country"),
        ).alias("shipping_address"),
        F.struct(
            pick(g.PAYMENT_TYPES, v * 29).alias("payment_type"),
            (((v * 37) % 9000 + 1000).cast("double") / F.lit(100.0)).alias(
                "amount"
            ),
            F.lit("USD").alias("currency"),
            ((v % 13) + 1).cast("int").alias("instalments"),
        ).alias("purchaise_details"),
        F.array(product(v * 2), product(v * 2 + 1)).alias("product_details"),
    )
    envelopes = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(
            F.lit("order-events").alias("StreamName"),
            pick(g.CUSTOMER_POOL, v).alias("PartitionKey"),
            F.base64(F.to_json(event).cast("binary")).alias("Data"),
        )
    )
    return decode_envelope(envelopes)
