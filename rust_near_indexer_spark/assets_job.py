"""defuse_assets ingest job (S2 URL/JSON source + S19 refreshable MV).

The reference feeds its assets dimension from an HTTP JSON API once a day
via a refreshable, APPEND-mode materialized view (README.md:293-310):
``url('https://…/api/tokens/', JSONEachRow)`` + ``arrayJoin(items)``.

Spark-first: a scheduled batch job — fetch the JSON document, explode
``items``, project the dimension columns, append to the assets table.
The HTTP fetch is injected (``fetch_fn``) so the job is testable and the
engine stays network-free; the daily cadence belongs to whatever
scheduler runs the job (the reference's ``REFRESH EVERY 1 DAY`` is
ClickHouse-side scheduling, not query semantics).

Appends are cumulative history, deduped on read by the dimension PK
(defuse_asset_id, price_updated_at) — ReplacingMergeTree semantics
(02-silver-tables.sql:20-22) via sinks.read_final.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType

from . import sinks

ASSETS_PK = ("defuse_asset_id", "price_updated_at_ns")

# The API payload: {"items": [{blockchain, contract_address, decimals,
# defuse_asset_id, price, price_updated_at, symbol}]} (README.md:296-309).
_API_ITEM = (
    StructType()
    .add("blockchain", "string")
    .add("contract_address", "string")
    .add("decimals", "long")
    .add("defuse_asset_id", "string")
    .add("price", "double")
    .add("price_updated_at", "string")  # ISO-8601 from the API
    .add("symbol", "string")
)
API_SCHEMA = StructType().add("items", ArrayType(_API_ITEM))


def parse_assets_payload(spark: SparkSession, payload_json: str) -> DataFrame:
    """One API document → dimension rows: explode(items) is the S2
    arrayJoin; timestamps normalize to the canonical ns-long convention."""
    doc = spark.createDataFrame([(payload_json,)], "payload string")
    items = doc.select(
        F.explode(F.from_json("payload", API_SCHEMA)["items"]).alias("it")
    )
    return items.select(
        F.col("it.blockchain").alias("blockchain"),
        F.col("it.contract_address").alias("contract_address"),
        F.col("it.decimals").alias("decimals"),
        F.col("it.defuse_asset_id").alias("defuse_asset_id"),
        F.col("it.price").alias("price"),
        (F.unix_micros(F.to_timestamp("it.price_updated_at")) * 1000).alias(
            "price_updated_at_ns"
        ),
        F.col("it.symbol").alias("symbol"),
    )


def refresh_assets(
    spark: SparkSession,
    path: str,
    fetch_fn,
    ingest_seq: int | None = None,
) -> int:
    """The daily refresh body: fetch → parse → APPEND.  Returns row count.

    ``fetch_fn() -> str`` supplies the API document (inject an HTTP call
    in production; tests pass a literal).  Idempotent across re-runs of
    the same payload thanks to PK dedup on read.
    """
    if ingest_seq is None:
        ingest_seq = int(dt.datetime.now(tz=dt.timezone.utc).strftime("%Y%m%d"))
    df = parse_assets_payload(spark, fetch_fn())
    sinks.with_retries(lambda: sinks_append_assets(df, path, ingest_seq))
    return df.count()


def sinks_append_assets(df: DataFrame, path: str, ingest_seq: int) -> None:
    (
        df.withColumn("ingest_seq", F.lit(ingest_seq).cast("long"))
        .write.mode("append")
        .parquet(path)
    )


def read_assets(spark: SparkSession, path: str) -> DataFrame:
    """Dedup-on-read by the dimension PK (latest ingest wins)."""
    return sinks.last_write_wins(spark.read.parquet(path), ASSETS_PK, "ingest_seq")
