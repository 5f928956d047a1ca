"""Silver + gold gate queries: Spark MV transforms vs independent DuckDB SQL.

The Spark side runs plans/silver.py + plans/gold.py over the *Spark*
bronze events output (full-stack: fixture blocks → bronze → silver →
gold).  The DuckDB oracle re-implements each ClickHouse MV's SQL
(02-silver-tables.sql / 03-gold-views.sql) from scratch over the *golden*
events parquet produced by the pure-Python simulator — a genuine
two-implementation differential on the silver/gold logic, with input
equality separately guaranteed by the bronze_* gate entries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..caching import Pins, SessionCache
from ..plans import gold, silver
from . import register
from .near_events import ASSETS_PATH, bronze_tables, expected_path, load_assets

_EVENTS = f"read_parquet('{expected_path('events')}')"

_COMMON = (
    "block_height, block_timestamp_ns, block_hash, contract_id, execution_status, "
    "version, standard, event, related_receipt_id, related_receipt_receiver_id, "
    "related_receipt_predecessor_id"
)

_PROD = "('defuse-alpha.near', 'intents.near')"
_STAGING = "('staging-intents.near')"


def _rows(filters: str) -> str:
    """events rows + exploded JSON array elements (arrayJoin of
    JSONExtractArrayRaw, 02-silver-tables.sql:77 etc.)."""
    return (
        f"SELECT *, unnest(from_json(data::JSON, '[\"JSON\"]')) AS data_row "
        f"FROM {_EVENTS} WHERE {filters}"
    )


def _jv(path: str, default: bool = True) -> str:
    expr = f"json_extract_string(data_row, '$.{path}')"
    return f"coalesce({expr}, '')" if default else expr


def nep245_sql() -> str:
    return f"""
    WITH rows AS ({_rows(f"standard = 'nep245' AND block_timestamp_ns >= {silver.CUTOFF_NEP245_NS}")}),
    named AS (
        SELECT *,
               {_jv("memo")} AS memo,
               CASE WHEN event = 'mt_transfer' THEN {_jv("old_owner_id", False)} ELSE {_jv("owner_id", False)} END AS old_owner_id,
               CASE WHEN event = 'mt_transfer' THEN {_jv("new_owner_id", False)} ELSE {_jv("owner_id", False)} END AS new_owner_id
        FROM rows
    ),
    flat AS (
        SELECT *,
               unnest(from_json(json_extract(data_row, '$.token_ids'), '["VARCHAR"]')) AS token_id,
               unnest(from_json(json_extract(data_row, '$.amounts'), '["VARCHAR"]')) AS amount_str
        FROM named
    )
    SELECT {_COMMON}, tx_hash, memo, old_owner_id, new_owner_id, token_id,
           TRY_CAST(amount_str AS DOUBLE) AS amount
    FROM flat
    """


def token_diff_sql() -> str:
    filters = (
        f"contract_id IN {_PROD} AND standard = 'dip4' AND event = 'token_diff' "
        f"AND block_timestamp_ns >= {silver.CUTOFF_TOKEN_DIFF_NS}"
    )
    return f"""
    WITH rows AS ({_rows(filters)}),
    named AS (
        SELECT *, {_jv("account_id")} AS account_id, {_jv("intent_hash")} AS intent_hash,
               {_jv("referral")} AS referral
        FROM rows
    ),
    keys AS (SELECT *, unnest(json_keys(data_row, '$.diff')) AS diff_token FROM named),
    kv AS (
        SELECT *, TRY_CAST(json_extract(data_row, '$.diff."' || diff_token || '"') AS DOUBLE) AS diff_value
        FROM keys
    )
    SELECT {_COMMON}, account_id,
           CASE WHEN diff_value >= 0 THEN diff_token ELSE '' END AS diff_positive_token,
           CASE WHEN diff_value >= 0 THEN diff_value ELSE 0 END AS diff_positive_amount,
           CASE WHEN diff_value < 0 THEN diff_token ELSE '' END AS diff_negative_token,
           CASE WHEN diff_value < 0 THEN diff_value ELSE 0 END AS diff_negative_amount,
           intent_hash, referral
    FROM kv
    """


def _object_sql(event_filter: str, cutoff_ns: int, fields: list[tuple[str, str]]) -> str:
    """Object-payload MVs (public_keys / fee_changed): data_row = data."""
    cols = ", ".join(f"coalesce(json_extract_string(data_row, '$.{p}'), '') AS {a}" for p, a in fields)
    return f"""
    SELECT {_COMMON}, {cols}
    FROM (SELECT *, data::JSON AS data_row FROM {_EVENTS}
          WHERE contract_id IN {_PROD} AND standard = 'dip4' AND {event_filter}
            AND block_timestamp_ns >= {cutoff_ns})
    """


def public_keys_sql() -> str:
    return _object_sql(
        "event IN ('public_key_added', 'public_key_removed')",
        silver.CUTOFF_PUBLIC_KEYS_NS,
        [("account_id", "account_id"), ("public_key", "public_key")],
    )


def fee_changed_sql() -> str:
    return _object_sql(
        "event = 'fee_changed'",
        silver.CUTOFF_FEE_CHANGED_NS,
        [("old_fee", "old_fee"), ("new_fee", "new_fee")],
    )


def intents_executed_sql() -> str:
    filters = (
        f"contract_id IN {_PROD} AND standard = 'dip4' AND event = 'intents_executed' "
        f"AND block_timestamp_ns >= {silver.CUTOFF_INTENTS_EXECUTED_NS}"
    )
    return f"""
    SELECT {_COMMON}, {_jv("account_id")} AS account_id, {_jv("intent_hash")} AS intent_hash
    FROM ({_rows(filters)})
    """


def transfer_sql(contracts: str) -> str:
    filters = f"contract_id IN {contracts} AND standard = 'dip4' AND event = 'transfer'"
    return f"""
    WITH rows AS ({_rows(filters)}),
    named AS (
        SELECT *, {_jv("memo")} AS memo,
               {_jv("account_id", False)} AS old_owner_id,
               {_jv("receiver_id", False)} AS new_owner_id,
               {_jv("intent_hash")} AS intent_hash
        FROM rows
    ),
    keys AS (SELECT *, unnest(json_keys(data_row, '$.tokens')) AS token_id FROM named)
    SELECT {_COMMON}, tx_hash, memo, old_owner_id, new_owner_id, token_id,
           TRY_CAST(replace(json_extract(data_row, '$.tokens."' || token_id || '"')::VARCHAR, '"', '') AS DOUBLE) AS amount,
           intent_hash
    FROM keys
    """


def transfers_union_sql(contracts: str) -> str:
    """silver_transfers view (02-silver-tables.sql:410-435,516-541)."""
    return f"""
    SELECT {_COMMON}, tx_hash, memo, old_owner_id, new_owner_id, token_id, amount, '' AS intent_hash
    FROM ({nep245_sql()}) WHERE contract_id IN {contracts}
    UNION ALL
    SELECT {_COMMON}, tx_hash, memo, old_owner_id, new_owner_id, token_id, amount, intent_hash
    FROM ({transfer_sql(contracts)})
    """


def r25_sql() -> str:
    """extract_silver_dip4_transfers (silver_transfers.rs:25-114) in
    DuckDB: windowed first-non-empty referral + tokens map explode with
    exact DECIMAL(38,0) amounts."""
    return f"""
    WITH ev AS (
        SELECT * FROM {_EVENTS}
        WHERE contract_id IN {_PROD} AND standard = 'dip4'
    ),
    td AS (
        SELECT block_height, receipt_index_in_block, index_in_log, related_receipt_id,
               unnest(from_json(data::JSON, '["JSON"]')) AS item,
               unnest(range(1, json_array_length(data::JSON)::BIGINT + 1)) AS pos
        FROM ev WHERE event = 'token_diff'
    ),
    refs AS (
        SELECT related_receipt_id, referral FROM (
            SELECT related_receipt_id, json_extract_string(item, '$.referral') AS referral,
                   ROW_NUMBER() OVER (PARTITION BY related_receipt_id
                                      ORDER BY block_height, receipt_index_in_block, index_in_log, pos) AS rn
            FROM td WHERE coalesce(json_extract_string(item, '$.referral'), '') != ''
        ) WHERE rn = 1
    ),
    tr AS (
        SELECT *, unnest(from_json(data::JSON, '["JSON"]')) AS item
        FROM ev WHERE event = 'transfer'
    ),
    items AS (SELECT *, unnest(json_keys(item, '$.tokens')) AS token_id FROM tr)
    SELECT {_COMMON}, coalesce(i.tx_hash, '') AS tx_hash,
           nullif(json_extract_string(item, '$.memo'), '') AS memo,
           json_extract_string(item, '$.account_id') AS old_owner_id,
           json_extract_string(item, '$.receiver_id') AS new_owner_id,
           i.token_id,
           TRY_CAST(replace(json_extract(item, '$.tokens."' || i.token_id || '"')::VARCHAR, '"', '') AS DECIMAL(38,0)) AS amount,
           coalesce(json_extract_string(item, '$.intent_hash'), '') AS intent_hash,
           r.referral
    FROM items i LEFT JOIN refs r USING (related_receipt_id)
    """


def gold_sql() -> str:
    """gold_view_intents_metrics (03-gold-views.sql:4-31) with the same
    micro-USD decimal aggregation as plans/gold.py."""
    # double→decimal via VARCHAR: Spark's double→decimal cast goes through
    # the shortest round-trip string (BigDecimal.valueOf), so above 2^53
    # the exact binary value and the decimal diverge in low digits; DuckDB
    # converts the exact value.  Routing DuckDB through VARCHAR (also
    # shortest round-trip) makes both engines produce the same decimal.
    micro = "CAST(CAST(ROUND(usd_value * 1e6) AS VARCHAR) AS DECIMAL(38,0))"
    return f"""
    WITH nep AS ({nep245_sql()}),
    td AS ({token_diff_sql()}),
    assets AS (
        SELECT make_timestamp(price_updated_at_ns // 1000)::DATE AS price_day,
               defuse_asset_id, decimals, price, symbol, blockchain
        FROM read_parquet('{ASSETS_PATH}')
    ),
    decoded AS (
        SELECT DISTINCT e.block_timestamp_ns, e.block_hash, e.event, e.memo,
               e.old_owner_id, e.new_owner_id, e.token_id,
               (e.amount / pow(10, a.decimals)) * a.price AS usd_value,
               a.symbol, a.blockchain, d.referral
        FROM nep e
        LEFT JOIN td d ON d.related_receipt_id = e.related_receipt_id
        LEFT JOIN assets a
            ON make_timestamp(e.block_timestamp_ns // 1000)::DATE = a.price_day
           AND e.token_id = a.defuse_asset_id
        WHERE NOT ((length(d.referral) = 0) AND (length(e.memo) = 0))
    )
    SELECT make_timestamp(block_timestamp_ns // 1000)::DATE AS day, symbol,
           coalesce(referral, 'Others') AS referral, blockchain,
           CAST(SUM(CASE WHEN event = 'mt_transfer' THEN {micro} END) AS DOUBLE) / 1e6 AS transfer_volume,
           CAST(SUM(CASE WHEN event = 'mt_mint' THEN {micro} END) AS DOUBLE) / 1e6 AS deposits,
           CAST(-SUM(CASE WHEN event = 'mt_burn' THEN {micro} END) AS DOUBLE) / 1e6 AS withdraws,
           CAST(SUM(CASE WHEN event = 'mt_mint' THEN {micro}
                         WHEN event = 'mt_burn' THEN -{micro} END) AS DOUBLE) / 1e6 AS netflow
    FROM decoded
    WHERE symbol != '' AND blockchain != ''
    GROUP BY ALL
    ORDER BY 1
    """


def _events(spark: SparkSession) -> DataFrame:
    return bronze_tables(spark)["events"]


# r12 (guide §5 caching rule — reused AND expensive): the four silver
# MV frames below feed multiple registered queries each (nep245 →
# silver_nep245_events, both transfers views AND the flagship gold view;
# token_diff → silver_dip4_token_diff and the gold view; each
# dip4_transfer variant → its MV query and its transfers view), and
# every evaluation re-runs the JSON extraction over the bronze events.
# Persist each once per session, exactly the bronze_tables discipline
# (the reference's MVs are likewise computed once and read many times).
_SILVER_CACHE = SessionCache("silver_gold.frames")


def _silver(spark: SparkSession, which: str) -> DataFrame:
    def build(pins: Pins) -> DataFrame:
        ev = _events(spark)
        if which == "nep245":
            df = silver.nep_245_events(ev)
        elif which == "token_diff":
            df = silver.dip4_token_diff(ev)
        elif which == "transfer_prod":
            df = silver.dip4_transfer(ev, schemas.PRODUCTION_CONTRACTS)
        elif which == "transfer_staging":
            df = silver.dip4_transfer(ev, (schemas.STAGING_CONTRACT,))
        else:  # pragma: no cover - internal key set
            raise KeyError(which)
        return pins.pin(df)

    return _SILVER_CACHE.get_or_build(spark, (which,), build)


@register("silver_nep245_events", oracle=nep245_sql(), tags=("S3", "S4", "S5", "S7", "S8", "S9"))
def silver_nep245_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mv_silver_nep_245_events: data-array explode + token/amount zip."""
    return _silver(spark, "nep245")


@register("silver_dip4_token_diff", oracle=token_diff_sql(), tags=("S3", "S4", "S5", "S6", "S8"))
def silver_dip4_token_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mv_silver_dip4_token_diff: signed-float diff map explode + sign split."""
    return _silver(spark, "token_diff")


@register("silver_dip4_public_keys", oracle=public_keys_sql(), tags=("S3", "S5"))
def silver_dip4_public_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mv_silver_dip4_public_keys: object payload, scalar extraction."""
    return silver.dip4_public_keys(_events(spark))


@register("silver_dip4_intents_executed", oracle=intents_executed_sql(), tags=("S3", "S4", "S5"))
def silver_dip4_intents_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mv_silver_dip4_intents_executed: array payload explode."""
    return silver.dip4_intents_executed(_events(spark))


@register("silver_dip4_fee_changed", oracle=fee_changed_sql(), tags=("S3", "S5"))
def silver_dip4_fee_changed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """silver_mv_dip4_fee_changed: object payload."""
    return silver.dip4_fee_changed(_events(spark))


@register("silver_dip4_transfer", oracle=transfer_sql(_PROD), tags=("S3", "S4", "S5", "S6", "S9"))
def silver_dip4_transfer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mv_silver_dip4_transfer: tokens{token→amount} map explode (no cutoff)."""
    return _silver(spark, "transfer_prod")


@register("silver_staging_dip4_transfer", oracle=transfer_sql(_STAGING), tags=("S3", "S4", "S5", "S6", "S9"))
def silver_staging_dip4_transfer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mv_staging_silver_dip4_transfer: staging contract variant."""
    return _silver(spark, "transfer_staging")


@register("silver_transfers", oracle=transfers_union_sql(_PROD), tags=("S17",))
def silver_transfers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """silver_transfers UNION ALL view (production)."""
    return silver.transfers_union(
        _silver(spark, "nep245"),
        _silver(spark, "transfer_prod"),
        schemas.PRODUCTION_CONTRACTS,
    )


@register("staging_silver_transfers", oracle=transfers_union_sql(_STAGING), tags=("S17",))
def staging_silver_transfers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """staging_silver_transfers UNION ALL view."""
    return silver.transfers_union(
        _silver(spark, "nep245"),
        _silver(spark, "transfer_staging"),
        (schemas.STAGING_CONTRACT,),
    )


@register(
    "r25_dip4_transfers",
    # amount stays DECIMAL(38,0) internally; the gate output renders it as
    # its exact decimal string because the driver's comparator converts
    # results through pandas, where Spark Decimal cells and DuckDB's
    # decimal128→float64 coercion stringify differently (r02 hash miss).
    oracle=f"SELECT * REPLACE (CAST(amount AS VARCHAR) AS amount) FROM ({r25_sql()})",
    tags=("R25",),
)
def r25_dip4_transfers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R25 dual formulation: the in-process (PG-path) dip4 transfer
    extraction with first-non-empty referral join and exact decimal
    amounts — cross-validated against the MV formulation in tests."""
    df = silver.dip4_transfers_r25(_events(spark))
    return df.withColumn("amount", F.col("amount").cast("string"))


@register(
    "gold_intents_metrics",
    oracle=gold_sql(),
    tags=("S10", "S11", "S12", "S13", "S14", "S15", "S16"),
)
def gold_intents_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gold_view_intents_metrics — the reference's flagship query:
    DISTINCT → referral join → date-bucket broadcast assets join →
    conditional aggregation per (day, symbol, referral, blockchain)."""
    return gold.intents_metrics(
        _silver(spark, "nep245"),
        _silver(spark, "token_diff"),
        load_assets(spark),
    )
