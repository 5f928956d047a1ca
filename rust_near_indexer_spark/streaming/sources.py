"""Block sources (R1/R2): a block directory or a blocksapi endpoint.

The reference selects its block source with one switch — blocksapi
gRPC or NEAR-Lake S3/GCS (`indexer-clickhouse/src/main.rs:59-79`,
`indexer-common/src/config.rs:93-107`) — and everything downstream sees
the same ordered `StreamerMessage` stream.  Here the location is the
switch: :func:`block_stream` returns a *streaming* DataFrame in the
canonical ``schemas.BLOCK`` shape for either, and the per-trigger bound
(the blocksapi prefetch-batch analog, `config.rs:98-104`) is applied
inside each source.

Directory (NEAR Lake)
    Schema'd JSON file scan in key order, ``maxFilesPerTrigger``
    bounding — Lake is "list objects, read JSON blocks in key order",
    which is exactly Spark's file source against an S3/GCS path.
``http://`` / ``https://`` endpoint (blocksapi)
    A PySpark Python streaming data source (``pyspark.sql.datasource``)
    that polls ``GET {endpoint}/blocks?from=N&limit=K`` — a JSON array
    of block objects in height order — with by-ordinal offsets in the
    checkpoint.  The reader reads the endpoint's tip (``GET
    {endpoint}/height``) once, when the query starts, and never reads
    past it: that tip is the source's bounded stop (R5).  Exactly-once
    replay falls out of the protocol: offsets are ordinals and the chain
    is immutable, so ``readBetweenOffsets`` re-fetches a committed range
    and gets the same bytes (the property blocksapi's start-block resume
    relies on, `main.rs:100-127`).  The gRPC difference is framing, not
    semantics.  Payloads are parsed with ``from_json``; a corrupt one
    becomes a NULL ``block_height`` row and is dropped instead of
    failing the stream.

Both produce identical rows in identical height order, so the bronze
pipeline fingerprint-matches across them (tests/test_source_adapters.py).
"""

from __future__ import annotations

import json
import urllib.request

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas

# blocksapi's prefetch batch (indexer-common/src/config.rs:98-104): the
# endpoint's default blocks per trigger.  A directory's unit of arrival
# is a file, and its default is one file per trigger.
PREFETCH_BLOCKS = 30


def is_endpoint(location: str) -> bool:
    """True for a blocksapi endpoint URL, False for a block directory."""
    return location.startswith(("http://", "https://"))


def _get_json(endpoint: str, path: str):
    with urllib.request.urlopen(f"{endpoint.rstrip('/')}{path}", timeout=10) as resp:
        return json.loads(resp.read())


class BlocksHttpReader:
    """SimpleDataSourceStreamReader over the pull-by-range protocol.

    Offsets are block ordinals ``{"next": n}``.  ``read`` advances by at
    most ``blocksPerTrigger`` and never past the tip read at query start,
    so ``processAllAvailable`` drains to that tip and returns.
    ``readBetweenOffsets`` replays a committed range byte-identically.
    Runs on the driver — the poll is a metadata-sized fetch; rows fan out
    to executors as Arrow batches.
    """

    def __init__(self, options: dict):
        self.endpoint = options["endpoint"]
        self.per_batch = int(options["blocksPerTrigger"])
        self.tip = int(_get_json(self.endpoint, "/height"))  # block count

    def initialOffset(self) -> dict:
        return {"next": 0}

    def _fetch(self, start: int, n: int) -> list[tuple[str]]:
        if n <= 0:
            return []
        blocks = _get_json(self.endpoint, f"/blocks?from={start}&limit={n}")
        return [(json.dumps(b, separators=(",", ":")),) for b in blocks]

    def read(self, start: dict):
        rows = self._fetch(start["next"], min(self.per_batch, self.tip - start["next"]))
        return iter(rows), {"next": start["next"] + len(rows)}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._fetch(start["next"], end["next"] - start["next"]))

    def commit(self, end: dict) -> None:
        pass  # the server is a log, not a queue: nothing to ack


def _make_blocks_http_datasource():
    """Build the DataSource subclass lazily, so importing this module
    needs no ``pyspark.sql.datasource``."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class _Reader(BlocksHttpReader, SimpleDataSourceStreamReader):
        pass

    class BlocksHttpDataSource(DataSource):
        """`blocksapi-http`: value:string lines of block JSON, parsed
        into ``schemas.BLOCK`` by block_stream."""

        @classmethod
        def name(cls) -> str:
            return "blocksapi-http"

        def schema(self) -> str:
            return "value string"

        def simpleStreamReader(self, schema):
            return _Reader(self.options)

    return BlocksHttpDataSource


def block_stream(
    spark: SparkSession, location: str, blocks_per_trigger: int | None = None
) -> DataFrame:
    """Return a streaming DataFrame of block rows (``schemas.BLOCK``)
    from a block directory or a blocksapi endpoint (:func:`is_endpoint`).

    ``blocks_per_trigger`` bounds one micro-batch in the source's unit of
    arrival: files for a directory (default 1), blocks for an endpoint
    (default :data:`PREFETCH_BLOCKS`).
    """
    if not is_endpoint(location):
        return (
            spark.readStream.schema(schemas.BLOCK)
            .option("maxFilesPerTrigger", blocks_per_trigger or 1)
            .json(location)
        )
    spark.dataSource.register(_make_blocks_http_datasource())
    envelope = (
        spark.readStream.format("blocksapi-http")
        .option("endpoint", location)
        .option("blocksPerTrigger", str(blocks_per_trigger or PREFETCH_BLOCKS))
        .load()
    )
    return (
        envelope.select(F.from_json(F.col("value"), schemas.BLOCK).alias("b"))
        .select("b.*")
        .where(F.col("block_height").isNotNull())
    )
