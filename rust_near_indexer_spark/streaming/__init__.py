"""Structured Streaming formulation of the indexer dataflow (SURVEY §7.2
step 5): ordered micro-batches over a block directory or a blocksapi
endpoint, incremental correlation-state maintenance, idempotent sinks."""

from .pipeline import process_batch, run_streaming  # noqa: F401
from .sources import block_stream  # noqa: F401
