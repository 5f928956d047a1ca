"""Streaming maintenance of the dedup / ANN index artifacts.

The reference keeps its derived tables fresh with insert-triggered
materialized views (SURVEY §1.3); this module is the equivalent for
the two MAINTAINED-INDEX datasets — every streamed document batch
folds into the dedup artifact, every streamed vector batch into the
ANN artifact, via ``foreachBatch``.  The result is the operating model
a 100 TB training-data pipeline runs: the corpus arrives continuously
and the near-dup clusters / vector index are ALWAYS current, not
rebuilt nightly.

Exactly-once: ``foreachBatch`` may replay a batch after a failure.
Both artifacts publish atomically (symlink swap), so a replayed batch
is either FULLY present (every id it stores collides with a stored one
→ the fold is a no-op skip) or fully absent (→ normal append); a PARTIAL
overlap cannot be produced by a crash, so the append guards treat it
as what it really is — corrupt input — and raise.  This makes the
collision check double as the replay detector (``fold_batch`` below;
test_streaming_index_maintenance.py kills and replays).  One fold and
one writer serve both kinds, driven by their ``ArtifactKind``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..artifact_io import ArtifactKind, is_built, load


def fold_batch(
    kind: ArtifactKind, spark: SparkSession, path: str, batch: DataFrame
) -> str:
    """Fold one micro-batch into the ``kind`` artifact at ``path``.

    Returns the action taken: ``"build"`` (first batch), ``"append"``,
    or ``"skip"`` (replayed batch — every id the kind stores is already
    stored)."""
    batch = batch.select(*kind.columns)
    if not is_built(path):
        kind.build(batch, path)
        return "build"
    key = kind.columns[0]
    stored = load(kind, spark, path)[next(iter(kind.tables))].select(key)
    if kind.stored_ids(batch).join(stored, key, "left_anti").isEmpty():
        return "skip"  # replay of a fully-folded batch
    kind.append(spark, path, batch)
    return "append"


def maintain_artifact(
    kind: ArtifactKind, stream: DataFrame, path: str, checkpoint_dir: str
):
    """Structured-Streaming writer: fold every micro-batch of ``stream``
    into the ``kind`` artifact (Trigger.AvailableNow drains what's
    there; drop the trigger for continuous maintenance).  Returns the
    query."""

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        if not batch_df.isEmpty():
            fold_batch(kind, batch_df.sparkSession, path, batch_df)

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
