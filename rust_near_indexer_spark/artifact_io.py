"""Atomic publish for on-disk artifact datasets (dedup index, ANN index).

An "artifact" is a directory of range-clustered parquet tables plus a
``_meta.json``, maintained like a search index: built once, read by
every consumer, incrementally appended.  Each kind is described once
by an ``ArtifactKind`` (tables and their clustering, version, gate
corpus, chain, derivations); this module is the one publish, versioned
load, gate path and ensure for every kind, and
``streaming/index_maintenance`` is the one micro-batch fold.

Publishing is an atomic SYMLINK SWAP — the artifact path is a symlink
to an immutable ``<path>.data-*`` generation directory, and a new
generation replaces the old by renaming a fresh symlink over it
(atomic on POSIX).  A
reader that resolves the path at ANY instant therefore sees either the
complete previous generation or the complete new one: no empty window,
no half-written directory.

Concurrency contract: any number of READERS race safely with one
writer.  The PREVIOUS generation is retained at swap time and only
garbage-collected on the publish after next (ADVICE r08: deleting it
at swap time failed a reader that resolved the symlink — or planned a
Spark scan over the old generation's files — just before the swap).  A
reader therefore keeps a valid snapshot for one full publish cycle,
exactly the reason Iceberg/Delta retain old snapshots; a reader that
holds a resolved generation across TWO publishes can still lose it —
at that point re-resolve and retry.  Two concurrent WRITERS are safe
at the filesystem level (last swap wins; the loser's generation is
orphaned but was complete, and the GC sweep reclaims it), but
read-modify-write maintenance (``append_*``) is single-writer by
contract — a racing second append can lose the other's batch.  At
100 TB the same layout runs on an object store with a manifest pointer
object in place of the symlink (the Iceberg/Delta commit pattern); the
reference gets the equivalent guarantee from ClickHouse server-side
insert atomicity (indexer-clickhouse/src/database.rs:90-98).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

_META = "_meta.json"


def write_clustered(
    df: DataFrame, path: str, cols: Sequence[str], n_files: int
) -> None:
    """Write one table range-clustered + sorted on ``cols`` so parquet
    min/max file stats serve point lookups with pruned scans, then
    record a FILE-LEVEL min/max manifest (``_manifest.json``) over the
    cluster columns.

    The manifest is the Iceberg/Delta scan-planning move: parquet
    footers already carry row-group stats, but the engine must still
    LIST and OPEN every file to use them — at 100 TB an inverted-list
    probe that touches nprobe/nlist of the data should skip the other
    files without a single footer read.  ``read_pruned`` consumes it;
    a missing/stale manifest degrades to the full scan (correctness
    never depends on it)."""
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )
    _write_manifest(path, cols)


def _write_manifest(path: str, cols: Sequence[str]) -> None:
    """File → per-cluster-column [min, max] from the parquet footers,
    written once at publish time so readers never open footers again."""
    import pyarrow.parquet as pq

    files = sorted(
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    entries = []
    for name in files:
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        stats: dict[str, list] = {}
        for col in cols:
            idx = names.get(col)
            if idx is None:
                continue
            lo = hi = None
            ok = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if ok and lo is not None:
                stats[col] = [lo, hi]
        entries.append({"file": name, "stats": stats})
    with open(os.path.join(path, "_manifest.json"), "w") as fh:
        json.dump({"cols": list(cols), "files": entries}, fh)


def read_pruned(
    spark: SparkSession,
    path: str,
    col: str,
    *,
    values: Sequence | None = None,
    lo=None,
    hi=None,
):
    """Manifest-pruned parquet read: returns ``(df, n_read, n_total)``
    where ``df`` scans ONLY the files whose ``col`` [min, max] range
    can contain one of ``values`` (point/IN lookup) or intersect
    [lo, hi] (range lookup).

    The returned frame still needs the row-level filter applied on top
    (pruning is file-granular); files without recorded stats are
    conservatively kept, and a missing manifest returns the plain full
    scan — the manifest is an optimization layer, never a correctness
    dependency."""
    # Resolve the publish symlink ONCE and read everything (full scan,
    # manifest, per-file pruned scan) from that generation dir: three
    # separate resolutions could straddle a concurrent publish and mix
    # generations (ADVICE r09 — it failed loudly, file-not-found, but
    # the single-snapshot read publish_artifact promises needs one
    # resolution).
    path = os.path.realpath(path)
    mf = os.path.join(path, "_manifest.json")
    full = spark.read.parquet(path)
    try:
        with open(mf) as fh:
            manifest = json.load(fh)
    except (OSError, ValueError):
        return full, -1, -1
    keep = []
    total = len(manifest.get("files", []))
    for entry in manifest.get("files", []):
        st = entry.get("stats", {}).get(col)
        if st is None:
            keep.append(entry["file"])  # no stats: cannot prune
            continue
        mn, mx = st
        if values is not None:
            if any(mn <= v <= mx for v in values):
                keep.append(entry["file"])
        else:
            if (hi is None or mn <= hi) and (lo is None or mx >= lo):
                keep.append(entry["file"])
    if len(keep) == total:
        return full, total, total
    if not keep:
        # empty selection: an always-false filter keeps the schema
        # without touching any file at run time
        from pyspark.sql import functions as F

        return full.where(F.lit(False)), 0, total
    df = spark.read.schema(full.schema).parquet(
        *(os.path.join(path, f) for f in keep)
    )
    return df, len(keep), total


def publish_artifact(
    path: str,
    meta: dict | None,
    build_into: Callable[[str], None],
    before_swap: Callable[[], bool] | None = None,
) -> dict:
    """Build a new generation via ``build_into(tmp_dir)`` then swap it in.

    ``build_into`` writes the artifact's tables under the given
    directory; this function adds ``_meta.json`` (unless ``meta`` is
    None — e.g. a compacted sink table, where a ``_``-prefixed sidecar
    is legal but pointless) and performs the atomic symlink swap
    described in the module docstring.  A legacy real-directory
    artifact (pre-symlink layout) is migrated aside on first write —
    that one-time migration has a brief gap; all subsequent swaps are
    atomic.

    Generation retention (ADVICE r08 medium): the generation being
    REPLACED is kept on disk so readers that resolved the symlink just
    before the swap finish their scan; every OLDER generation (and any
    orphan a crashed or losing writer left behind) is garbage-collected
    here, on the next successful publish.

    ``before_swap`` (optimistic concurrency, VERDICT r08 #6): called
    after the build, immediately before the symlink swap.  Returning
    False abandons the built generation and skips the swap — the hook
    is how ``sinks.compact`` detects a concurrent append and retries
    instead of publishing a generation that would lose the appended
    rows.  Returns ``{"published", "target", "previous"}`` so the
    caller can inspect the outcome (and rescue post-check stragglers
    from ``previous``).
    """
    tmp = f"{path}.data-{uuid.uuid4().hex[:12]}"
    link_tmp = f"{path}.lnk-{uuid.uuid4().hex[:12]}"
    try:
        build_into(tmp)
        if meta is not None:
            with open(os.path.join(tmp, _META), "w") as fh:
                json.dump(meta, fh)
        if before_swap is not None and not before_swap():
            return {"published": False, "target": None, "previous": None}
        prev_target = None
        if os.path.islink(path):
            prev_target = os.path.realpath(path)
        elif os.path.isdir(path):
            legacy = f"{path}.data-legacy-{uuid.uuid4().hex[:12]}"
            os.rename(path, legacy)
            prev_target = legacy
        # relative symlink target: the artifact tree moves as a unit
        os.symlink(os.path.basename(tmp), link_tmp)
        os.rename(link_tmp, path)  # atomic swap (replaces old symlink)
        new_target = os.path.realpath(tmp)
        keep = {new_target}
        tmp = None  # published — no cleanup
        if prev_target is not None:
            keep.add(os.path.realpath(prev_target))  # readers may hold it
        _gc_generations(path, keep)
        return {
            "published": True,
            "target": new_target,
            "previous": prev_target,
        }
    finally:
        if tmp is not None:
            shutil.rmtree(tmp, ignore_errors=True)
        if os.path.islink(link_tmp):
            os.unlink(link_tmp)


def _gc_generations(path: str, keep: set[str]) -> None:
    """Remove every ``<path>.data-*`` generation except ``keep`` (the
    just-published target and the immediately-previous one)."""
    parent = os.path.dirname(os.path.abspath(path)) or "."
    prefix = os.path.basename(path) + ".data-"
    for name in os.listdir(parent):
        if not name.startswith(prefix):
            continue
        full = os.path.realpath(os.path.join(parent, name))
        if full not in keep and os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)


def corpus_fingerprint(
    sf_dir: str, table_file: str, version: int, chain: str = ""
) -> str:
    """Staleness key: an artifact is valid only for the exact source
    parquet bytes (size+mtime) and derivation chain it was built from —
    a regenerated corpus or changed code forces a rebuild.

    ``chain`` is a digest of the chain's DEFINING SOURCE (see
    ``chain_digest``), so editing a quantizer or MinHash function
    invalidates artifacts automatically; the manually-bumped
    ``version`` remains for semantic breaks that don't change those
    functions' text (ADVICE r08: version-only keys silently served
    stale artifacts after code edits)."""
    import hashlib

    p = os.path.join(sf_dir, table_file)
    try:
        st = os.stat(p)
        sig = f"{os.path.abspath(p)}|{st.st_size}|{st.st_mtime_ns}"
    except OSError:
        sig = os.path.abspath(p)
    sig += f"|v{version}|{chain}"
    return hashlib.md5(sig.encode()).hexdigest()[:12]


def chain_digest(*objects) -> str:
    """Digest of the source text of the functions (plus the repr of any
    non-function constants) that define an artifact's derivation chain."""
    import hashlib
    import inspect

    parts = []
    for obj in objects:
        try:
            parts.append(inspect.getsource(obj))
        except TypeError:
            parts.append(repr(obj))
    return hashlib.md5("\x1e".join(parts).encode()).hexdigest()[:12]


# ---------------------------------------------------------------------------
# A maintained artifact, described once per kind.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class ArtifactKind:
    """Everything the shared publish/load/gate code needs to know about
    one kind of maintained artifact (``dedup_artifact.KIND``,
    ``ann_artifact.KIND``).

    ``tables`` maps each table to its (cluster columns, file count), in
    publish order; the first table holds every stored id under
    ``columns[0]``.  ``corpus_file`` is the gate corpus under an sf dir
    and ``corpus(spark, sf_dir)`` loads it.  ``chain`` holds the
    objects whose source keys staleness (``chain_digest``).
    ``stored_ids(batch)`` is the one-column frame of the batch's ids the
    artifact stores.  ``build(corpus, path)`` and ``append(spark, path,
    batch)`` are the kind's own derivations; both return row-count
    stats."""

    name: str
    version: int
    tables: dict[str, tuple[tuple[str, ...], int]]
    corpus_file: str
    chain: tuple
    columns: tuple[str, ...]
    corpus: Callable[[SparkSession, str], DataFrame]
    stored_ids: Callable[[DataFrame], DataFrame]
    build: Callable[[DataFrame, str], dict]
    append: Callable[[SparkSession, str, DataFrame], dict]


def publish(kind: ArtifactKind, frames: dict[str, DataFrame], path: str) -> None:
    """Write every table of ``kind`` range-clustered into a new
    generation and swap it in at ``path``."""

    def build_into(tmp: str) -> None:
        for name, (cols, n_files) in kind.tables.items():
            write_clustered(frames[name], os.path.join(tmp, name), cols, n_files)

    publish_artifact(path, {"version": kind.version}, build_into)


def load(kind: ArtifactKind, spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """Open the tables of the artifact at ``path``; an artifact written
    by another version of the chain raises instead of being read."""
    with open(os.path.join(path, _META)) as fh:
        version = json.load(fh)["version"]
    if version != kind.version:
        raise ValueError(
            f"{kind.name} artifact at {path} has version {version}, "
            f"this code expects {kind.version} — rebuild it"
        )
    return {n: spark.read.parquet(os.path.join(path, n)) for n in kind.tables}


def is_built(path: str) -> bool:
    """True iff an artifact generation is published at ``path`` (a pure stat)."""
    return os.path.exists(os.path.join(path, _META))


def gate_path(kind: ArtifactKind, spark: SparkSession, sf_dir: str) -> str:
    """``<base>/<kind>_artifact/gate-<fingerprint>``: where the artifact
    of the gate corpus under ``sf_dir`` lives.  ``base`` is
    ``$SPARK_GRAFT_ARTIFACT_DIR``, else the session's warehouse dir; the
    fingerprint covers the corpus file and the chain's source, so a
    regenerated corpus or an edited chain never reads a stale artifact."""
    base = os.environ.get("SPARK_GRAFT_ARTIFACT_DIR") or spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    fp = corpus_fingerprint(
        sf_dir, kind.corpus_file, kind.version, chain_digest(*kind.chain)
    )
    return os.path.join(base, f"{kind.name}_artifact", f"gate-{fp}")


def ensure(kind: ArtifactKind, spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the gate corpus's artifact, building it on first use.  Within
    a session the consumers' SessionCaches dedupe; across sessions (the
    next bench run, the next gate run) the chain is read, not
    recomputed."""
    path = gate_path(kind, spark, sf_dir)
    if not is_built(path):
        kind.build(kind.corpus(spark, sf_dir), path)
    return load(kind, spark, path)
