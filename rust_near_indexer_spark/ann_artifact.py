"""The ANN/embedding index as a FIRST-CLASS, incrementally-maintained
dataset — the vector-side mirror of :mod:`dedup_artifact`.

At 100 TB a vector store does not re-quantize, re-assign, and re-encode
its corpus per query session — the index is a written artifact (the way
FAISS persists an IVF-PQ index, but as range-clustered parquet a whole
cluster can scan): quantized vectors, the IVF coarse assignment laid
out as inverted lists, and the PQ codebook + codes land on disk once;
every consumer (top-k search, recall eval, kNN probes, pair mining)
reads them, and new vector batches are folded in by assigning/encoding
ONLY the new vectors against the carried-over quantizers.

Layout at ``<path>/``::

    vectors/      (vec_id, label, bucket, qe array<long>)   primary, by vec_id
    centroids/    (list_id, c_qe array<long>)               IVF coarse quantizer
    ivf/          (list_id, vec_id, label, qe)              inverted lists
    pq_codebook/  (m, j, cv array<long>)                    PQ subspace codebooks
    pq_codes/     (vec_id, m, j)                            8 B/vector codes

``vectors`` is range-clustered by ``vec_id`` (point lookups prune by
parquet min/max); ``ivf`` by ``(list_id, vec_id)`` so a query's probe
set reads nprobe/nlist of the files — the inverted-list layout.
Publishing is the shared atomic symlink swap (artifact_io): readers
never observe a missing or half-written index.

Incremental contract (``append_ann_artifact``): results are
BIT-IDENTICAL to a cold rebuild over the full corpus, because the
quantizers are deterministic corpus draws pinned to fixed id ranges
(IVF centroids = vec_id CENTROID_BASE..+N_LIST, PQ codeword donors =
PQ_BASE..+PQ_KS) that the append carries over unchanged.  The append
therefore REFUSES new vec_ids that collide with stored ones or fall
inside a donor range (either would make a cold rebuild derive a
different quantizer).  Work is proportional to the new batch: one
broadcast assignment pass + one broadcast encoding pass over the new
vectors only.

Reference parity note: the reference has no vector surface; this is a
beyond-reference LLM-pipeline component (prompt §training-data
pipeline), operated like the dedup index (SURVEY.md §1.3 analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import artifact_io
from .caching import Pins
from .queries.similarity import (
    CENTROID_BASE,
    N_LIST,
    PQ_BASE,
    PQ_KS,
    PQ_M,
    PQ_SUB,
    _bucket,
    _qvec,
    ivf_assign,
    ivf_centroids,
    pq_codebook_frame,
    pq_codes_frame,
    pq_distances,
    pq_subvectors,
    quantized_embeddings,
)
from .tables import load, spread


def index_frames(emb: DataFrame) -> dict[str, DataFrame]:
    """Derive all five index tables from a loaded embeddings frame —
    the cold chain the artifact build publishes."""
    qv = quantized_embeddings(emb)
    cent = ivf_centroids(qv)
    sub = pq_subvectors(qv)
    cb = pq_codebook_frame(sub)
    return {
        "vectors": qv,
        "centroids": cent,
        "ivf": ivf_assign(qv, cent),
        "pq_codebook": cb,
        "pq_codes": pq_codes_frame(pq_distances(sub, cb)),
    }


def write_ann_artifact(emb: DataFrame, path: str) -> dict:
    """Cold-build the index from a loaded embeddings frame: ONE
    quantization pass over the corpus, one broadcast IVF assignment,
    one broadcast PQ encoding — then five clustered parquet writes.
    Returns row-count stats."""
    frames = index_frames(emb)
    with Pins() as pins:
        frames["vectors"] = pins.pin(frames["vectors"])
        artifact_io.publish(KIND, frames, path)
    art = artifact_io.load(KIND, emb.sparkSession, path)
    return {
        "n_vectors": art["vectors"].count(),
        "n_lists": art["centroids"].count(),
        "n_codes": art["pq_codes"].count(),
    }


def append_ann_artifact(
    spark: SparkSession, path: str, new_emb: DataFrame
) -> dict:
    """Fold a new embeddings batch into an existing index.

    The carried-over quantizers (centroids, PQ codebooks) make the
    result bit-identical to a cold rebuild — see the module docstring
    for the donor-range refusal that protects that contract.  Work is
    proportional to the batch: new vectors are assigned and encoded
    against the broadcast quantizers; stored rows are unioned through
    untouched."""
    art = artifact_io.load(KIND, spark, path)
    with Pins() as pins:
        qv_new = pins.pin(quantized_embeddings(new_emb))

        in_donor_range = (
            (F.col("vec_id") >= CENTROID_BASE)
            & (F.col("vec_id") < CENTROID_BASE + N_LIST)
        ) | ((F.col("vec_id") >= PQ_BASE) & (F.col("vec_id") < PQ_BASE + PQ_KS))
        bad = qv_new.where(in_donor_range).select("vec_id").limit(5).collect()
        if bad:
            raise ValueError(
                "append_ann_artifact: new vec_ids fall inside a quantizer donor "
                f"range (a cold rebuild would derive a different index): "
                f"{sorted(r.vec_id for r in bad)}"
            )
        collisions = (
            qv_new.select("vec_id")
            .join(art["vectors"].select("vec_id"), "vec_id", "left_semi")
            .limit(5)
            .collect()
        )
        if collisions:
            ids = sorted(r.vec_id for r in collisions)
            raise ValueError(
                f"append_ann_artifact: vec_ids already in the index "
                f"(append, not upsert): {ids}{'…' if len(ids) == 5 else ''}"
            )

        ivf_new = ivf_assign(qv_new, art["centroids"])
        codes_new = pq_codes_frame(
            pq_distances(pq_subvectors(qv_new), art["pq_codebook"])
        )
        frames = {
            "vectors": art["vectors"].unionByName(qv_new),
            "centroids": art["centroids"],
            "ivf": art["ivf"].unionByName(ivf_new),
            "pq_codebook": art["pq_codebook"],
            "pq_codes": art["pq_codes"].unionByName(codes_new),
        }
        stats = {"n_new_vectors": qv_new.count()}
        artifact_io.publish(KIND, frames, path)
    return stats


# ---------------------------------------------------------------------------
# The kind description artifact_io publishes, loads, gates and folds by.
# ---------------------------------------------------------------------------

_FILES = 8  # range buckets per big table at test scale; a config at 100 TB

KIND = artifact_io.ArtifactKind(
    name="ann",
    version=1,  # bump when the chain's semantics change
    tables={
        "vectors": (("vec_id",), _FILES),
        "centroids": (("list_id",), 1),
        "ivf": (("list_id", "vec_id"), _FILES),
        "pq_codebook": (("m", "j"), 1),
        "pq_codes": (("vec_id", "m"), _FILES),
    },
    corpus_file="embeddings.parquet",
    # the quantizers, IVF and PQ plus their constants: editing any of
    # them invalidates the gate artifact
    chain=(
        _qvec,
        _bucket,
        ivf_centroids,
        ivf_assign,
        pq_subvectors,
        pq_codebook_frame,
        pq_codes_frame,
        pq_distances,
        quantized_embeddings,
        (N_LIST, CENTROID_BASE, PQ_M, PQ_SUB, PQ_KS, PQ_BASE),
    ),
    columns=("vec_id", "embedding", "label"),
    corpus=lambda spark, sf_dir: spread(load(spark, sf_dir, "embeddings"), "vec_id"),
    stored_ids=lambda batch: batch.select("vec_id"),
    build=write_ann_artifact,
    append=append_ann_artifact,
)
