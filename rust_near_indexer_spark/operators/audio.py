"""Audio features over the multimodal media table (north-star §LLM).

A training-data pipeline that carries audio needs more than "the WAV
decodes": it filters and dedups on features of the decoded signal.
This module is the gate-able path: synthesized WAV payloads go through
the REAL ``decode_audio`` inside the Arrow ``mapInPandas`` boundary and
come out as integer-exact summary features (energy, zero crossings,
peak) an external SQL engine can recompute bit-for-bit.

Scale posture mirrors ``operators/multimodal.py``: PCM bytes never
cross a shuffle — decode happens on the scan partition and only small
integer feature rows continue downstream.

Reference parity note: the reference pipeline (defuse-protocol/
rust-near-indexer) has no audio path; this is part of the
beyond-reference LLM-pipeline suite the brief asks for.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame


# ---------------------------------------------------------------------------
# Gate-able PCM path: synthesized WAV payloads -> REAL decode -> integer
# features an external SQL engine can recompute exactly.
# ---------------------------------------------------------------------------

PCM_GATE_SCHEMA = (
    "media_id long, n_samples long, energy long, zero_crossings long, "
    "peak long"
)


def synth_pcm16(doc_id: int, n: int):
    """Deterministic PCM16 test tone: s_i = ((doc_id*9973 + i*131) %
    4001) - 2000 — pure integer arithmetic, so DuckDB's generate_series
    reproduces the series bit-for-bit."""
    import numpy as np

    i = np.arange(n, dtype=np.int64)
    return ((doc_id * 9973 + i * 131) % 4001 - 2000).astype(np.int16)


def synth_wav_bytes(doc_id: int, n: int, rate: int = 8000) -> bytes:
    """Real RIFF/WAVE PCM16 bytes for the deterministic tone (stdlib
    ``wave`` writer — the payload decode_audio's WAV branch parses)."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(synth_pcm16(doc_id, n).tobytes())
    return buf.getvalue()


def pcm_gate_features(media: DataFrame, pre=None) -> DataFrame:
    """WAV payload → REAL ``decode_audio`` → integer-exact summary
    features: energy = Σ s², zero_crossings = #{i : s_i·s_{i-1} < 0},
    peak = max|s|.  Float32 normalization in the decoder is exact for
    these amplitudes (|s| ≤ 2000 < 2²⁴), so round(x·32768) recovers the
    PCM integers bit-for-bit and every output is integer arithmetic an
    external engine can replay.  mapInPandas, payload never shuffles."""

    def _feat(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from .multimodal import decode_audio

        if pre is not None:  # fuse payload synthesis into this stage
            batches = pre(batches)  # (decoded_stats docstring, r12)
        for pdf in batches:
            rows = {k: [] for k in
                    ("media_id", "n_samples", "energy", "zero_crossings", "peak")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                samples, _rate = decode_audio(payload, {})
                s = np.rint(samples.astype(np.float64) * 32768.0).astype(np.int64)
                rows["media_id"].append(int(mid))
                rows["n_samples"].append(len(s))
                rows["energy"].append(int(np.sum(s * s)))
                rows["zero_crossings"].append(int(np.sum(s[1:] * s[:-1] < 0)))
                rows["peak"].append(int(np.max(np.abs(s))) if len(s) else 0)
            yield pd.DataFrame(rows)

    return media.mapInPandas(_feat, schema=PCM_GATE_SCHEMA)
