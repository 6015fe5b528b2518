"""Multimodal column plumbing: image/audio/video as opaque `binary`
columns with typed metadata, processed by Arrow-batched pandas UDFs.

The decode step is REAL for all four arms (pure-stdlib codecs,
functions/codecs.py): zlib-inflated and filter-reconstructed PNG
scanlines, RIFF WAV frames, padded bottom-up BMP rows, and RIFF AVI
video (hdrl/avih parse + per-'00db'-chunk 8-bit DIB frames) — the
synthetic ingest encodes genuine bytes and every decode is a genuine
container round-trip. `decode_stub` remains only as the clearly
marked extension boundary for formats with no pure-stdlib codec
(e.g. mp4/h264 — swap in pyav at deploy time; the UDF signature and
batch shape stay identical). The whole surface is oracle-checked:
sql/data_templates.py predicts the decoded dimensions AND the decoded
pixel/sample statistics arithmetically, so a decoder that mangles a
filter type, a padding byte, or a frame boundary hash-mismatches.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from stakgraph_spark.functions.codecs import (
    decode_avi,
    decode_bmp,
    decode_png,
    decode_wav,
    encode_avi,
    encode_bmp,
    encode_png,
    encode_wav,
)

MEDIA_SCHEMA = (
    "doc_id BIGINT, media_type STRING, payload BINARY, "
    "meta_codec STRING, meta_bytes BIGINT"
)
FEATURE_SCHEMA = (
    "doc_id BIGINT, media_type STRING, codec STRING, width INT, height INT, "
    "n_frames INT, px_sum BIGINT, px_mean_e4 BIGINT"
)

# doc_id % 4 routes the synthetic corpus across the codec arms
_ARMS = ("png", "wav", "bmp", "avi")


def _pixels(doc_id: int, n: int) -> bytes:
    """Deterministic content ramp — the oracle reproduces its sum in
    closed form, so the decoded statistics are differential-checkable
    without the oracle running a decoder."""
    return bytes((doc_id + i) % 256 for i in range(n))


def attach_media(documents: DataFrame) -> DataFrame:
    """Simulated ingest with REAL bytes: each document row gains a
    binary payload encoded by the arm's actual codec (png/wav/bmp/avi)
    plus typed metadata. Dimensions derive from the text's UTF-8 byte
    length L (DuckDB strlen — oracle-computable)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                raw = str(text).encode("utf-8")
                L = len(raw)
                arm = _ARMS[d % 4]
                if arm == "png":
                    w, h = L % 64 + 1, L % 48 + 1
                    payload, mt = encode_png(w, h, _pixels(d, w * h)), "image"
                elif arm == "wav":
                    n = L % 1000 + 1
                    payload, mt = encode_wav(_pixels(d, n)), "audio"
                elif arm == "bmp":
                    w, h = L % 32 + 1, L % 24 + 1
                    payload, mt = encode_bmp(w, h, _pixels(d, w * h)), "image"
                else:
                    w, h, nf = L % 32 + 1, L % 24 + 1, L % 24 + 1
                    px = _pixels(d, w * h * nf)
                    frames = [px[i * w * h : (i + 1) * w * h] for i in range(nf)]
                    payload, mt = encode_avi(w, h, frames), "video"
                rows.append((d, mt, payload, arm, len(payload)))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "media_type", "payload", "meta_codec", "meta_bytes"],
            )

    return documents.select("doc_id", "text").mapInPandas(run, MEDIA_SCHEMA)


def decode_stub(payload: bytes, media_type: str) -> dict:
    """The clearly-marked extension boundary: every codec the synthetic
    corpus emits (png/wav/bmp/avi) decodes for real; a format with no
    pure-stdlib codec (mp4/h264, webp, ...) plugs in here (pyav/PIL at
    deploy time — the UDF signature and batch shape stay identical)."""
    raise NotImplementedError(
        f"no pure-stdlib decoder for media_type={media_type!r}; plug a codec in here"
    )


def decode(payload: bytes, codec: str, media_type: str) -> dict:
    """Route to the real codec — all four corpus arms have one.
    `samples` carries the decoded pixel / sample bytes."""
    if codec == "png":
        w, h, px = decode_png(payload)
        return {"width": w, "height": h, "n_frames": 1, "samples": px}
    if codec == "bmp":
        w, h, px = decode_bmp(payload)
        return {"width": w, "height": h, "n_frames": 1, "samples": px}
    if codec == "wav":
        n, _rate, smp = decode_wav(payload)
        return {"width": 0, "height": 0, "n_frames": n, "samples": smp}
    if codec == "avi":
        w, h, n, px = decode_avi(payload)
        return {"width": w, "height": h, "n_frames": n, "samples": px}
    return decode_stub(payload, media_type)


def extract_features(media: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """Arrow-batched mapInPandas over the binary column: decode (real
    codecs on all four arms), emit shape metadata + decoded
    pixel/sample statistics (sum and scaled mean — stands in for a
    CNN / mel-spectrogram embedding; integer-exact so the oracle can
    predict it)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, mt, codec, payload in zip(
                pdf["doc_id"], pdf["media_type"], pdf["meta_codec"], pdf["payload"]
            ):
                d = decode(bytes(payload), codec, mt)
                smp = d["samples"]
                px_sum = sum(smp) if smp else 0
                mean_e4 = (px_sum * 10000) // len(smp) if smp else 0
                rows.append(
                    (doc_id, mt, codec, d["width"], d["height"], d["n_frames"], px_sum, mean_e4)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "media_type", "codec", "width", "height",
                    "n_frames", "px_sum", "px_mean_e4",
                ],
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)
