"""Multimodal columns: opaque binary payloads + typed metadata.

Training-data-pipeline primitives for image/audio/video columns. The
engine treats media as an opaque ``binary`` column with typed metadata,
exactly the shape a 100 TB WARC-derived table has; everything Spark-side
(schema, partitioning, Arrow batch transfer, ``mapInPandas`` signatures)
is real and tested. Codec support: ``decode_image`` REALLY decodes
uncompressed 24-bit BMP and ``decode_audio`` REALLY decodes PCM16 WAV —
both pure numpy, no external libraries — and both are oracle-gated over
synthesized valid payloads (registry rows media_bmp_decode /
media_wav_decode). Compressed formats (JPEG/PNG/MP3/H264) would need
codec libraries this sandbox lacks and raise ``ValueError``; payloads
without a recognized magic take the deterministic fake-decode byte path
so the original gated rows stay exact.

The synthetic media payload is derived from ``documents.text`` (the
repeated md5 hex digest, UTF-8 bytes) so every byte is reconstructible
in ANSI SQL — which is what makes the oracle gate possible for binary
plumbing. A real deployment swaps ``media_from_documents`` for a scan of
the WARC payload column; every downstream operator is unchanged.

Reference analogue: none (graft-mandated category; the reference is a
street-graph tool). Scale notes: payload bytes never leave the executor
— metadata is computed either JVM-side (octet_length/md5 Columns) or in
Arrow-batched ``mapInPandas`` with only small typed results returned;
no driver collect, no shuffle on payload bytes except the initial
columnar scan.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FRAME_BYTES = 8  # fake "frame" granularity for the sampling operator


def media_from_documents(docs: DataFrame) -> DataFrame:
    """documents → media(doc_id, media_type, payload binary).

    Deterministic synthetic payload: UTF-8 bytes of ``repeat(md5(text),
    1 + doc_id % 7)`` (32..224 bytes); media_type cycles
    image/audio/video by doc_id. Stands in for real WARC media bytes.
    """
    mtype = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3).cast("int") + 1,
    )
    payload = F.encode(
        F.expr("repeat(md5(text), 1 + cast(doc_id % 7 as int))"), "UTF-8"
    )
    # NULL text would mint a NULL payload that crashes np.frombuffer in
    # media_features — a media row without bytes carries no information,
    # so drop it at the source (real WARC extractors skip bodyless
    # records the same way)
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id", mtype.alias("media_type"), payload.alias("payload")
    )


def media_metadata(media: DataFrame) -> DataFrame:
    """Typed metadata from the opaque payload — pure Column expressions
    (octet_length/md5 run JVM-side inside codegen; payload is never
    deserialized into Python)."""
    return media.select(
        "doc_id",
        "media_type",
        F.octet_length("payload").cast("int").alias("n_bytes"),
        F.md5("payload").alias("checksum"),
    )


def decode_image(payload: bytes) -> "np.ndarray":
    """REAL image decode for uncompressed 24-bit BMP (pure numpy, no
    codec libraries) → (H, W, 3) uint8 RGB array.

    Parses the BITMAPFILEHEADER (magic, pixel-data offset) and
    BITMAPINFOHEADER (width, signed height, planes, bpp, compression),
    honors the 4-byte row padding and bottom-up row order (negative
    height = top-down), and swaps the stored BGR to RGB. Raises
    ``ValueError`` on anything that is not an uncompressed 24-bit BMP —
    compressed formats (JPEG/PNG) still need external codec libraries
    and remain out of scope in this sandbox.
    """
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pix_off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    comp = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={comp})")
    if w <= 0 or h == 0:
        raise ValueError(f"invalid BMP dims {w}x{h}")
    height = abs(h)
    row_size = ((3 * w + 3) // 4) * 4
    need = pix_off + row_size * height
    if len(payload) < need:
        raise ValueError("truncated BMP pixel data")
    buf = np.frombuffer(payload, dtype=np.uint8, count=need)
    rows = buf[pix_off:need].reshape(height, row_size)[:, : 3 * w]
    if h > 0:  # bottom-up storage (the common case)
        rows = rows[::-1]
    return rows.reshape(height, w, 3)[:, :, ::-1]  # BGR -> RGB


def decode_audio(payload: bytes) -> "np.ndarray":
    """REAL audio decode for PCM16 WAV (pure numpy, no codec libraries)
    → int16 sample array (channels interleaved as stored).

    Walks the RIFF chunk list: requires ``RIFF``/``WAVE`` magic and a
    ``fmt `` chunk declaring format 1 (integer PCM) at 16 bits, then
    returns the ``data`` chunk as little-endian int16. Raises
    ``ValueError`` for anything else (MP3/AAC/float WAV still need
    external codecs and remain out of scope in this sandbox) and for a
    malformed file: a chunk whose declared size runs past the payload,
    a ``fmt `` chunk after ``data``, or a ``data`` chunk of odd length.
    """
    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt_ok, data = 12, False, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError(f"truncated WAV {cid!r} chunk ({len(body)} of {size} bytes)")
        if cid == b"fmt ":
            if data is not None:
                raise ValueError("WAV fmt chunk after the data chunk")
            audio_fmt = int.from_bytes(body[0:2], "little")
            bits = int.from_bytes(body[14:16], "little")
            if audio_fmt != 1 or bits != 16:
                raise ValueError(f"unsupported WAV (fmt={audio_fmt}, bits={bits})")
            fmt_ok = True
        elif cid == b"data":
            if size % 2:
                raise ValueError(f"odd-length PCM16 data chunk ({size} bytes)")
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if not fmt_ok or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    return np.frombuffer(data, dtype="<i2")


def _fake_decode(buf: np.ndarray) -> tuple[int, int, float]:
    """Deterministic stand-in decode: (width, height, mean sampled byte).

    width/height from the first two payload bytes, mean over every 4th
    byte — integer-derived doubles, bit-stable across engines.
    """
    width = 1 + int(buf[0]) % 64
    height = 1 + int(buf[1]) % 64
    mean_val = float(buf[::4].astype(np.float64).mean())
    return width, height, mean_val


def media_features(media: DataFrame) -> DataFrame:
    """Per-media feature extraction over raw bytes via ``mapInPandas``.

    The Arrow batch carries the binary column into Python once; numpy
    does the byte math; only the small typed feature row returns.

    Decode dispatch: payloads carrying the BMP magic are REALLY decoded
    (``decode_image`` — header parse, row padding, BGR→RGB) and
    featurized over the pixel array; anything else falls back to the
    deterministic ``_fake_decode`` byte math (compressed formats would
    need codec libraries this sandbox lacks). The md5-hex synthetic
    payloads of ``media_from_documents`` never start with ``BM``, so
    the original gated row's contract is unchanged; the real path is
    gated by the ``media_bmp_decode`` registry row over synthesized
    valid BMPs (sources/pages.py ``synth_bmp_media``).
    """

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, widths, heights, means, sizes = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None or len(payload) < 2:
                    continue  # _fake_decode reads bytes 0 and 1
                buf = np.frombuffer(payload, dtype=np.uint8)
                if bytes(payload[:2]) == b"BM":
                    img = decode_image(bytes(payload))
                    h, w = int(img.shape[0]), int(img.shape[1])
                    m = float(img.astype(np.float64).mean())
                else:
                    w, h, m = _fake_decode(buf)
                ids.append(doc_id)
                widths.append(w)
                heights.append(h)
                means.append(m)
                sizes.append(len(buf))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_bytes": pd.Series(sizes, dtype="int32"),
                    "width": pd.Series(widths, dtype="int32"),
                    "height": pd.Series(heights, dtype="int32"),
                    "mean_val": pd.Series(means, dtype="float64"),
                }
            )

    return media.select("doc_id", "payload").mapInPandas(
        feats, "doc_id long, n_bytes int, width int, height int, mean_val double"
    )


def resize_media(media: DataFrame, factor: int = 2) -> DataFrame:
    """Image-resize stage over raw bytes: deterministic ``factor``×
    downsample of the fake-decoded pixel stream (keep every
    ``factor``-th byte), emitting the new dims + an md5 signature of
    the resized buffer. Real codecs replace ``_fake_decode``/the slice
    with a proper decode+interpolate; the Spark-side plumbing — Arrow
    batch in, typed feature row out, bytes never on the driver — is
    exactly what a production resize stage uses.
    """
    import hashlib

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, rws, rhs, sigs = [], [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None or len(payload) < 2:
                    continue
                buf = np.frombuffer(payload, dtype=np.uint8)
                w, h, _ = _fake_decode(buf)
                ids.append(doc_id)
                ws.append(w)
                hs.append(h)
                rws.append(max(1, w // factor))
                rhs.append(max(1, h // factor))
                sigs.append(hashlib.md5(buf[::factor].tobytes()).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "resized_w": pd.Series(rws, dtype="int32"),
                    "resized_h": pd.Series(rhs, dtype="int32"),
                    "resized_sig": pd.Series(sigs, dtype="object"),
                }
            )

    return media.select("doc_id", "payload").mapInPandas(
        gen,
        "doc_id long, width int, height int, resized_w int, resized_h int, resized_sig string",
    )


def sample_frames(media: DataFrame, every: int = 3) -> DataFrame:
    """Frame sampling for video-like payloads: every ``every``-th frame.

    A "frame" is a FRAME_BYTES slice of the payload (real codecs plug in
    at ``decode_*``). Frame offsets are Column math (JVM-side explode);
    the per-frame signature (md5 of the frame bytes) runs in the same
    vectorized pandas stage as a real frame featurizer would.
    """
    import hashlib

    n_frames = F.floor(F.octet_length("payload") / F.lit(FRAME_BYTES)).cast("int")
    framed = (
        media.filter(F.col("media_type") == "video")
        .withColumn("n_frames", n_frames)
        .filter(F.col("n_frames") > 0)
        .withColumn(
            "frame_idx",
            F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every))),
        )
        .select(
            "doc_id",
            "frame_idx",
            (F.col("frame_idx") * FRAME_BYTES).cast("int").alias("byte_off"),
            "payload",
        )
    )

    def sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = [
                p[off : off + FRAME_BYTES]
                for p, off in zip(pdf["payload"], pdf["byte_off"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "frame_idx": pdf["frame_idx"].astype("int32"),
                    "byte_off": pdf["byte_off"].astype("int32"),
                    "frame_sig": [hashlib.md5(fb).hexdigest() for fb in frames],
                }
            )

    return framed.mapInPandas(
        sig, "doc_id long, frame_idx int, byte_off int, frame_sig string"
    )


def audio_features(media: DataFrame) -> DataFrame:
    """Per-clip features over REALLY-decoded PCM16 WAV payloads via
    ``mapInPandas`` → (doc_id, n_samples, mean_sample, peak).

    ``decode_audio`` parses the RIFF chunk list (no codec libraries);
    features are exact integer-derived values so the row is oracle-
    gated end to end (registry row media_wav_decode) — the audio twin
    of the BMP real-decode path in ``media_features``.
    """

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ns, means, peaks = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                samples = decode_audio(bytes(payload))
                ids.append(doc_id)
                ns.append(len(samples))
                means.append(float(samples.astype(np.float64).mean()))
                peaks.append(int(np.abs(samples.astype(np.int64)).max()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_samples": pd.Series(ns, dtype="int32"),
                    "mean_sample": pd.Series(means, dtype="float64"),
                    "peak": pd.Series(peaks, dtype="int64"),
                }
            )

    return media.select("doc_id", "payload").mapInPandas(
        feats, "doc_id long, n_samples int, mean_sample double, peak long"
    )
