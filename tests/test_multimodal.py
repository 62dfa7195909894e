"""Multimodal binary-column plumbing: metadata, fake decode, frames."""

import hashlib

import numpy as np
import pytest

from ophois_spark.operators.multimodal import (
    FRAME_BYTES,
    decode_audio,
    decode_image,
    media_features,
    media_from_documents,
    media_metadata,
    sample_frames,
)

DOCS = [
    (0, "hello world"),
    (1, "the quick brown fox"),
    (2, "du hast mich gefragt"),
    (5, "le chat est sur la table"),
    (8, ""),
]


def _payload(doc_id: int, text: str) -> bytes:
    return (hashlib.md5(text.encode()).hexdigest() * (1 + doc_id % 7)).encode()


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    return media_from_documents(docs).cache()


def test_media_payload_and_type(media):
    rows = {r.doc_id: r for r in media.collect()}
    assert rows[0].media_type == "image"
    assert rows[1].media_type == "audio"
    assert rows[2].media_type == "video"
    for doc_id, text in DOCS:
        assert bytes(rows[doc_id].payload) == _payload(doc_id, text)


def test_media_metadata(media):
    rows = {r.doc_id: r for r in media_metadata(media).collect()}
    for doc_id, text in DOCS:
        p = _payload(doc_id, text)
        assert rows[doc_id].n_bytes == len(p)
        assert rows[doc_id].checksum == hashlib.md5(p).hexdigest()


def test_media_features_match_local_decode(media):
    rows = {r.doc_id: r for r in media_features(media).collect()}
    for doc_id, text in DOCS:
        buf = np.frombuffer(_payload(doc_id, text), dtype=np.uint8)
        r = rows[doc_id]
        assert r.width == 1 + int(buf[0]) % 64
        assert r.height == 1 + int(buf[1]) % 64
        assert r.mean_val == float(buf[::4].astype(np.float64).mean())


def test_sample_frames(media):
    out = sample_frames(media, every=3).collect()
    assert out, "video docs must produce frames"
    by_doc: dict[int, list] = {}
    for r in out:
        assert r.frame_idx % 3 == 0
        assert r.byte_off == r.frame_idx * FRAME_BYTES
        by_doc.setdefault(r.doc_id, []).append(r)
    # only video-typed docs (doc_id % 3 == 2) appear
    assert set(by_doc) == {d for d, _ in DOCS if d % 3 == 2}
    for doc_id, rows in by_doc.items():
        text = dict(DOCS)[doc_id]
        p = _payload(doc_id, text)
        n_frames = len(p) // FRAME_BYTES
        assert sorted(r.frame_idx for r in rows) == list(range(0, n_frames, 3))
        for r in rows:
            frame = p[r.byte_off : r.byte_off + FRAME_BYTES]
            assert r.frame_sig == hashlib.md5(frame).hexdigest()


def test_compressed_formats_still_rejected():
    # decode_image/decode_audio are REAL for uncompressed BMP/PCM16 WAV
    # (round 5); compressed formats need codec libs the sandbox lacks
    # and must fail loudly, not silently mis-decode.
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG" + b"\x00" * 64)
    with pytest.raises(ValueError):
        decode_audio(b"RIFF" + b"\x00" * 64)


def test_resize_media_dims_and_signature(spark):
    from ophois_spark.operators.multimodal import media_from_documents, resize_media
    import hashlib

    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, None)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in resize_media(media_from_documents(docs)).collect()}
    assert set(rows) == {1, 2}  # NULL text dropped at the media source
    for did, text in [(1, "alpha"), (2, "beta")]:
        payload = (hashlib.md5(text.encode()).hexdigest() * (1 + did % 7)).encode()
        r = rows[did]
        assert r["width"] == 1 + payload[0] % 64
        assert r["height"] == 1 + payload[1] % 64
        assert r["resized_w"] == max(1, r["width"] // 2)
        assert r["resized_h"] == max(1, r["height"] // 2)
        assert r["resized_sig"] == hashlib.md5(payload[::2]).hexdigest()


# ---------------------------------------------------------------------------
# REAL codec decode (round 5): BMP + PCM16 WAV, pure numpy
# ---------------------------------------------------------------------------


def test_decode_bmp_roundtrip_known_pixels():
    from ophois_spark.operators.multimodal import decode_image
    from ophois_spark.sources.pages import synth_bmp

    for doc_id in (0, 1, 5, 17, 123, 9999):
        img = decode_image(synth_bmp(doc_id))
        w = 1 + doc_id % 16
        h = 1 + (doc_id * 7) % 12
        assert img.shape == (h, w, 3)
        # pixel byte k (row-major top-down, BGR in-file) = (doc_id+k)%256;
        # decode returns RGB, so channel order within a pixel reverses
        stream = np.array(
            [(doc_id + k) % 256 for k in range(3 * w * h)], dtype=np.uint8
        ).reshape(h, w, 3)[:, :, ::-1]
        assert (img == stream).all()


def test_decode_bmp_top_down_negative_height():
    from ophois_spark.operators.multimodal import decode_image

    # 2x2, top-down (height = -2), row padding 4 - 6%4 = 2 bytes
    w, h = 2, 2
    row = [10, 20, 30, 40, 50, 60]  # two BGR pixels
    rows = bytes(row) + b"\x00\x00" + bytes(v + 100 for v in row) + b"\x00\x00"
    header = (
        b"BM" + (54 + len(rows)).to_bytes(4, "little") + b"\x00" * 4
        + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little") + (-h).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + len(rows).to_bytes(4, "little")
        + b"\x00" * 16
    )
    img = decode_image(header + rows)
    assert img.shape == (2, 2, 3)
    assert img[0, 0].tolist() == [30, 20, 10]  # first stored row IS row 0
    assert img[1, 1].tolist() == [160, 150, 140]


def test_decode_bmp_rejects_non_bmp():
    from ophois_spark.operators.multimodal import decode_image

    with pytest.raises(ValueError):
        decode_image(b"abcdef" * 20)
    with pytest.raises(ValueError):
        decode_image(b"BM" + b"\x00" * 10)  # truncated header


def test_decode_wav_roundtrip_known_samples():
    from ophois_spark.operators.multimodal import decode_audio
    from ophois_spark.sources.pages import synth_wav

    for doc_id in (0, 3, 42, 777):
        samples = decode_audio(synth_wav(doc_id))
        n = 8 + doc_id % 57
        want = np.array(
            [((doc_id * 31 + k * 997) % 65536) - 32768 for k in range(n)],
            dtype=np.int16,
        )
        assert (samples == want).all()


def test_decode_wav_rejects_bad_payloads():
    from ophois_spark.operators.multimodal import decode_audio

    with pytest.raises(ValueError):
        decode_audio(b"RIFFxxxxNOPE" + b"\x00" * 40)
    with pytest.raises(ValueError):
        decode_audio(b"\x00" * 100)

    from ophois_spark.sources.pages import synth_wav

    def chunk(cid, body):
        return cid + len(body).to_bytes(4, "little") + body

    wav = synth_wav(3)
    fmt = wav[12:36]  # the 24-byte fmt chunk
    samples = wav[44:]
    # a data chunk declaring more bytes than the payload holds
    with pytest.raises(ValueError, match="truncated"):
        decode_audio(wav[:-4])
    # fmt after data
    with pytest.raises(ValueError, match="after the data"):
        decode_audio(b"RIFF\x00\x00\x00\x00WAVE" + chunk(b"data", samples) + fmt)
    # odd-length PCM16 data (word-aligned with its pad byte)
    with pytest.raises(ValueError, match="odd-length"):
        decode_audio(b"RIFF\x00\x00\x00\x00WAVE" + fmt + chunk(b"data", samples[:21]) + b"\x00")


def test_media_features_dispatches_real_bmp_decode(spark):
    """A BMP payload must take the REAL decode path (pixel-array mean),
    not the fake byte math."""
    from ophois_spark.operators.multimodal import media_features
    from ophois_spark.sources.pages import synth_bmp_media

    docs = spark.createDataFrame([(7,), (20,)], "doc_id long")
    rows = {r["doc_id"]: r for r in media_features(synth_bmp_media(docs)).collect()}
    for doc_id in (7, 20):
        w = 1 + doc_id % 16
        h = 1 + (doc_id * 7) % 12
        r = rows[doc_id]
        assert (r["width"], r["height"]) == (w, h)
        mean = np.mean([(doc_id + k) % 256 for k in range(3 * w * h)])
        assert r["mean_val"] == pytest.approx(mean, abs=0)
