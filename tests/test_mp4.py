"""MP4/ISO-BMFF demux tests: sample extraction round-trips through real
stsc/stsz/stco chunk maps (varied chunking, co64, largesize), the codec
seam for compressed bitstreams, the error contract, and Photo-JPEG
samples."""

import struct

import numpy as np
import pytest

from ai_invoice_ocr_engine_spark import kernels as K
from ai_invoice_ocr_engine_spark.mp4 import (
    encode_mp4,
    mp4_frame_payloads,
    parse_mp4,
)


def _frames(n, seed=0):
    rng = np.random.RandomState(seed)
    return [
        K.encode_synf(rng.randint(0, 256, (8 + i, 10), np.uint8).astype(np.uint8))
        for i in range(n)
    ]


def test_roundtrip_default_chunking():
    fr = _frames(7)
    assert mp4_frame_payloads(encode_mp4(fr)) == fr


@pytest.mark.parametrize("chunks", [[1] * 6, [6], [3, 2, 1], [1, 4, 1]])
def test_roundtrip_varied_chunk_maps(chunks):
    fr = _frames(6, seed=sum(chunks))
    assert mp4_frame_payloads(encode_mp4(fr, chunk_sizes=chunks)) == fr


def test_roundtrip_co64():
    fr = _frames(5, 3)
    assert mp4_frame_payloads(encode_mp4(fr, use_co64=True)) == fr


def test_track_metadata():
    fr = _frames(4)
    (track,) = parse_mp4(encode_mp4(fr))
    assert track.handler == b"vide"
    assert track.codec == b"synf"
    assert len(track.samples) == 4
    # offsets point at the actual payload bytes
    blob = encode_mp4(fr)
    off, size = track.samples[2]
    assert blob[off : off + size] == fr[2]


def test_compressed_codec_is_a_named_seam():
    fr = _frames(3)
    blob = encode_mp4(fr, codec=b"avc1")
    with pytest.raises(NotImplementedError, match="avc1"):
        mp4_frame_payloads(blob)
    # the demux itself succeeded — the message reports the sample count
    with pytest.raises(NotImplementedError, match="3 samples"):
        mp4_frame_payloads(blob)


# --------------------------------------------------------------------------
# Error contract
# --------------------------------------------------------------------------


def test_not_mp4():
    with pytest.raises(ValueError, match="not an ISO-BMFF"):
        parse_mp4(b"\x00" * 32)


@pytest.mark.parametrize(
    "mutate",
    [
        lambda b: b[:40],  # moov gone
        lambda b: b.replace(b"stsz", b"xxxx", 1),
        lambda b: b.replace(b"stco", b"xxxx", 1) if b"stco" in b else b[:40],
        lambda b: b.replace(b"moov", b"vooz", 1),
    ],
)
def test_missing_tables_raise(mutate):
    blob = encode_mp4(_frames(4))
    with pytest.raises(ValueError):
        mp4_frame_payloads(bytes(mutate(blob)))


def test_sample_past_eof_raises():
    blob = bytearray(encode_mp4(_frames(3)))
    # inflate the last stsz entry so the sample runs past EOF
    i = blob.rindex(b"stsz")
    # stsz layout: 'stsz' + ver/flags(4) + uniform(4) + count(4) + sizes
    count_off = i + 4 + 8
    (count,) = struct.unpack_from(">I", blob, count_off)
    last_size_off = count_off + 4 + 4 * (count - 1)
    struct.pack_into(">I", blob, last_size_off, 1 << 24)
    with pytest.raises(ValueError, match="past end"):
        parse_mp4(bytes(blob))


def test_bad_stsc_sequence_raises():
    blob = bytearray(encode_mp4(_frames(6), chunk_sizes=[3, 3]))
    i = blob.rindex(b"stsc")
    # corrupt first_chunk of entry 0 (must be 1)
    struct.pack_into(">I", blob, i + 4 + 8, 9)
    with pytest.raises(ValueError, match="stsc"):
        parse_mp4(bytes(blob))


def test_fuzz_error_contract():
    rng = np.random.default_rng(11)
    blob = encode_mp4(_frames(4, 1))
    for _ in range(200):
        bb = bytearray(blob)
        for _k in range(int(rng.integers(1, 6))):
            bb[int(rng.integers(0, len(bb)))] = int(rng.integers(0, 256))
        try:
            mp4_frame_payloads(bytes(bb))
        except (ValueError, NotImplementedError):
            pass
    for _ in range(80):
        junk = b"\x00\x00\x00\x14ftypisom" + bytes(
            rng.integers(0, 256, int(rng.integers(0, 120)), dtype=np.uint8)
        )
        try:
            mp4_frame_payloads(junk)
        except (ValueError, NotImplementedError):
            pass


# --------------------------------------------------------------------------
# QuickTime Photo-JPEG ('jpeg') sample entries: every sample is a whole
# baseline JPEG, decodable end-to-end through the repo's T.81 decoder.
# --------------------------------------------------------------------------


def _jpeg_frames(n, h=24, w=32):
    from ai_invoice_ocr_engine_spark.jpeg import encode_jpeg

    rng = np.random.RandomState(11)
    imgs = [rng.randint(0, 256, (h, w), np.uint8).astype(np.uint8) for _ in range(n)]
    return imgs, [encode_jpeg(im, quality=95) for im in imgs]


def test_photo_jpeg_samples_decode_end_to_end():
    imgs, frs = _jpeg_frames(4)
    blob = encode_mp4(frs, codec=b"jpeg")
    payloads = mp4_frame_payloads(blob)
    assert len(payloads) == 4
    for im, p in zip(imgs, payloads):
        dec = K.decode_image(p)
        # baseline JPEG at q95 is lossy but close
        assert dec.shape == im.shape
        assert np.mean(np.abs(dec.astype(int) - im.astype(int))) < 12


def test_photo_jpeg_missing_dht_gets_annex_k_tables():
    """MJPG convention: frames without DHT decode via injected Annex K
    tables, bit-identical to the same frame with its tables present."""
    from ai_invoice_ocr_engine_spark.jpeg import decode_jpeg

    imgs, frs = _jpeg_frames(2)

    def strip_dht(b):
        out = bytearray(b[:2])
        pos = 2
        while pos + 4 <= len(b):
            m = b[pos + 1]
            if m == 0xDA:
                out += b[pos:]
                break
            sl = int.from_bytes(b[pos + 2 : pos + 4], "big")
            if m != 0xC4:
                out += b[pos : pos + 2 + sl]
            pos += 2 + sl
        return bytes(out)

    stripped = [strip_dht(f) for f in frs]
    assert all(b"\xff\xc4" not in s[:200] for s in stripped)
    blob = encode_mp4(stripped, codec=b"jpeg")
    payloads = mp4_frame_payloads(blob)
    for full, p in zip(frs, payloads):
        np.testing.assert_array_equal(decode_jpeg(p), decode_jpeg(full))


def test_mjpa_field_format_stays_a_named_seam():
    _, frs = _jpeg_frames(2)
    with pytest.raises(NotImplementedError, match="mjpa"):
        mp4_frame_payloads(encode_mp4(frs, codec=b"mjpa"))
