"""FLAC codec tests: exact lossless round-trips across subframe types,
channel decorrelation modes, bit depths, block sizes and wasted bits;
integrity checks (CRC-8 / CRC-16 / MD5) verified to actually fire; and
the error contract."""

import numpy as np
import pytest

from ai_invoice_ocr_engine_spark.flac import decode_flac, encode_flac


def _sig(n, seed=0, amp=30000, ch=1):
    """Smooth-ish signal with noise: exercises predictors and rice."""
    rng = np.random.RandomState(seed)
    t = np.arange(n)
    base = (amp * 0.7 * np.sin(t / 50.0)).astype(np.int64)
    noise = rng.randint(-amp // 10, amp // 10, n)
    s = np.clip(base + noise, -amp, amp)
    if ch > 1:
        return np.stack([np.roll(s, 17 * c) for c in range(ch)], axis=1)
    return s


def _rt(samples, **kw):
    out, rate, bps = decode_flac(encode_flac(samples, **kw))
    want = np.asarray(samples, np.int64)
    if want.ndim == 1:
        want = want[:, None]
    assert np.array_equal(out, want)
    return rate, bps


@pytest.mark.parametrize("mode", ["verbatim", "fixed0", "fixed1", "fixed2",
                                  "fixed3", "fixed4", "lpc2"])
def test_roundtrip_modes(mode):
    _rt(_sig(3000, seed=hash(mode) % 1000), mode=mode)


def test_roundtrip_constant():
    _rt(np.full(2000, -123, np.int64), mode="constant")


def test_lpc_equals_fixed_semantics():
    # lpc2 uses coefs [4,-2] >> 1 == the fixed order-2 predictor, so both
    # encodings of the same signal must decode identically
    s = _sig(1500, 5)
    a, _, _ = decode_flac(encode_flac(s, mode="fixed2"))
    b, _, _ = decode_flac(encode_flac(s, mode="lpc2"))
    assert np.array_equal(a, b)


@pytest.mark.parametrize("block_size", [192, 256, 1000, 4096])
def test_roundtrip_block_sizes(block_size):
    # 2500 samples: forces a short final frame for every size
    _rt(_sig(2500, block_size), block_size=block_size)


@pytest.mark.parametrize("cmode", ["independent", "left_side", "right_side",
                                   "mid_side"])
def test_roundtrip_stereo_modes(cmode):
    _rt(_sig(2000, 3, ch=2), channel_mode=cmode)


@pytest.mark.parametrize("bps,amp", [(8, 120), (16, 30000), (24, 7_000_000),
                                     (32, 1_000_000_000)])
def test_roundtrip_bit_depths(bps, amp):
    rate, got_bps = _rt(_sig(1200, bps, amp=amp), bps=bps)
    assert got_bps == bps


def test_roundtrip_wasted_bits():
    s = _sig(1500, 9) & ~np.int64(7)  # low 3 bits zero
    _rt(s, wasted=3)


def test_sample_rate_survives():
    rate, _ = _rt(_sig(500, 1), sample_rate=44100)
    assert rate == 44100


def test_rice_escape_and_partitions_decode():
    # huge residuals push the rice parameter high; still exact
    rng = np.random.RandomState(0)
    s = rng.randint(-32000, 32000, 4000)
    _rt(s, mode="fixed4")


# --------------------------------------------------------------------------
# Integrity checks actually fire
# --------------------------------------------------------------------------


def _flip(data: bytes, off: int) -> bytes:
    b = bytearray(data)
    b[off] ^= 0x01
    return bytes(b)


def test_md5_check_fires():
    blob = encode_flac(_sig(800, 2))
    # STREAMINFO md5 lives at bytes 8+18 .. 8+34 of the metadata block
    bad = _flip(blob, 8 + 18)
    with pytest.raises(ValueError, match="MD5|CRC"):
        decode_flac(bad)


def test_frame_crc16_fires():
    blob = encode_flac(_sig(800, 2))
    bad = _flip(blob, len(blob) - 1)  # last CRC-16 byte
    with pytest.raises(ValueError, match="CRC-16|MD5"):
        decode_flac(bad)


def test_header_crc8_fires():
    blob = encode_flac(_sig(800, 2), sample_rate=16000)
    # frame starts right after the 4+4+34+16=42-byte... locate sync 0xFFF8
    off = blob.index(b"\xff\xf8", 4)
    bad = _flip(blob, off + 2)  # header byte → CRC-8 must catch it
    with pytest.raises(ValueError):
        decode_flac(bad)


@pytest.mark.parametrize("cut", [2, 10, 40, -3])
def test_truncation_raises(cut):
    blob = encode_flac(_sig(600, 4))
    with pytest.raises(ValueError):
        decode_flac(blob[:cut])


def test_not_flac():
    with pytest.raises(ValueError, match="not a FLAC"):
        decode_flac(b"OggS----")


def test_fuzz_error_contract():
    rng = np.random.default_rng(7)
    blob = encode_flac(_sig(400, 6))
    for _ in range(150):
        bb = bytearray(blob)
        for _k in range(int(rng.integers(1, 5))):
            bb[int(rng.integers(0, len(bb)))] = int(rng.integers(0, 256))
        try:
            decode_flac(bytes(bb))
        except (ValueError, NotImplementedError):
            pass
    for _ in range(60):
        junk = b"fLaC" + bytes(rng.integers(0, 256, int(rng.integers(0, 100)),
                                            dtype=np.uint8))
        try:
            decode_flac(junk)
        except (ValueError, NotImplementedError):
            pass
