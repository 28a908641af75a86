"""GIF codec tests: encoder round-trips for every feature path, a
hand-assembled spec fixture pinning the decoder independently of the
encoder, LZW table-reset stress, animation compositing semantics
(transparency + disposal 0/2/3), and the error contract."""

import numpy as np
import pytest

from ai_invoice_ocr_engine_spark import kernels as K
from ai_invoice_ocr_engine_spark.gif import (
    _gif_lzw_decode,
    _gif_lzw_encode,
    decode_gif,
    encode_gif,
    gif_frames,
)


def _img(h, w, seed=0):
    return np.random.RandomState(seed).randint(0, 256, (h, w), np.uint8)


# --------------------------------------------------------------------------
# Round-trips (encoder and decoder share only the published spec)
# --------------------------------------------------------------------------


@pytest.mark.parametrize("h,w", [(1, 1), (3, 5), (40, 33), (64, 64)])
def test_roundtrip_plain(h, w):
    img = _img(h, w, h * 100 + w)
    assert np.array_equal(decode_gif(encode_gif(img)), img)


@pytest.mark.parametrize("h", [1, 2, 7, 8, 9, 31])
def test_roundtrip_interlaced(h):
    img = _img(h, 17, h)
    assert np.array_equal(decode_gif(encode_gif(img, interlace=True)), img)


def test_roundtrip_local_palette():
    img = _img(13, 29, 7)
    assert np.array_equal(decode_gif(encode_gif(img, local_palettes=True)), img)


def test_lzw_table_reset_stress():
    # 300x300 random noise forces the 4096-entry table reset mid-stream
    img = _img(300, 300, 42)
    assert np.array_equal(decode_gif(encode_gif(img)), img)


def test_lzw_kwkwk_and_width_growth():
    # aaa... runs exercise the KwKwK code-equals-table-size case; a long
    # gradient exercises every width step 9..12
    for raw in (b"\x01" * 50, bytes(range(256)) * 40):
        dec = bytes(_gif_lzw_decode(_gif_lzw_encode(raw, 8), 8, len(raw)))
        assert dec == raw


def test_decode_image_routes_gif():
    img = _img(9, 11, 3)
    assert np.array_equal(K.decode_image(encode_gif(img)), img)


# --------------------------------------------------------------------------
# Hand-assembled fixture: bytes written from the GIF87a spec by hand, LZW
# codes packed manually (clear=4, codes 4,1,6,5 at 3 bits LSB-first =
# 0x8C 0x0B) — pins the decoder against the spec, not our encoder.
# --------------------------------------------------------------------------

_SPEC_GIF = bytes.fromhex(
    "474946383761"  # GIF87a
    "03000100"  # screen 3x1
    "f00000"  # GCT present, 2 entries; bg 0
    "000000ffffff"  # palette: black, white
    "2c000000000300010000"  # image descriptor 3x1 at (0,0)
    "02"  # LZW min code size 2
    "028c0b00"  # one 2-byte sub-block + terminator
    "3b"  # trailer
)


def test_hand_assembled_spec_fixture():
    out = decode_gif(_SPEC_GIF)
    assert np.array_equal(out, np.full((1, 3), 255, np.uint8))


# --------------------------------------------------------------------------
# Animation compositing
# --------------------------------------------------------------------------


def test_animation_frames_composite():
    f0 = np.full((8, 8), 10, np.uint8)
    patch = np.full((4, 4), 200, np.uint8)
    data = encode_gif([f0, patch], offsets=[(0, 0), (2, 2)], screen=(8, 8))
    frames = gif_frames(data)
    assert len(frames) == 2
    assert np.array_equal(frames[0], f0)
    expect = f0.copy()
    expect[2:6, 2:6] = 200
    assert np.array_equal(frames[1], expect)


def test_transparency_keeps_underlying_pixels():
    f0 = np.full((4, 4), 50, np.uint8)
    f1 = f0.copy()
    f1[0, 0] = 77  # index 77; everything else stays the transparent index
    data = encode_gif([f0, f1], transparent=50)
    frames = gif_frames(data)
    # frame 0 painted only where != transparent: canvas starts at bg 0
    assert frames[0][0, 0] == 0  # all of f0 is the transparent index
    assert frames[1][0, 0] == 77
    assert frames[1][1, 1] == 0


def test_disposal_restore_background():
    base = np.full((6, 6), 100, np.uint8)
    patch = np.full((2, 2), 250, np.uint8)
    tail = np.full((1, 1), 30, np.uint8)
    data = encode_gif(
        [base, patch, tail],
        offsets=[(0, 0), (1, 1), (5, 5)],
        disposals=[0, 2, 0],
        background=0,
    )
    frames = gif_frames(data)
    assert frames[1][1, 1] == 250
    # after disposal 2, the patch region is background (gray of GCT[0]=0)
    assert frames[2][1, 1] == 0
    assert frames[2][5, 5] == 30
    assert frames[2][0, 0] == 100  # untouched region persists


def test_disposal_restore_previous():
    base = np.full((6, 6), 100, np.uint8)
    patch = np.full((2, 2), 250, np.uint8)
    tail = np.full((1, 1), 30, np.uint8)
    data = encode_gif(
        [base, patch, tail],
        offsets=[(0, 0), (1, 1), (5, 5)],
        disposals=[0, 3, 0],
    )
    frames = gif_frames(data)
    assert frames[1][1, 1] == 250
    assert frames[2][1, 1] == 100  # restored to pre-patch pixels
    assert frames[2][5, 5] == 30


# --------------------------------------------------------------------------
# Error contract: corrupt inputs fail loudly with ValueError
# --------------------------------------------------------------------------


@pytest.mark.parametrize(
    "mutate",
    [
        lambda b: b[:10],  # truncated header
        lambda b: b[:-1],  # missing trailer
        lambda b: b.replace(b"\x2c", b"\x7e", 1),  # unknown block type
        lambda b: b[: b.index(b"\x8c")] + b"\x00\x3b",  # truncated LZW
    ],
)
def test_corrupt_gif_raises_valueerror(mutate):
    with pytest.raises(ValueError):
        decode_gif(bytes(mutate(_SPEC_GIF)))


def test_not_a_gif():
    with pytest.raises(ValueError):
        decode_gif(b"NOPE" * 4)


def test_oob_palette_index_raises():
    # spec fixture uses a 2-entry palette; splice in a stream that emits
    # index 3 (valid LZW literal, invalid palette slot)
    codes = _gif_lzw_encode(b"\x03\x03\x03", 2)
    bad = (
        _SPEC_GIF[: _SPEC_GIF.index(b"\x02\x8c")]
        + bytes([len(codes)])
        + codes
        + b"\x00\x3b"
    )
    with pytest.raises(ValueError, match="outside the color table"):
        decode_gif(bad)


def test_frame_exceeding_screen_raises():
    img = _img(4, 4)
    data = bytearray(encode_gif(img))
    data[6:8] = (2).to_bytes(2, "little")  # shrink logical screen width
    with pytest.raises(ValueError, match="exceeds logical screen"):
        decode_gif(bytes(data))
