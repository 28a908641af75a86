"""Ogg container tests: page CRC (the Ogg-specific CRC-32 variant),
packet reassembly across lacing values and page boundaries, FLAC-in-Ogg
end-to-end through the pinned native decoder (STREAMINFO MD5 armed),
and codec seams with BOS metadata."""

import struct

import numpy as np
import pytest

from ai_invoice_ocr_engine_spark.ogg import (
    _ogg_crc,
    _page,
    decode_ogg,
    encode_ogg_flac,
    ogg_metadata,
    parse_ogg,
)


def _sig(n, seed=0):
    rng = np.random.RandomState(seed)
    return (rng.randint(-(2 ** 14), 2 ** 14, n)).astype(np.int16)


def test_ogg_crc_known_vector():
    """The Ogg CRC is NOT zlib's: poly 0x04C11DB7, init 0, no reflection,
    no final xor. Pin with a structural property (byte-extension rule)
    plus a fixed vector computed from the definition."""
    assert _ogg_crc(b"") == 0
    # one zero byte: crc = table[0] = 0 (init 0, leading zeros stay 0)
    assert _ogg_crc(b"\x00") == 0
    # 0x80 at the top bit exercises the polynomial reduction path
    v = _ogg_crc(b"\x80\x00\x00\x00")
    # direct bitwise reference implementation
    reg = 0
    for byte in b"\x80\x00\x00\x00":
        reg ^= byte << 24
        for _ in range(8):
            reg = ((reg << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if reg & 0x80000000 \
                else (reg << 1) & 0xFFFFFFFF
    assert v == reg


def test_flac_roundtrip_small():
    sam = (np.sin(np.arange(5000) / 7) * 9000).astype(np.int16)
    blob = encode_ogg_flac(sam, 16000)
    np.testing.assert_array_equal(decode_ogg(blob), sam)
    m = ogg_metadata(blob)
    assert (m["codec"], m["sample_rate"], m["n_samples"]) == ("flac", 16000, 5000)
    assert m["duration_s"] == pytest.approx(5000 / 16000)


def test_flac_packet_spans_pages():
    """A packet larger than one page rides 255-lacing continuation pages
    (header bit 0x01, granule -1) and reassembles exactly."""
    big = _sig(200_000)
    blob = encode_ogg_flac(big, 22050, mode="verbatim")
    # more than one audio page actually present
    n_pages = blob.count(b"OggS")
    assert n_pages > 4
    np.testing.assert_array_equal(decode_ogg(blob), big)


def test_stereo_mixdown_matches_flac_path():
    sam = _sig(3000, 1)
    st = np.stack([sam, (-sam // 2).astype(np.int16)], axis=1)
    blob = encode_ogg_flac(st, 8000, channel_mode="mid_side")
    exp = st.astype(np.int64).mean(axis=1).astype(np.int16)
    np.testing.assert_array_equal(decode_ogg(blob), exp)


def test_crc_tamper_raises():
    blob = bytearray(encode_ogg_flac(_sig(2000, 2), 16000))
    blob[len(blob) // 2] ^= 0xFF
    with pytest.raises(ValueError, match="CRC|trunc|corrupt|FLAC"):
        decode_ogg(bytes(blob))


def test_vorbis_and_opus_stay_named_seams_with_metadata():
    vb = (b"\x01vorbis" + bytes([0, 0, 0, 0]) + bytes([2])
          + (44100).to_bytes(4, "little") + b"\x00" * 16)
    page = _page(7, 0, 0x02, 0, [vb])
    with pytest.raises(NotImplementedError, match="vorbis"):
        decode_ogg(page)
    m = ogg_metadata(page)
    assert (m["codec"], m["sample_rate"], m["channels"]) == ("vorbis", 44100, 2)

    oh = (b"OpusHead" + bytes([1, 2]) + b"\x00\x00"
          + (48000).to_bytes(4, "little") + b"\x00" * 3)
    page = _page(9, 0, 0x02, 0, [oh])
    m = ogg_metadata(page)
    assert (m["codec"], m["channels"], m["sample_rate"]) == ("opus", 2, 48000)


def test_multiplexed_streams_pick_flac():
    sam = _sig(1500, 3)
    flac_blob = encode_ogg_flac(sam, 16000, serial=0x10)
    vb = (b"\x01vorbis" + bytes([0, 0, 0, 0]) + bytes([1])
          + (8000).to_bytes(4, "little") + b"\x00" * 16)
    vorbis_page = _page(0x20, 0, 0x02, 0, [vb])
    # interleave: vorbis BOS first, then the whole FLAC stream
    blob = vorbis_page + flac_blob
    streams = parse_ogg(blob)
    assert {s["codec"] for s in streams.values()} == {"vorbis", "flac"}
    np.testing.assert_array_equal(decode_ogg(blob), sam)


def test_error_contract():
    with pytest.raises(ValueError):
        parse_ogg(b"NotOggData!!")
    blob = encode_ogg_flac(_sig(500, 4), 16000)
    with pytest.raises(ValueError):
        parse_ogg(blob[:-7])  # truncated page body
    # data page for an unknown stream (no BOS)
    orphan = _page(0x99, 5, 0x00, 0, [b"xx"])
    with pytest.raises(ValueError, match="unknown stream"):
        parse_ogg(orphan)


def _recrc_page(blob: bytearray, page_start: int) -> None:
    """Recompute one page's CRC in place after mutating its bytes."""
    from ai_invoice_ocr_engine_spark.ogg import _ogg_crc

    nseg = blob[page_start + 26]
    body_len = sum(blob[page_start + 27 : page_start + 27 + nseg])
    end = page_start + 27 + nseg + body_len
    blob[page_start + 22 : page_start + 26] = b"\x00" * 4
    crc = _ogg_crc(bytes(blob[page_start:end]))
    blob[page_start + 22 : page_start + 26] = struct.pack("<I", crc)


def test_unknown_header_count_zero():
    """The xiph mapping allows header-count 0 = 'unknown'; metadata
    packets must then be consumed by sniffing (blocks start with type
    0-6, frames with 0xFF) instead of fed to the frame decoder."""
    sam = _sig(1200, 11)
    blob = bytearray(encode_ogg_flac(sam, 16000))
    # BOS page: header(27) + 1-seg table(1) -> packet body at +28;
    # the BE16 header count rides at packet offset 7
    assert blob[28 : 28 + 5] == b"\x7fFLAC"
    assert struct.unpack_from(">H", blob, 28 + 7)[0] == 1
    blob[28 + 7 : 28 + 9] = b"\x00\x00"
    _recrc_page(blob, 0)
    np.testing.assert_array_equal(decode_ogg(bytes(blob)), sam)


def test_dropped_page_detected_at_demux():
    """Removing a whole mid-stream page leaves every remaining page
    CRC-valid; the per-stream sequence check must catch it anyway."""
    sam = _sig(4000, 12)
    blob = bytes(encode_ogg_flac(sam, 16000))
    starts = []
    pos = 0
    while True:
        pos = blob.find(b"OggS", pos)
        if pos < 0:
            break
        starts.append(pos)
        pos += 4
    assert len(starts) == 3, "fixture layout: BOS, comment, frames"
    # drop the middle page: every remaining page still has a valid CRC
    cut = blob[: starts[1]] + blob[starts[2]:]
    with pytest.raises(ValueError, match="sequence gap"):
        parse_ogg(cut)


def test_speex_metadata_parsed():
    sx = (b"Speex   " + b"1.2.0".ljust(20, b"\x00")
          + struct.pack("<I", 1) + struct.pack("<I", 80)
          + struct.pack("<I", 32000) + struct.pack("<I", 2)
          + struct.pack("<I", 4) + struct.pack("<I", 2))
    page = _page(0x42, 0, 0x02, 0, [sx])
    m = ogg_metadata(page)
    assert (m["codec"], m["sample_rate"], m["channels"]) == ("speex", 32000, 2)
    with pytest.raises(NotImplementedError, match="speex"):
        decode_ogg(page)
