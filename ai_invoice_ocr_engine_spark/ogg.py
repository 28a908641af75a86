"""Ogg container demux (+ fixture muxer) in pure stdlib.

Beyond-reference audio-container surface, same policy as mp4.py: the
container layer is implemented for real — page capture, the Ogg
CRC-32 (poly 0x04C11DB7, init 0, no reflection, CRC field zeroed),
per-stream page-sequence continuity + continuation-flag consistency (a
dropped page is caught at the demux layer, not left for a downstream
codec CRC), lacing-value packet reassembly across pages, BOS codec
identification, multiplexed logical streams — and FLAC-in-Ogg decodes
END-TO-END by
re-assembling the native FLAC stream (the mapping's first packet wraps
'fLaC' + STREAMINFO, later header packets are ordinary metadata blocks,
every audio packet is one FLAC frame) and handing it to the repo's
fully-pinned flac.decode_flac, STREAMINFO MD5 check and all.
Vorbis / Opus / Theora / Speex payloads raise NotImplementedError
naming the codec (ffmpeg territory), with rate/channel metadata parsed
from their public BOS headers for the survey path.

Specs: RFC 3533 (Ogg encapsulation), the xiph FLAC-to-Ogg mapping
(https://xiph.org/flac/ogg_mapping.html), RFC 7845 §5.1 (OpusHead),
Vorbis I §A.2 (identification header layout).
"""

from __future__ import annotations

import struct

import numpy as np

_CRC_TABLE = None


def _ogg_crc(data: bytes) -> int:
    """Ogg's CRC-32: polynomial 0x04C11DB7, init 0, MSB-first, no final
    xor, no reflection (NOT the zlib crc32)."""
    global _CRC_TABLE
    if _CRC_TABLE is None:
        tbl = []
        for i in range(256):
            r = i << 24
            for _ in range(8):
                r = ((r << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if r & 0x80000000 \
                    else (r << 1) & 0xFFFFFFFF
            tbl.append(r)
        _CRC_TABLE = tbl
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _CRC_TABLE[((crc >> 24) & 0xFF) ^ b]
    return crc


def _pages(data: bytes):
    """Yield (serial, header_type, granule, segments_payloads) per page,
    CRC-verified. Malformed capture patterns raise ValueError."""
    pos = 0
    n = len(data)
    while pos < n:
        if data[pos : pos + 4] != b"OggS":
            raise ValueError("Ogg capture pattern lost")
        if pos + 27 > n:
            raise ValueError("Ogg page header truncated")
        version, htype = data[pos + 4], data[pos + 5]
        if version != 0:
            raise NotImplementedError(f"Ogg stream structure v{version}")
        granule, serial, _seq, crc, nseg = struct.unpack_from(
            "<qIIIB", data, pos + 6)
        seg_tbl = data[pos + 27 : pos + 27 + nseg]
        if len(seg_tbl) < nseg:
            raise ValueError("Ogg segment table truncated")
        body_len = sum(seg_tbl)
        page_end = pos + 27 + nseg + body_len
        if page_end > n:
            raise ValueError("Ogg page body truncated")
        page = bytearray(data[pos:page_end])
        page[22:26] = b"\x00\x00\x00\x00"
        if _ogg_crc(bytes(page)) != crc:
            raise ValueError("Ogg page CRC mismatch")
        body = data[pos + 27 + nseg : page_end]
        yield serial, htype, granule, seg_tbl, body, _seq
        pos = page_end


def parse_ogg(data: bytes) -> dict:
    """Demux all logical streams: {serial: {"codec": str,
    "packets": [bytes...]}} plus page-level facts. Packets reassemble
    across lacing values and page boundaries (255 = continued)."""
    streams: dict[int, dict] = {}
    partial: dict[int, bytearray] = {}
    last_seq: dict[int, int] = {}
    for serial, htype, _granule, seg_tbl, body, seq in _pages(data):
        st = streams.get(serial)
        if st is None:
            if not (htype & 0x02):
                raise ValueError("Ogg data page for unknown stream")
            st = streams[serial] = {"codec": "unknown", "packets": []}
            partial[serial] = bytearray()
        else:
            # a dropped/spliced page passes per-page CRC but breaks the
            # per-stream sequence — catch it at the demux layer instead of
            # reassembling two half-packets into one corrupt packet
            if seq != last_seq[serial] + 1:
                raise ValueError(
                    f"Ogg page sequence gap in stream {serial}: "
                    f"{last_seq[serial]} -> {seq}")
        last_seq[serial] = seq
        cont = bool(htype & 0x01)
        if cont and not partial[serial]:
            raise ValueError("Ogg continuation page without an open packet")
        if not cont and partial[serial]:
            raise ValueError("Ogg open packet not continued on next page")
        off = 0
        for lace in seg_tbl:
            partial[serial] += body[off : off + lace]
            off += lace
            if lace < 255:  # packet boundary
                st["packets"].append(bytes(partial[serial]))
                partial[serial] = bytearray()
    for serial, st in streams.items():
        if partial.get(serial):
            raise ValueError("Ogg stream ends mid-packet")
        if st["packets"]:
            st["codec"] = _identify(st["packets"][0])
    return streams


def _identify(bos: bytes) -> str:
    if bos[:5] == b"\x7fFLAC":
        return "flac"
    if bos[:7] == b"\x01vorbis":
        return "vorbis"
    if bos[:8] == b"OpusHead":
        return "opus"
    if bos[:7] == b"\x80theora":
        return "theora"
    if bos[:8] == b"Speex   ":
        return "speex"
    return "unknown"


def _flac_stream(st: dict) -> bytes:
    """Re-assemble a native FLAC stream from an Ogg-FLAC logical stream.

    First packet: 0x7F 'FLAC' major minor n_headers(BE16) 'fLaC'
    <STREAMINFO block>; the following n_headers packets are ordinary
    metadata blocks; every later packet is one frame. The last-metadata
    flag is recomputed so the re-assembly is always well-formed."""
    pkts = st["packets"]
    bos = pkts[0]
    if len(bos) < 13 or bos[:5] != b"\x7fFLAC":
        raise ValueError("not an Ogg-FLAC stream")
    major = bos[5]
    if major != 1:
        raise NotImplementedError(f"Ogg-FLAC mapping major version {major}")
    (n_headers,) = struct.unpack_from(">H", bos, 7)
    if bos[9:13] != b"fLaC":
        raise ValueError("Ogg-FLAC first packet missing fLaC signature")
    blocks = [bytearray(bos[13:])]  # STREAMINFO block (header + body)
    if len(blocks[0]) < 4:
        raise ValueError("Ogg-FLAC STREAMINFO truncated")
    if n_headers == 0:
        # the mapping allows 0 to mean "header count unknown": consume
        # packets while they look like metadata blocks (header type byte
        # 0-6 with optional last-flag; a FLAC frame always starts 0xFF —
        # type 127 is invalid, so the two are unambiguous)
        n_end = 1
        while (n_end < len(pkts) and pkts[n_end]
               and (pkts[n_end][0] & 0x7F) <= 6):
            n_end += 1
    else:
        n_end = 1 + n_headers
    for p in pkts[1:n_end]:
        if len(p) < 4:
            raise ValueError("Ogg-FLAC header packet truncated")
        blocks.append(bytearray(p))
    # recompute last-metadata-block flags: only the final block sets bit 7
    for b in blocks:
        b[0] &= 0x7F
    blocks[-1][0] |= 0x80
    frames = pkts[n_end:]
    return b"fLaC" + b"".join(bytes(b) for b in blocks) + b"".join(frames)


def _first_audio(streams: dict, want: set[str] | None = None) -> dict:
    for st in streams.values():
        if want is None or st["codec"] in want:
            return st
    raise ValueError("Ogg container has no matching stream")


def decode_ogg(data: bytes) -> np.ndarray:
    """Ogg → int16 mono samples. FLAC mapping decodes end-to-end through
    flac.decode_flac (MD5-armed); Vorbis/Opus/Speex raise the named
    codec seam."""
    streams = parse_ogg(data)
    flacs = [s for s in streams.values() if s["codec"] == "flac"]
    if flacs:
        from .flac import decode_flac, to_mono_int16

        s, _rate, bps = decode_flac(_flac_stream(flacs[0]))
        return to_mono_int16(s, bps)
    codecs = sorted({s["codec"] for s in streams.values()})
    raise NotImplementedError(
        f"Ogg codec(s) {codecs} require an external decoder (ffmpeg seam); "
        f"container demux succeeded with "
        f"{sum(len(s['packets']) for s in streams.values())} packets")


def ogg_metadata(data: bytes) -> dict:
    """Header-level metadata: codec, rate, channels from the BOS headers
    (no sample decode)."""
    streams = parse_ogg(data)
    st = _first_audio(streams, {"flac", "vorbis", "opus", "speex"}) \
        if streams else None
    if st is None:
        raise ValueError("empty Ogg container")
    codec = st["codec"]
    bos = st["packets"][0]
    rate = channels = bits = -1
    n_samples = -1
    if codec == "flac":
        # STREAMINFO rides at offset 13 + 4-byte block header
        body = bos[17:]
        if len(body) >= 18:
            bits20 = int.from_bytes(body[10:13], "big") >> 4
            rate = bits20
            channels = ((body[12] >> 1) & 0x07) + 1
            bits = (((body[12] & 1) << 4) | (body[13] >> 4)) + 1
            n_samples = int.from_bytes(body[13:18], "big") & ((1 << 36) - 1)
    elif codec == "vorbis":
        if len(bos) >= 28:
            channels = bos[11]
            (rate,) = struct.unpack_from("<I", bos, 12)
    elif codec == "opus":
        if len(bos) >= 19:
            channels = bos[9]
            (rate,) = struct.unpack_from("<I", bos, 12)  # input sample rate
        bits = -1
    elif codec == "speex":
        # speex_header_t: "Speex   "(8) speex_version(20) version_id(4)
        # header_size(4) → rate LE32 at 36; mode(4) mode_bitstream(4) →
        # nb_channels LE32 at 48
        if len(bos) >= 52:
            (rate,) = struct.unpack_from("<I", bos, 36)
            (channels,) = struct.unpack_from("<I", bos, 48)
    dur = (n_samples / rate) if (rate and rate > 0 and n_samples > 0) else -1.0
    return {"format": "ogg", "codec": codec, "sample_rate": int(rate),
            "channels": int(channels), "bits": int(bits),
            "n_samples": int(n_samples), "duration_s": float(dur)}


# --------------------------------------------------------------------------
# Fixture muxer
# --------------------------------------------------------------------------


def _page(serial: int, seq: int, htype: int, granule: int,
          packets: list[bytes]) -> bytes:
    """Build one page carrying the given whole packets (each < 255*255
    here; fixture-sized)."""
    seg_tbl = bytearray()
    body = bytearray()
    for p in packets:
        q, r = divmod(len(p), 255)
        seg_tbl += b"\xff" * q + bytes([r])
        body += p
    hdr = (b"OggS" + bytes([0, htype])
           + struct.pack("<qIII", granule, serial, seq, 0)
           + bytes([len(seg_tbl)]) + bytes(seg_tbl))
    page = bytearray(hdr + body)
    crc = _ogg_crc(bytes(page))
    page[22:26] = struct.pack("<I", crc)
    return bytes(page)


def encode_ogg_flac(samples: np.ndarray, sample_rate: int = 16000,
                    serial: int = 0x1234,
                    **flac_kwargs) -> bytes:
    """Mux a FLAC encoding of ``samples`` into an Ogg stream per the
    xiph mapping: BOS page with the 0x7F FLAC header packet, one header
    page with a minimal VORBIS_COMMENT, then the frame byte-stream as
    ONE packet spanning pages via 255-lacing continuation (the
    re-assembler concatenates packets, so this decodes identically to
    real frame-per-packet streams while exercising cross-page lacing)."""
    from .flac import encode_flac

    native = encode_flac(samples, sample_rate=sample_rate, **flac_kwargs)
    # split the native stream: 'fLaC' + metadata blocks + frames
    if native[:4] != b"fLaC":
        raise ValueError("encode_flac produced a non-FLAC stream")
    pos = 4
    blocks = []
    while True:
        hdr = native[pos]
        (ln,) = struct.unpack(">I", b"\x00" + native[pos + 1 : pos + 4])
        blocks.append(bytearray(native[pos : pos + 4 + ln]))
        pos += 4 + ln
        if hdr & 0x80:
            break
    frames = native[pos:]
    streaminfo = blocks[0]
    streaminfo[0] &= 0x7F  # more headers follow (the comment packet)
    cbody = struct.pack("<I", 4) + b"ogg0" + struct.pack("<I", 0)
    comment = b"\x84" + len(cbody).to_bytes(3, "big") + cbody
    n_headers = 1
    bos_pkt = (b"\x7fFLAC\x01\x00" + struct.pack(">H", n_headers)
               + b"fLaC" + bytes(streaminfo))
    pages = [_page(serial, 0, 0x02, 0, [bos_pkt]),
             _page(serial, 1, 0, 0, [comment])]
    seq = 2
    # the frame bytes ride as ONE packet (the re-assembler concatenates
    # packets, so frame-per-packet real streams decode identically); a
    # large packet spans pages via 255-lacing continuation — continued
    # pages carry header bit 0x01 and granule -1 per RFC 3533, the final
    # page sets EOS (0x04) and the stream granule
    remaining = frames
    first_page = True
    span = 255 * 254  # ≤254 full lacings + a terminator always fit a page
    while True:
        chunk = remaining[:span]
        remaining = remaining[span:]
        if remaining:
            # page of 254 full 255-lacings: the packet continues
            seg_tbl = b"\xff" * 254
            htype = 0x00 if first_page else 0x01
            granule = -1
        else:
            q, r = divmod(len(chunk), 255)
            seg_tbl = b"\xff" * q + bytes([r])
            htype = (0x00 if first_page else 0x01) | 0x04
            granule = len(samples)
        hdr = (b"OggS" + bytes([0, htype])
               + struct.pack("<qIII", granule, serial, seq, 0)
               + bytes([len(seg_tbl)]) + seg_tbl)
        page = bytearray(hdr + chunk)
        page[22:26] = struct.pack("<I", _ogg_crc(bytes(page)))
        pages.append(bytes(page))
        seq += 1
        first_page = False
        if not remaining:
            break
    return b"".join(pages)
