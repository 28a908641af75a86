"""MP4 / ISO-BMFF demux (+ fixture muxer) in pure stdlib.

Beyond-reference video-container surface: the ISO base media file format
(ISO/IEC 14496-12, public spec) is the container behind .mp4/.mov/.m4a.
This module implements the DEMUX layer for real — box tree walk,
trak→mdia→minf→stbl sample tables (stsd codec entry, stsc
chunk-mapping runs, stsz sizes, stco/co64 chunk offsets). No product
surface imports this module (see tests/test_surface_reach.py). Two sample
entries decode end-to-end: the private 'synf' entry (raw SYNF frame per
sample, structurally a legal ISO-BMFF SampleEntry) and QuickTime
Photo-JPEG ('jpeg' — every sample is a complete baseline JPEG, routed
through the repo's own T.81 decoder with Annex K tables injected when a
frame omits DHT, the Motion-JPEG convention). Inter-frame codecs
(avc1/hvc1/mp4a and the field-split 'mjpa'/'mjpb') stay the loud
NotImplementedError seam naming the codec (ffmpeg territory, same
policy as mp3).
"""

from __future__ import annotations

import struct

_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}

#: codec fourccs we can decode sample payloads for (raw frame per sample)
_RAW_CODECS = {b"synf"}

#: Motion-JPEG sample entries where every sample is a whole baseline JPEG
#: ('jpeg' = QuickTime Photo JPEG). 'mjpa'/'mjpb' interleave fields with a
#: private header and are NOT plain JPEG — they stay loud seams.
_JPEG_CODECS = {b"jpeg"}


def _boxes(data: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for each box in [start, end)."""
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise ValueError("mp4 box header truncated")
        (size,) = struct.unpack_from(">I", data, pos)
        typ = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("mp4 largesize truncated")
            (size,) = struct.unpack_from(">Q", data, pos + 8)
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < body - pos or pos + size > end:
            raise ValueError(f"mp4 box {typ!r} size out of bounds")
        yield typ, body, pos + size
        pos += size


def _find(data: bytes, start: int, end: int, typ: bytes):
    for t, b, e in _boxes(data, start, end):
        if t == typ:
            return b, e
    return None


class Mp4Track:
    def __init__(self, handler: bytes, codec: bytes, samples: list[tuple[int, int]]):
        self.handler = handler  # b'vide' / b'soun' / ...
        self.codec = codec  # sample entry fourcc
        self.samples = samples  # (file_offset, size) per sample


def _parse_stbl(data: bytes, start: int, end: int) -> tuple[bytes, list[tuple[int, int]]]:
    codec = b"????"
    sizes: list[int] = []
    chunk_offsets: list[int] = []
    stsc: list[tuple[int, int]] = []  # (first_chunk, samples_per_chunk)
    try:
        for t, b, e in _boxes(data, start, end):
            if t == b"stsd":
                (count,) = struct.unpack_from(">I", data, b + 4)
                if count >= 1:
                    codec = data[b + 12 : b + 16]
            elif t == b"stsz":
                uniform, n = struct.unpack_from(">II", data, b + 4)
                if uniform:
                    sizes = [uniform] * n
                else:
                    if b + 12 + 4 * n > e:
                        raise ValueError("stsz table truncated")
                    sizes = list(struct.unpack_from(f">{n}I", data, b + 12))
            elif t == b"stsc":
                (n,) = struct.unpack_from(">I", data, b + 4)
                if b + 8 + 12 * n > e:
                    raise ValueError("stsc table truncated")
                for i in range(n):
                    first, spc, _desc = struct.unpack_from(">III", data, b + 8 + 12 * i)
                    stsc.append((first, spc))
            elif t == b"stco":
                (n,) = struct.unpack_from(">I", data, b + 4)
                if b + 8 + 4 * n > e:
                    raise ValueError("stco table truncated")
                chunk_offsets = list(struct.unpack_from(f">{n}I", data, b + 8))
            elif t == b"co64":
                (n,) = struct.unpack_from(">I", data, b + 4)
                if b + 8 + 8 * n > e:
                    raise ValueError("co64 table truncated")
                chunk_offsets = list(struct.unpack_from(f">{n}Q", data, b + 8))
    except struct.error as exc:
        raise ValueError(f"corrupt mp4 sample table: {exc}") from exc
    if not sizes or not chunk_offsets or not stsc:
        raise ValueError("mp4 track missing stsz/stco/stsc")
    # expand the stsc run-length chunk map over the real chunk list
    if stsc[0][0] != 1 or any(
        stsc[i][0] >= stsc[i + 1][0] for i in range(len(stsc) - 1)
    ):
        raise ValueError("mp4 stsc first_chunk sequence invalid")
    samples: list[tuple[int, int]] = []
    si = 0
    run = 0
    for ci, off in enumerate(chunk_offsets, start=1):
        while run + 1 < len(stsc) and stsc[run + 1][0] <= ci:
            run += 1
        spc = stsc[run][1]
        pos = off
        for _ in range(spc):
            if si >= len(sizes):
                break
            samples.append((pos, sizes[si]))
            pos += sizes[si]
            si += 1
    if si < len(sizes):
        raise ValueError("mp4 chunk map covers fewer samples than stsz")
    return codec, samples


def parse_mp4(data: bytes) -> list[Mp4Track]:
    """Walk the box tree and return every track with resolved per-sample
    (offset, size) locations."""
    if len(data) < 12 or data[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF (mp4) file")
    moov = _find(data, 0, len(data), b"moov")
    if moov is None:
        raise ValueError("mp4 missing moov box")
    tracks: list[Mp4Track] = []
    for t, b, e in _boxes(data, *moov):
        if t != b"trak":
            continue
        mdia = _find(data, b, e, b"mdia")
        if mdia is None:
            raise ValueError("mp4 trak missing mdia")
        hdlr = _find(data, *mdia, b"hdlr")
        handler = data[hdlr[0] + 8 : hdlr[0] + 12] if hdlr else b"????"
        minf = _find(data, *mdia, b"minf")
        if minf is None:
            raise ValueError("mp4 mdia missing minf")
        stbl = _find(data, *minf, b"stbl")
        if stbl is None:
            raise ValueError("mp4 minf missing stbl")
        codec, samples = _parse_stbl(data, *stbl)
        for off, size in samples:
            if off + size > len(data):
                raise ValueError("mp4 sample extends past end of file")
        tracks.append(Mp4Track(handler, codec, samples))
    if not tracks:
        raise ValueError("mp4 contains no tracks")
    return tracks


def mp4_metadata(data: bytes) -> dict:
    """Header-level container metadata without touching sample payloads:
    movie duration from mvhd (version 0: 32-bit timescale/duration at body
    offsets 12/16; version 1: 64-bit at 20/28 — ISO/IEC 14496-12 8.2.2) plus
    per-track handler/codec/sample counts from the already-parsed sample
    tables. Codec DECODE stays the NotImplementedError seam."""
    tracks = parse_mp4(data)
    moov = _find(data, 0, len(data), b"moov")
    mvhd = _find(data, *moov, b"mvhd")
    timescale = duration = 0
    if mvhd is not None:
        b = mvhd[0]
        version = data[b]
        if version == 1:
            timescale = struct.unpack_from(">I", data, b + 20)[0]
            duration = struct.unpack_from(">Q", data, b + 24)[0]
        else:
            timescale, duration = struct.unpack_from(">II", data, b + 12)
    return {
        "n_tracks": len(tracks),
        "duration_s": (duration / timescale) if timescale else -1.0,
        "tracks": [
            {
                "handler": t.handler.decode("latin-1"),
                "codec": t.codec.decode("latin-1"),
                "n_samples": len(t.samples),
            }
            for t in tracks
        ],
    }


def mp4_frame_payloads(data: bytes) -> list[bytes]:
    """Extract the video track's sample payloads as decodable frames.

    Raw 'synf' sample entries return their SYNF bytes; Photo-JPEG 'jpeg'
    entries return each sample as a standalone JPEG (Annex K tables
    injected when the frame omits DHT — the Motion-JPEG convention);
    inter-frame codecs (avc1/h264, hvc1, mp4a/aac, mjpa/mjpb ...) raise
    NotImplementedError naming the codec — the demux is real, the
    bitstream decoder is the seam."""
    tracks = parse_mp4(data)
    vide = [t for t in tracks if t.handler == b"vide"] or tracks
    track = vide[0]
    if track.codec in _JPEG_CODECS:
        from .jpeg import ensure_jpeg_tables

        return [
            ensure_jpeg_tables(data[off : off + size])
            for off, size in track.samples
        ]
    if track.codec not in _RAW_CODECS:
        raise NotImplementedError(
            f"mp4 codec {track.codec.decode('ascii', 'replace')!r} requires "
            "an external decoder (ffmpeg seam); container demux succeeded "
            f"with {len(track.samples)} samples"
        )
    return [data[off : off + size] for off, size in track.samples]


# --------------------------------------------------------------------------
# Fixture muxer
# --------------------------------------------------------------------------


def _box(typ: bytes, *parts: bytes) -> bytes:
    body = b"".join(parts)
    return struct.pack(">I", 8 + len(body)) + typ + body


def encode_mp4(
    frames: list[bytes],
    codec: bytes = b"synf",
    chunk_sizes: list[int] | None = None,
    use_co64: bool = False,
) -> bytes:
    """Fixture-side ISO-BMFF muxer: one video track whose samples are the
    given frame payloads. ``chunk_sizes`` controls how many samples land
    in each chunk (default: pairs) so stsc gets real run-length variety;
    ``use_co64`` writes 64-bit chunk offsets."""
    if chunk_sizes is None:
        chunk_sizes = [2] * (len(frames) // 2) + ([1] if len(frames) % 2 else [])
    if sum(chunk_sizes) != len(frames):
        raise ValueError("chunk_sizes must cover all frames")
    ftyp = _box(b"ftyp", b"isom", struct.pack(">I", 512), b"isomiso2")
    # lay out mdat: chunks are contiguous runs of samples
    mdat_body = b"".join(frames)
    mdat_off = len(ftyp) + 8  # mdat header is 8 bytes
    # chunk offsets into the file
    offsets = []
    pos = mdat_off
    fi = 0
    for cs in chunk_sizes:
        offsets.append(pos)
        for _ in range(cs):
            pos += len(frames[fi])
            fi += 1
    mdat = _box(b"mdat", mdat_body)
    # stsc runs: RLE over chunk_sizes
    stsc_entries = []
    for ci, cs in enumerate(chunk_sizes, start=1):
        if not stsc_entries or stsc_entries[-1][1] != cs:
            stsc_entries.append((ci, cs))
    stsd = _box(
        b"stsd",
        struct.pack(">II", 0, 1),
        _box(codec, b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 70),
    )
    stts = _box(b"stts", struct.pack(">III I", 0, 1, len(frames), 1))
    stsc = _box(
        b"stsc",
        struct.pack(">II", 0, len(stsc_entries)),
        b"".join(struct.pack(">III", fc, spc, 1) for fc, spc in stsc_entries),
    )
    stsz = _box(
        b"stsz",
        struct.pack(">III", 0, 0, len(frames)),
        b"".join(struct.pack(">I", len(f)) for f in frames),
    )
    if use_co64:
        stco = _box(
            b"co64",
            struct.pack(">II", 0, len(offsets)),
            b"".join(struct.pack(">Q", o) for o in offsets),
        )
    else:
        stco = _box(
            b"stco",
            struct.pack(">II", 0, len(offsets)),
            b"".join(struct.pack(">I", o) for o in offsets),
        )
    stbl = _box(b"stbl", stsd, stts, stsc, stsz, stco)
    minf = _box(b"minf", _box(b"vmhd", struct.pack(">I", 1) + b"\x00" * 8), stbl)
    hdlr = _box(b"hdlr", struct.pack(">II", 0, 0), b"vide", b"\x00" * 12, b"demux\x00")
    mdia = _box(
        b"mdia",
        _box(b"mdhd", struct.pack(">IIIII H H", 0, 0, 0, 1000, len(frames), 0x55C4, 0)),
        hdlr,
        minf,
    )
    tkhd = _box(b"tkhd", struct.pack(">III", 7, 0, 0), b"\x00" * 72)
    trak = _box(b"trak", tkhd, mdia)
    mvhd = _box(b"mvhd", struct.pack(">IIIII", 0, 0, 0, 1000, len(frames)), b"\x00" * 80)
    moov = _box(b"moov", mvhd, trak)
    return ftyp + mdat + moov
