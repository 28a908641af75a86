"""FLAC decode (+ fixture encoder) in pure numpy/stdlib.

Beyond-reference audio surface (the reference engine is image-only,
/root/reference/engine.py:46): FLAC is the dominant lossless codec in
audio training corpora, and being lossless it fits this repo's
exact-round-trip codec test strategy (PNG/JPEG/TIFF/BMP/GIF/WAV). The
format is fully public: the FLAC format specification (Xiph.Org /
RFC 9639) defines STREAMINFO, frame headers (UTF-8-coded frame numbers,
CRC-8), subframe types CONSTANT / VERBATIM / FIXED(0-4) / LPC(1-32),
Rice / Rice2 partitioned residuals with escape-to-raw, wasted bits,
the four stereo decorrelation modes, and the frame CRC-16.

Three independent integrity checks run on decode: header CRC-8, frame
CRC-16, and the STREAMINFO MD5 of the unencoded samples — so a mirrored
encoder/decoder bug cannot silently pass (the MD5 is computed over raw
little-endian sample bytes by stdlib hashlib, not by this module's
bit-level code). No product surface imports this module; it stays,
with ogg.py, until its deletion (see tests/test_surface_reach.py).
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}

_BLOCK_SIZE_CODES = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
    13: 8192, 14: 16384, 15: 32768,
}

_SAMPLE_SIZE_CODES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}

_MAX_TOTAL_SAMPLES = 1 << 26  # same stance as kernels.MAX_DECODE_PIXELS


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


class _Bits:
    """MSB-first bit reader with byte-position access for CRC spans."""

    def __init__(self, data: bytes, pos: int = 0):
        self.d = data
        self.bit = pos * 8

    @property
    def byte_pos(self) -> int:
        return self.bit >> 3

    def read(self, n: int) -> int:
        end = self.bit + n
        if end > len(self.d) * 8:
            raise ValueError("FLAC bitstream truncated")
        v = 0
        bit = self.bit
        d = self.d
        while n > 0:
            byte = d[bit >> 3]
            off = bit & 7
            take = min(8 - off, n)
            v = (v << take) | ((byte >> (8 - off - take)) & ((1 << take) - 1))
            bit += take
            n -= take
        self.bit = bit
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v & (1 << (n - 1)) else v

    def unary(self) -> int:
        n = 0
        while self.read(1) == 0:
            n += 1
            if n > 1 << 20:
                raise ValueError("FLAC unary run implausibly long")
        return n

    def align(self) -> None:
        self.bit = (self.bit + 7) & ~7


def _read_utf8_number(bits: _Bits) -> int:
    b0 = bits.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    mask = 0x40
    while b0 & mask:
        n += 1
        mask >>= 1
    if n < 1 or n > 6:
        raise ValueError("invalid FLAC UTF-8-coded number")
    v = b0 & (mask - 1)
    for _ in range(n):
        c = bits.read(8)
        if c & 0xC0 != 0x80:
            raise ValueError("invalid FLAC UTF-8-coded number")
        v = (v << 6) | (c & 0x3F)
    return v


def _read_residual(bits: _Bits, block_size: int, order: int) -> list[int]:
    method = bits.read(2)
    if method > 1:
        raise ValueError(f"reserved FLAC residual method {method}")
    plen = 4 if method == 0 else 5
    escape = (1 << plen) - 1
    porder = bits.read(4)
    nparts = 1 << porder
    if block_size % nparts:
        raise ValueError("FLAC partition order does not divide block size")
    out: list[int] = []
    for p in range(nparts):
        cnt = (block_size >> porder) - (order if p == 0 else 0)
        if cnt < 0:
            raise ValueError("FLAC predictor order exceeds first partition")
        param = bits.read(plen)
        if param == escape:
            raw = bits.read(5)
            if raw == 0:
                out.extend([0] * cnt)
            else:
                out.extend(bits.read_signed(raw) for _ in range(cnt))
        else:
            for _ in range(cnt):
                q = bits.unary()
                v = (q << param) | bits.read(param)
                out.append((v >> 1) ^ -(v & 1))
    return out


def _predict(warmup: list[int], residual: list[int], coefs: list[int],
             shift: int) -> list[int]:
    s = list(warmup)
    order = len(coefs)
    for r in residual:
        acc = 0
        for j, c in enumerate(coefs):
            acc += c * s[-1 - j]
        s.append(r + (acc >> shift))
    return s


def _read_subframe(bits: _Bits, block_size: int, bps: int) -> list[int]:
    if bits.read(1):
        raise ValueError("FLAC subframe padding bit set")
    typ = bits.read(6)
    wasted = 0
    if bits.read(1):
        wasted = bits.unary() + 1
    eff = bps - wasted
    if eff <= 0:
        raise ValueError("FLAC wasted bits exceed sample size")
    if typ == 0:  # CONSTANT
        s = [bits.read_signed(eff)] * block_size
    elif typ == 1:  # VERBATIM
        s = [bits.read_signed(eff) for _ in range(block_size)]
    elif 8 <= typ <= 12:  # FIXED
        order = typ & 7
        if order > block_size:
            raise ValueError("FLAC fixed order exceeds block size")
        warm = [bits.read_signed(eff) for _ in range(order)]
        res = _read_residual(bits, block_size, order)
        s = _predict(warm, res, _FIXED_COEFS[order], 0)
    elif typ >= 32:  # LPC
        order = (typ & 31) + 1
        if order > block_size:
            raise ValueError("FLAC LPC order exceeds block size")
        warm = [bits.read_signed(eff) for _ in range(order)]
        prec = bits.read(4)
        if prec == 15:
            raise ValueError("invalid FLAC LPC precision code")
        prec += 1
        shift = bits.read_signed(5)
        if shift < 0:
            raise ValueError("negative FLAC LPC shift")
        coefs = [bits.read_signed(prec) for _ in range(order)]
        res = _read_residual(bits, block_size, order)
        s = _predict(warm, res, coefs, shift)
    else:
        raise ValueError(f"reserved FLAC subframe type {typ}")
    if wasted:
        s = [v << wasted for v in s]
    return s


def decode_flac(data: bytes) -> tuple[np.ndarray, int, int]:
    """FLAC stream → ((n_samples, n_channels) int32, sample_rate, bps).

    Verifies header CRC-8, frame CRC-16 and (when present) the
    STREAMINFO MD5; any mismatch raises ValueError."""
    if data[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos = 4
    info = None
    try:
        while True:
            if pos + 4 > len(data):
                raise ValueError("FLAC metadata truncated")
            hdr = data[pos]
            (length,) = struct.unpack(">I", b"\x00" + data[pos + 1 : pos + 4])
            body = data[pos + 4 : pos + 4 + length]
            if len(body) < length:
                raise ValueError("FLAC metadata truncated")
            if hdr & 0x7F == 0:  # STREAMINFO
                if length < 34:
                    raise ValueError("FLAC STREAMINFO too short")
                b = _Bits(body)
                b.read(16), b.read(16), b.read(24), b.read(24)
                rate = b.read(20)
                n_ch = b.read(3) + 1
                bps = b.read(5) + 1
                total = b.read(36)
                md5 = body[18:34]
                info = (rate, n_ch, bps, total, md5)
            pos += 4 + length
            if hdr & 0x80:
                break
    except (struct.error, IndexError) as e:
        raise ValueError(f"corrupt FLAC metadata: {e}") from e
    if info is None:
        raise ValueError("FLAC missing STREAMINFO")
    rate, n_ch, bps, total, md5 = info
    if rate == 0 or total > _MAX_TOTAL_SAMPLES:
        raise ValueError("implausible FLAC STREAMINFO")
    chans: list[list[int]] = [[] for _ in range(n_ch)]
    while pos < len(data):
        bits = _Bits(data, pos)
        start = pos
        sync = bits.read(14)
        if sync != 0x3FFE:
            raise ValueError("bad FLAC frame sync")
        if bits.read(1):
            raise ValueError("FLAC frame reserved bit set")
        bits.read(1)  # blocking strategy
        bs_code = bits.read(4)
        sr_code = bits.read(4)
        ch_code = bits.read(4)
        ss_code = bits.read(3)
        if bits.read(1):
            raise ValueError("FLAC frame reserved bit set")
        _read_utf8_number(bits)
        if bs_code == 0:
            raise ValueError("reserved FLAC block size code")
        elif bs_code == 6:
            block_size = bits.read(8) + 1
        elif bs_code == 7:
            block_size = bits.read(16) + 1
        else:
            block_size = _BLOCK_SIZE_CODES[bs_code]
        if sr_code == 12:
            bits.read(8)
        elif sr_code in (13, 14):
            bits.read(16)
        elif sr_code == 15:
            raise ValueError("invalid FLAC sample rate code")
        if ss_code == 0:
            f_bps = bps
        elif ss_code == 3:
            raise ValueError("reserved FLAC sample size code")
        else:
            f_bps = _SAMPLE_SIZE_CODES[ss_code]
        crc8 = bits.read(8)
        if _crc8(data[start : bits.byte_pos - 1]) != crc8:
            raise ValueError("FLAC frame header CRC-8 mismatch")
        if ch_code < 8:
            f_nch = ch_code + 1
            if f_nch != n_ch:
                raise ValueError("FLAC frame channel count != STREAMINFO")
            sub = [_read_subframe(bits, block_size, f_bps) for _ in range(f_nch)]
        elif ch_code in (8, 9, 10):
            if n_ch != 2:
                raise ValueError("FLAC stereo decorrelation in non-stereo stream")
            a_extra = 1 if ch_code == 9 else 0
            b_extra = 1 if ch_code in (8, 10) else 0
            c0 = _read_subframe(bits, block_size, f_bps + a_extra)
            c1 = _read_subframe(bits, block_size, f_bps + b_extra)
            if ch_code == 8:  # left/side
                sub = [c0, [l - s for l, s in zip(c0, c1)]]
            elif ch_code == 9:  # side/right
                sub = [[r + s for s, r in zip(c0, c1)], c1]
            else:  # mid/side
                left, right = [], []
                for m, s in zip(c0, c1):
                    m = (m << 1) | (s & 1)
                    left.append((m + s) >> 1)
                    right.append((m - s) >> 1)
                sub = [left, right]
        else:
            raise ValueError(f"reserved FLAC channel assignment {ch_code}")
        bits.align()
        crc16 = bits.read(16)
        if _crc16(data[start : bits.byte_pos - 2]) != crc16:
            raise ValueError("FLAC frame CRC-16 mismatch")
        for c, s in zip(chans, sub):
            c.extend(s)
        pos = bits.byte_pos
        if total and len(chans[0]) >= total:
            break
    if total and len(chans[0]) < total:
        raise ValueError("FLAC stream ends before STREAMINFO total samples")
    out = np.array(chans, np.int64).T
    if total:
        out = out[:total]
    lo, hi = -(1 << (bps - 1)), (1 << (bps - 1)) - 1
    if out.size and (out.min() < lo or out.max() > hi):
        raise ValueError("FLAC sample outside its declared bit depth")
    out = out.astype(np.int32)
    if md5 != b"\x00" * 16 and bps % 8 == 0:
        if hashlib.md5(_sample_bytes(out, bps)).digest() != md5:
            raise ValueError("FLAC MD5 signature mismatch")
    return out, rate, bps


def to_mono_int16(s: np.ndarray, bps: int) -> np.ndarray:
    """(n, ch) int32 decoded samples → int16 mono: channel mean, then the
    declared-depth shift to 16 bits. The downmix Ogg-FLAC
    (ogg.decode_ogg) applies to the native FLAC decode."""
    mono = (s.mean(axis=1) if s.shape[1] > 1 else s[:, 0]).astype(np.int64)
    if bps > 16:
        mono >>= bps - 16  # reduce to int16 by declared depth
    elif bps < 16:
        mono <<= 16 - bps
    return mono.astype(np.int16)


def _sample_bytes(samples: np.ndarray, bps: int) -> bytes:
    """Channel-interleaved little-endian signed sample bytes — the byte
    stream the STREAMINFO MD5 is defined over (byte-aligned bps only)."""
    inter = samples.reshape(-1).astype(np.int64)
    nbytes = bps // 8
    b = np.empty((len(inter), nbytes), np.uint8)
    for i in range(nbytes):
        b[:, i] = (inter >> (8 * i)) & 0xFF
    return b.tobytes()


# --------------------------------------------------------------------------
# Fixture encoder
# --------------------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, v: int, bits: int) -> None:
        self.acc = (self.acc << bits) | (v & ((1 << bits) - 1))
        self.n += bits
        while self.n >= 8:
            self.n -= 8
            self.out.append((self.acc >> self.n) & 0xFF)
        self.acc &= (1 << self.n) - 1

    def unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self.n:
            self.write(0, 8 - self.n)

    def bytes(self) -> bytes:
        assert self.n == 0
        return bytes(self.out)


def _utf8_number(n: int) -> bytes:
    if n < 0x80:
        return bytes([n])
    bits = n.bit_length()
    nbytes = 2
    # capacity of an nbytes-long sequence: 6*(nbytes-1) continuation bits
    # plus (7-nbytes) bits in the lead byte
    while 6 * (nbytes - 1) + (7 - nbytes) < bits:
        nbytes += 1
    tail = []
    for _ in range(nbytes - 1):
        tail.append(0x80 | (n & 0x3F))
        n >>= 6
    lead = ((0xFF << (8 - nbytes)) & 0xFF) | n
    return bytes([lead] + tail[::-1])


def _rice_param(res: list[int]) -> int:
    if not res:
        return 0
    mean = sum((v << 1) ^ (v >> 63) if v < 0 else v << 1 for v in res) / len(res)
    k = 0
    while (1 << k) < mean and k < 14:
        k += 1
    return k


def _write_residual(w: _BitWriter, res: list[int]) -> None:
    w.write(0, 2)  # 4-bit rice
    w.write(0, 4)  # partition order 0
    param = _rice_param(res)
    w.write(param, 4)
    for v in res:
        u = (v << 1) ^ (v >> 63) if v < 0 else v << 1
        w.unary(u >> param)
        w.write(u & ((1 << param) - 1), param)


def _encode_subframe(w: _BitWriter, s: list[int], bps: int,
                     mode: str, wasted: int) -> None:
    if wasted:
        if any(v & ((1 << wasted) - 1) for v in s):
            raise ValueError("wasted-bits fixture requires low-zero samples")
        s = [v >> wasted for v in s]
    eff = bps - wasted
    n = len(s)
    if mode == "constant" and len(set(s)) == 1:
        typ = 0
    elif mode == "verbatim":
        typ = 1
    elif mode.startswith("fixed"):
        typ = 8 + int(mode[-1])
    elif mode == "lpc2":
        typ = 32 + 1  # order 2 → type 33
    else:
        typ = 1
    w.write(0, 1)
    w.write(typ, 6)
    if wasted:
        w.write(1, 1)
        w.unary(wasted - 1)
    else:
        w.write(0, 1)
    if typ == 0:
        w.write(s[0] & ((1 << eff) - 1), eff)
    elif typ == 1:
        for v in s:
            w.write(v & ((1 << eff) - 1), eff)
    elif 8 <= typ <= 12:
        order = typ & 7
        if order > n:
            raise ValueError("fixed order exceeds block size")
        coefs = _FIXED_COEFS[order]
        for v in s[:order]:
            w.write(v & ((1 << eff) - 1), eff)
        res = []
        for i in range(order, n):
            pred = sum(c * s[i - 1 - j] for j, c in enumerate(coefs))
            res.append(s[i] - pred)
        _write_residual(w, res)
    else:  # lpc2: order-2 LPC with coefs [4,-2] >> 1 == fixed order 2
        order, prec, shift, coefs = 2, 5, 1, [4, -2]
        for v in s[:order]:
            w.write(v & ((1 << eff) - 1), eff)
        w.write(prec - 1, 4)
        w.write(shift & 0x1F, 5)
        for c in coefs:
            w.write(c & ((1 << prec) - 1), prec)
        res = []
        for i in range(order, n):
            pred = sum(c * s[i - 1 - j] for j, c in enumerate(coefs)) >> shift
            res.append(s[i] - pred)
        _write_residual(w, res)


def encode_flac(
    samples: np.ndarray,
    sample_rate: int = 16000,
    bps: int = 16,
    block_size: int = 4096,
    mode: str = "fixed2",
    channel_mode: str = "independent",
    wasted: int = 0,
) -> bytes:
    """Fixture-side FLAC writer. ``samples`` is (n,) or (n, ch) ints that
    fit ``bps``. mode: constant|verbatim|fixed0..fixed4|lpc2; channel_mode
    (stereo only): independent|left_side|right_side|mid_side. Lossless:
    decode_flac(encode_flac(x)) == x exactly, and the STREAMINFO MD5 is
    computed so the decoder's independent hash check is armed."""
    s = np.asarray(samples, np.int64)
    if s.ndim == 1:
        s = s[:, None]
    n, n_ch = s.shape
    if channel_mode != "independent" and n_ch != 2:
        raise ValueError("stereo decorrelation needs 2 channels")
    w_all = bytearray(b"fLaC")
    info = _BitWriter()
    info.write(block_size, 16)
    info.write(block_size, 16)
    info.write(0, 24)
    info.write(0, 24)
    info.write(sample_rate, 20)
    info.write(n_ch - 1, 3)
    info.write(bps - 1, 5)
    info.write(n, 36)
    body = info.bytes() + (
        hashlib.md5(_sample_bytes(s.astype(np.int32), bps)).digest()
        if bps % 8 == 0 else b"\x00" * 16
    )
    w_all += bytes([0x80]) + len(body).to_bytes(3, "big") + body
    ch_codes = {"independent": n_ch - 1, "left_side": 8, "right_side": 9,
                "mid_side": 10}
    for fi, off in enumerate(range(0, max(n, 1), block_size)):
        blk = s[off : off + block_size]
        bs = len(blk)
        w = _BitWriter()
        w.write(0x3FFE, 14)
        w.write(0, 1)
        w.write(0, 1)  # fixed blocksize strategy
        if bs == block_size and block_size in _BLOCK_SIZE_CODES.values():
            bs_code = next(k for k, v in _BLOCK_SIZE_CODES.items() if v == block_size)
            bs_tail = None
        elif bs <= 256:
            bs_code, bs_tail = 6, (bs - 1, 8)
        else:
            bs_code, bs_tail = 7, (bs - 1, 16)
        w.write(bs_code, 4)
        w.write(0, 4)  # sample rate from STREAMINFO
        w.write(ch_codes[channel_mode], 4)
        w.write(0, 3)  # sample size from STREAMINFO
        w.write(0, 1)
        for byte in _utf8_number(fi):
            w.write(byte, 8)
        if bs_tail:
            w.write(*bs_tail)
        assert w.n == 0, "frame header must be byte-aligned before CRC"
        w.write(_crc8(bytes(w.out)), 8)
        if channel_mode == "independent":
            for c in range(n_ch):
                _encode_subframe(w, blk[:, c].tolist(), bps, mode, wasted)
        else:
            left, right = blk[:, 0].tolist(), blk[:, 1].tolist()
            side = [l - r for l, r in zip(left, right)]
            if channel_mode == "left_side":
                _encode_subframe(w, left, bps, mode, wasted)
                _encode_subframe(w, side, bps + 1, mode, 0)
            elif channel_mode == "right_side":
                _encode_subframe(w, side, bps + 1, mode, 0)
                _encode_subframe(w, right, bps, mode, wasted)
            else:
                mid = [(l + r) >> 1 for l, r in zip(left, right)]
                _encode_subframe(w, mid, bps, mode, wasted)
                _encode_subframe(w, side, bps + 1, mode, 0)
        w.align()
        w.write(_crc16(bytes(w.out)), 16)
        w_all += w.bytes()
    return bytes(w_all)
