"""FLAC audio frame decode — pure-integer Python/NumPy (RFC 9639).

Closes the FLAC half of the compressed-essence boundary documented in
multimodal/media.py: WAV PCM was the only real sample decode; FLAC
payloads carried honest NULL pcm columns. This module decodes the
actual FLAC bitstream — no codec library:

* metadata block walk (STREAMINFO bitfields, skip the rest),
* frame headers (sync, UTF-8 coded frame number, all block-size /
  sample-rate / sample-size code forms, CRC-8 verified),
* subframe types CONSTANT, VERBATIM, FIXED (orders 0-4), and LPC
  (any order, signed quantized coefficients + arithmetic shift),
* Rice-coded residual partitions (4- and 5-bit parameter methods,
  escape-to-raw partitions, any partition order),
* wasted-bits-per-sample,
* stereo decorrelation (left/side, right/side, mid/side),
* frame CRC-16 verified.

Corrupt input (bad sync, failing CRC, reserved codes, truncation)
returns None — the module-wide refuse-loudly-or-null convention
(decode.py GIF/JPEG do the same). A STREAMINFO-only payload (no
frames) also returns None: there is no essence to decode.

Everything is integer arithmetic — FLAC is lossless and its predictor
math is defined on integers — so decode output is bit-identical
across hosts (no BLAS/libm involvement; see the fixture-determinism
note in CLAUDE.md).

Like the rest of multimodal/, this is CPython inner-loop code wrapped
by an Arrow-batched mapInPandas (media.decode_media): per-payload
cost is page-bounded and embarrassingly parallel; at 100 TB the lever
is partition sizing (maxPartitionBytes), not this loop.
"""

from __future__ import annotations

import numpy as np

_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}

_BLOCKSIZES = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
    13: 8192, 14: 16384, 15: 32768,
}

_RATES = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}

_SAMPLE_BITS = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}

# per-channel decoded-sample ceiling, whatever STREAMINFO declares
HARD_MAX = 1 << 24


class _Corrupt(Exception):
    pass


class _BitReader:
    """MSB-first bit reader over bytes, tracking the byte position so
    frame CRCs can be computed over the exact consumed span."""

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos  # byte index of the next unread byte
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.buf):
                raise _Corrupt("truncated")
            self.acc = (self.acc << 8) | self.buf[self.pos]
            self.pos += 1
            self.nbits += 8
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def sread(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >> (n - 1) else v

    def unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
            if q > 1 << 20:  # corrupt stream guard
                raise _Corrupt("unary runaway")
        return q

    def align(self) -> None:
        self.nbits = 0
        self.acc = 0


def crc8(data: bytes) -> int:
    """CRC-8, poly 0x07, init 0 (FLAC frame-header CRC)."""
    c = 0
    for b in data:
        c ^= b
        for _ in range(8):
            c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
    return c


def crc16(data: bytes) -> int:
    """CRC-16, poly 0x8005, init 0 (FLAC whole-frame CRC)."""
    c = 0
    for b in data:
        c ^= b << 8
        for _ in range(8):
            c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 else (c << 1) & 0xFFFF
    return c


def _read_utf8_number(r: _BitReader) -> int:
    """FLAC's extended-UTF-8 coded frame/sample number (1-7 bytes)."""
    b0 = r.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    while (b0 << n) & 0x80:
        n += 1
    if n < 2 or n > 7:
        raise _Corrupt("bad utf8 lead byte")
    v = b0 & (0x7F >> n)
    for _ in range(n - 1):
        c = r.read(8)
        if c & 0xC0 != 0x80:
            raise _Corrupt("bad utf8 continuation")
        v = (v << 6) | (c & 0x3F)
    return v


def _decode_residual(r: _BitReader, blocksize: int, order: int) -> list[int]:
    method = r.read(2)
    if method > 1:
        raise _Corrupt("reserved residual method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = r.read(4)
    nparts = 1 << porder
    # RFC 9639: predictor order strictly less than samples/partition
    # (== would leave the first partition with zero residuals)
    if blocksize % nparts or (blocksize >> porder) <= order:
        raise _Corrupt("bad partition order")
    out: list[int] = []
    for part in range(nparts):
        n = (blocksize >> porder) - (order if part == 0 else 0)
        param = r.read(pbits)
        if param == escape:
            raw = r.read(5)
            if raw:
                out.extend(r.sread(raw) for _ in range(n))
            else:
                out.extend([0] * n)
        else:
            for _ in range(n):
                q = r.unary()
                low = r.read(param) if param else 0
                v = (q << param) | low
                out.append((v >> 1) ^ -(v & 1))  # zigzag
    return out


def _decode_subframe(r: _BitReader, blocksize: int, sbits: int) -> list[int]:
    if r.read(1):
        raise _Corrupt("subframe pad bit set")
    ftype = r.read(6)
    wasted = 0
    if r.read(1):
        wasted = r.unary() + 1
    bits = sbits - wasted
    if bits <= 0:
        raise _Corrupt("wasted bits exceed sample size")

    if ftype == 0:  # CONSTANT
        out = [r.sread(bits)] * blocksize
    elif ftype == 1:  # VERBATIM
        out = [r.sread(bits) for _ in range(blocksize)]
    elif 8 <= ftype <= 12:  # FIXED, order 0-4
        order = ftype - 8
        out = [r.sread(bits) for _ in range(order)]
        res = _decode_residual(r, blocksize, order)
        coefs = _FIXED_COEFS[order]
        for i, e in enumerate(res):
            pred = sum(c * out[order + i - 1 - j] for j, c in enumerate(coefs))
            out.append(e + pred)
    elif ftype >= 32:  # LPC, order 1-32
        order = ftype - 31
        out = [r.sread(bits) for _ in range(order)]
        prec = r.read(4) + 1
        if prec == 16:
            raise _Corrupt("invalid lpc precision")
        shift = r.sread(5)
        if shift < 0:
            raise _Corrupt("negative lpc shift")
        coefs = [r.sread(prec) for _ in range(order)]
        res = _decode_residual(r, blocksize, order)
        for i, e in enumerate(res):
            pred = sum(
                c * out[order + i - 1 - j] for j, c in enumerate(coefs)
            ) >> shift
            out.append(e + pred)
    else:
        raise _Corrupt("reserved subframe type")

    if wasted:
        out = [v << wasted for v in out]
    return out


def decode_flac(payload: bytes) -> np.ndarray | None:
    """Decode a FLAC payload to (n_frames, channels) int16.

    Returns None for non-FLAC input, metadata-only streams (no audio
    frames), sample sizes above 16 bits (this pipeline's PCM feature
    columns are int16, same as the WAV path), and any corruption —
    bad sync, CRC-8/CRC-16 mismatch, reserved codes, truncation."""
    p = payload
    try:
        if p[:4] != b"fLaC" or len(p) < 8 or (p[4] & 0x7F) != 0:
            return None
        # metadata block walk
        i = 4
        st_rate = st_ch = st_bits = st_total = 0
        last = False
        while not last and i + 4 <= len(p):
            last = bool(p[i] & 0x80)
            btype = p[i] & 0x7F
            blen = int.from_bytes(p[i + 1 : i + 4], "big")
            body = p[i + 4 : i + 4 + blen]
            if btype == 0:
                if len(body) < 18:
                    return None
                packed = int.from_bytes(body[10:18], "big")
                st_rate = packed >> 44
                st_ch = ((packed >> 41) & 0x7) + 1
                st_bits = ((packed >> 36) & 0x1F) + 1
                st_total = packed & 0xFFFFFFFFF  # 36-bit total samples
            i += 4 + blen
        if not last or i > len(p) or st_ch == 0:
            return None
        if i == len(p):
            return None  # STREAMINFO only: no essence

        # Decoded-size bound (ADVICE r5): CONSTANT subframes and
        # zero-bit escape partitions expand ~3000x per frame, so a
        # tiny crafted payload (the input domain is web-crawl bytes)
        # could otherwise exhaust executor memory in these int lists.
        # A valid stream never exceeds STREAMINFO's total-samples
        # declaration, but that field is attacker-declared (up to
        # 2^36-1), so it only ever tightens the hard per-channel max
        # (~16.7M samples ≈ 6 min of 44.1 kHz — far above any
        # fixture, far below heap danger); 0 means unknown/streaming.
        max_samples = min(st_total or HARD_MAX, HARD_MAX)

        channels: list[list[int]] = [[] for _ in range(st_ch)]
        while i < len(p):
            frame_start = i
            r = _BitReader(p, i)
            if r.read(14) != 0b11111111111110:
                raise _Corrupt("lost frame sync")
            r.read(1)  # reserved
            r.read(1)  # blocking strategy
            bs_code = r.read(4)
            rate_code = r.read(4)
            ch_code = r.read(4)
            size_code = r.read(3)
            r.read(1)  # reserved
            _read_utf8_number(r)
            if bs_code == 0:
                raise _Corrupt("reserved block size code")
            elif bs_code == 6:
                blocksize = r.read(8) + 1
            elif bs_code == 7:
                blocksize = r.read(16) + 1
            else:
                blocksize = _BLOCKSIZES[bs_code]
            if rate_code == 12:
                r.read(8)
            elif rate_code in (13, 14):
                r.read(16)
            elif rate_code == 15:
                raise _Corrupt("invalid sample rate code")
            if len(channels[0]) + blocksize > max_samples:
                return None  # exceeds declared/bounded stream length
            if crc8(p[frame_start : r.pos]) != r.read(8):
                raise _Corrupt("frame header crc8 mismatch")

            bits = st_bits if size_code == 0 else _SAMPLE_BITS.get(size_code, 0)
            if not bits:
                raise _Corrupt("reserved sample size code")
            if bits > 16:
                return None  # out of this pipeline's int16 contract

            if ch_code <= 7:
                nch = ch_code + 1
                if nch != st_ch:
                    raise _Corrupt("channel count mismatch")
                subs = [
                    _decode_subframe(r, blocksize, bits) for _ in range(nch)
                ]
            elif ch_code in (8, 9, 10):
                if st_ch != 2:
                    raise _Corrupt("stereo decorrelation on non-stereo")
                side_first = ch_code == 9
                a = _decode_subframe(
                    r, blocksize, bits + (1 if side_first else 0)
                )
                b = _decode_subframe(
                    r, blocksize, bits + (0 if side_first else 1)
                )
                if ch_code == 8:  # left/side
                    subs = [a, [x - s for x, s in zip(a, b)]]
                elif ch_code == 9:  # side/right
                    subs = [[s + x for s, x in zip(a, b)], b]
                else:  # mid/side
                    left, right = [], []
                    for m, s in zip(a, b):
                        m2 = (m << 1) | (s & 1)
                        left.append((m2 + s) >> 1)
                        right.append((m2 - s) >> 1)
                    subs = [left, right]
            else:
                raise _Corrupt("reserved channel assignment")

            r.align()
            if crc16(p[frame_start : r.pos]) != int.from_bytes(
                p[r.pos : r.pos + 2], "big"
            ):
                raise _Corrupt("frame crc16 mismatch")
            i = r.pos + 2
            for c in range(st_ch):
                channels[c].extend(subs[c])

        arr = np.array(channels, dtype=np.int64).T
        if arr.size and (arr.max() > 32767 or arr.min() < -32768):
            return None  # corrupt predictor output outside int16
        return arr.astype(np.int16)
    except (_Corrupt, IndexError, KeyError, ValueError):
        return None
