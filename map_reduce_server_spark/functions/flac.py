"""Pure-stdlib FLAC codec (mono, 16-bit, single fixed-blocksize frame):
the predictive compression family of the multimodal decode surface.

Everything is from the public FLAC format specification:

- ``fLaC`` marker + STREAMINFO metadata block (including the real
  MD5 of the unencoded little-endian sample stream — the decoder
  verifies it, so corruption anywhere surfaces);
- frame header with the 14-bit sync code, UTF-8-style coded frame
  number, 8-bit block-size-minus-1 escape, CRC-8 (poly 0x07);
- one FIXED subframe: warm-up samples verbatim, order 0-4
  polynomial predictors (the encoder picks the order with the
  smallest total residual magnitude), residuals Rice-coded
  (method 00, partition order 0, zigzag mapping, unary = q zero
  bits then a one bit) with the exactly-optimal 4-bit parameter;
- byte-alignment padding + frame CRC-16 (poly 0x8005, init 0).

Kernels: both CRCs are 256-entry table CRCs; the bit reader takes the
bytes that cover each field in one slice and finds a unary run's end a
byte at a time; the writer drains whole bytes and writes each Rice code
in one call. ``tests/test_codec_kernels.py`` checks the CRCs and the
reader against bit-by-bit definitions, and pins encoder and decoder
output by SHA-256 digest.

FLAC is lossless, so decode(encode(x)) == x bit-exactly, which lets the
decode query's DuckDB oracle recompute every sample from the md5 hex.
"""

from __future__ import annotations

import hashlib
import struct

_BPS = 16
_FIXED_COEFFS = {
    0: (),
    1: (1,),
    2: (2, -1),
    3: (3, -3, 1),
    4: (4, -6, 4, -1),
}


def _crc_table(poly: int, width: int) -> tuple[int, ...]:
    """256-entry table for an MSB-first CRC: entry b is the register
    after shifting byte b through it from a zero state."""
    top, mask = 1 << (width - 1), (1 << width) - 1
    table = []
    for b in range(256):
        crc = b << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly if crc & top else crc << 1) & mask
        table.append(crc)
    return tuple(table)


_CRC8 = _crc_table(0x07, 8)
_CRC16 = _crc_table(0x8005, 16)


def _crc8(data: bytes) -> int:
    """CRC-8, polynomial x^8+x^2+x+1 (0x07), init 0 — the FLAC frame
    header CRC. Known vector: crc8(b'123456789') == 0xF4."""
    crc = 0
    for b in data:
        crc = _CRC8[crc ^ b]
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16, polynomial 0x8005, init 0, unreflected — the FLAC
    whole-frame CRC. Known vector: crc16(b'123456789') == 0xFEE8."""
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFF) ^ _CRC16[(crc >> 8) ^ b]
    return crc


class _BitWriter:
    """MSB-first bit packer (FLAC bit order): bits gather in an
    integer window that drains to whole bytes."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, bits: int) -> None:
        self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        self.nbits += bits
        if self.nbits >= 8:
            k = self.nbits >> 3
            self.nbits &= 7
            self.buf += (self.acc >> self.nbits).to_bytes(k, "big")
            self.acc &= (1 << self.nbits) - 1

    def write_rice(self, u: int, r: int) -> None:
        """Rice code of ``u``: unary quotient (q zero bits, then a one
        bit) followed by the low ``r`` bits."""
        q = u >> r
        self.write((1 << r) | (u & ((1 << r) - 1)), q + 1 + r)

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.buf)


class _BitReader:
    """MSB-first bit reader. Each read takes the bytes that cover the
    requested bits in one slice instead of walking bit by bit;
    ``pos`` counts bits from the start of ``data``."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos * 8

    @property
    def byte(self) -> int:
        return self.pos >> 3

    def read(self, bits: int) -> int:
        start = self.pos
        end = start + bits
        if end > len(self.data) << 3:
            raise ValueError("flac: bitstream truncated")
        self.pos = end
        window = int.from_bytes(self.data[start >> 3 : (end + 7) >> 3], "big")
        return (window >> (-end & 7)) & ((1 << bits) - 1)

    def read_signed(self, bits: int) -> int:
        v = self.read(bits)
        return v - (1 << bits) if v >= (1 << (bits - 1)) else v

    def read_unary(self) -> int:
        data = self.data
        pos = self.pos
        q = 0
        while True:
            i = pos >> 3
            if i >= len(data):
                raise ValueError("flac: bitstream truncated")
            off = pos & 7
            rest = data[i] & (0xFF >> off)  # this byte's unread bits
            if rest:
                zeros = 8 - off - rest.bit_length()
                self.pos = pos + zeros + 1
                return q + zeros
            q += 8 - off
            pos += 8 - off

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


def _residuals(samples: list[int], order: int) -> list[int]:
    """Sample i minus the FIXED predictor's estimate, i = order .. n-1:
    each coefficient times its lagged copy of the signal is subtracted
    in turn."""
    n = len(samples)
    res = samples[order:]
    for j, c in enumerate(_FIXED_COEFFS[order]):
        lagged = samples[order - 1 - j : n - 1 - j]
        res = [r - c * x for r, x in zip(res, lagged)]
    return res


def _zigzag(e: int) -> int:
    return (e << 1) if e >= 0 else (-(e << 1) - 1)


def _rice_cost(us: list[int], r: int) -> int:
    """Bits to Rice-code the zigzagged residuals ``us`` at parameter r."""
    return sum(u >> r for u in us) + (1 + r) * len(us)


def encode_s16(samples: list[int], rate: int) -> bytes:
    """Encode mono 16-bit samples as a FLAC file: one fixed-blocksize
    frame, FIXED subframe with the best order-0..4 predictor and the
    exactly-optimal Rice parameter."""
    n = len(samples)
    if not 16 <= n <= 65535:
        raise ValueError("flac: block size must be in [16, 65535]")
    if any(not -32768 <= s <= 32767 for s in samples):
        raise ValueError("flac: samples out of int16 range")
    if not 0 < rate < (1 << 20):
        # the STREAMINFO field is 20 bits; an unchecked rate would
        # truncate silently and decode cleanly to the wrong value
        raise ValueError(f"flac: sample rate {rate} not in (0, 2^20)")

    # --- STREAMINFO ---
    raw = struct.pack(f"<{n}h", *samples)
    md5 = hashlib.md5(raw).digest()
    info = _BitWriter()
    info.write(n, 16)  # min block size
    info.write(n, 16)  # max block size
    info.write(0, 24)  # min frame size (unknown)
    info.write(0, 24)  # max frame size (unknown)
    info.write(rate, 20)
    info.write(0, 3)  # channels - 1
    info.write(_BPS - 1, 5)
    info.write(n, 36)  # total samples
    out = bytearray(b"fLaC")
    out += bytes([0x80, 0, 0, 34])  # last-block flag | STREAMINFO, len
    out += info.bytes() + md5

    # --- frame header ---
    hdr = _BitWriter()
    hdr.write(0b11111111111110, 14)  # sync
    hdr.write(0, 1)  # reserved
    hdr.write(0, 1)  # fixed-blocksize stream
    # block size: (n-1) escaped at header end — 8-bit when it fits
    hdr.write(0b0110 if n <= 256 else 0b0111, 4)
    hdr.write(0b0000, 4)  # sample rate: from STREAMINFO
    hdr.write(0, 4)  # channel assignment: mono
    hdr.write(0b100, 3)  # sample size: 16 bits
    hdr.write(0, 1)  # reserved
    hdr.write(0, 8)  # coded frame number 0 (UTF-8 single byte)
    hdr.write(n - 1, 8 if n <= 256 else 16)  # the escaped block size
    hdr_bytes = hdr.bytes()

    # --- FIXED subframe: pick the order with least residual mass ---
    res_by_order = {o: _residuals(samples, o) for o in range(5)}
    best_order = min(
        range(5), key=lambda o: sum(map(abs, res_by_order[o]))
    )
    us = [_zigzag(e) for e in res_by_order[best_order]]
    best_r = min(range(15), key=lambda r: _rice_cost(us, r))

    body = _BitWriter()
    for b in hdr_bytes:
        body.write(b, 8)
    body.write(_crc8(hdr_bytes), 8)
    body.write(0, 1)  # subframe header: zero pad
    body.write(0b001000 | best_order, 6)  # FIXED, order
    body.write(0, 1)  # no wasted bits
    for s in samples[:best_order]:  # warm-up, verbatim
        body.write(s & 0xFFFF, _BPS)
    body.write(0b00, 2)  # residual method: 4-bit Rice
    body.write(0, 4)  # partition order 0
    body.write(best_r, 4)
    for u in us:
        body.write_rice(u, best_r)
    body.align()
    frame = body.bytes()
    out += frame + struct.pack(">H", _crc16(frame))
    return bytes(out)


def decode_s16(data: bytes) -> tuple[int, list[int]]:
    """Decode a FLAC file produced by :func:`encode_s16` (mono,
    16-bit, one FIXED-subframe frame): returns (rate, samples).
    Verifies the frame header CRC-8, the frame CRC-16, and the
    STREAMINFO audio MD5."""
    if data[:4] != b"fLaC":
        raise ValueError("flac: bad marker")
    pos = 4
    info = None
    while True:  # metadata blocks
        if pos + 4 > len(data):
            raise ValueError("flac: truncated metadata")
        head = data[pos]
        length = int.from_bytes(data[pos + 1 : pos + 4], "big")
        if head & 0x7F == 0:  # STREAMINFO
            info = data[pos + 4 : pos + 4 + length]
        pos += 4 + length
        if head & 0x80:
            break
    if info is None or len(info) != 34:
        raise ValueError("flac: missing STREAMINFO")
    ir = _BitReader(info)
    ir.read(16)  # min block size
    ir.read(16)  # max block size
    ir.read(48)  # min/max frame size
    rate = ir.read(20)
    if ir.read(3) != 0:
        raise ValueError("flac: only mono supported")
    if ir.read(5) + 1 != _BPS:
        raise ValueError("flac: only 16-bit supported")
    total = ir.read(36)
    md5_expected = info[18:34]

    # --- frame ---
    frame_start = pos
    br = _BitReader(data, pos)
    if br.read(14) != 0b11111111111110:
        raise ValueError("flac: bad frame sync")
    br.read(2)  # reserved + blocking strategy
    bs_code = br.read(4)
    sr_code = br.read(4)
    if br.read(4) != 0:
        raise ValueError("flac: only mono frames supported")
    if br.read(3) != 0b100:
        raise ValueError("flac: only 16-bit frames supported")
    br.read(1)  # reserved
    fn = br.read(8)  # coded frame number (frame 0: single byte)
    if fn & 0x80:
        raise ValueError("flac: multi-byte frame numbers unsupported")
    if bs_code == 0b0110:
        n = br.read(8) + 1
    elif bs_code == 0b0111:
        n = br.read(16) + 1
    else:
        raise ValueError(f"flac: block size code {bs_code} unsupported")
    if sr_code != 0:
        raise ValueError("flac: only from-STREAMINFO sample rate")
    if n != total:
        raise ValueError("flac: frame/stream sample count mismatch")
    hdr_len = br.byte - frame_start
    if br.read(8) != _crc8(data[frame_start : frame_start + hdr_len]):
        raise ValueError("flac: frame header CRC-8 mismatch")

    # --- subframe ---
    if br.read(1) != 0:
        raise ValueError("flac: bad subframe padding bit")
    sf_type = br.read(6)
    if not 0b001000 <= sf_type <= 0b001100:
        raise ValueError("flac: only FIXED subframes supported")
    order = sf_type & 0x07
    if order >= n:
        raise ValueError("flac: predictor order >= block size")
    if br.read(1) != 0:
        raise ValueError("flac: wasted bits unsupported")
    samples = [br.read_signed(_BPS) for _ in range(order)]
    if br.read(2) != 0b00:
        raise ValueError("flac: only 4-bit Rice residuals supported")
    if br.read(4) != 0:
        raise ValueError("flac: only partition order 0 supported")
    r = br.read(4)
    if r == 0b1111:
        raise ValueError("flac: Rice escape unsupported")
    coeffs = _FIXED_COEFFS[order]
    for _ in range(n - order):
        u = (br.read_unary() << r) | (br.read(r) if r else 0)
        e = (u >> 1) if u % 2 == 0 else -((u + 1) >> 1)
        samples.append(
            e + sum(c * samples[-1 - j] for j, c in enumerate(coeffs))
        )
    br.align()
    if br.byte + 2 > len(data):
        raise ValueError("flac: truncated before frame CRC-16")
    crc = struct.unpack(">H", data[br.byte : br.byte + 2])[0]
    if crc != _crc16(data[frame_start : br.byte]):
        raise ValueError("flac: frame CRC-16 mismatch")
    if any(not -32768 <= s <= 32767 for s in samples):
        # a crafted (CRC-recomputed) residual stream can reconstruct
        # outside int16; keep the ValueError contract, not struct.error
        raise ValueError("flac: reconstructed samples out of int16 range")
    raw = struct.pack(f"<{n}h", *samples)
    if hashlib.md5(raw).digest() != md5_expected:
        raise ValueError("flac: decoded audio MD5 mismatch")
    return rate, samples
