"""Pure-stdlib FLAC codec (mono, 16-bit, single fixed-blocksize
frame) — the PREDICTIVE compression family for the multimodal decode
surface, alongside DEFLATE (PNG), LZW (GIF), DCT+Huffman (JPEG) and
logarithmic companding (G.711).

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

FLAC is lossless, so decode(encode(x)) == x bit-exactly — which is
what lets the decode query's DuckDB oracle recompute every sample
from the md5 hex the clip was built from.
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


def _crc8(data: bytes) -> int:
    """CRC-8, polynomial x^8+x^2+x+1 (0x07), init 0 — the FLAC frame
    header CRC. Known vector: crc8(b'123456789') == 0xF4."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07 if crc & 0x80 else crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16, polynomial 0x8005, init 0, unreflected — the FLAC
    whole-frame CRC. Known vector: crc16(b'123456789') == 0xFEE8."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                (crc << 1) ^ 0x8005 if crc & 0x8000 else crc << 1
            ) & 0xFFFF
    return crc


class _BitWriter:
    """MSB-first bit packer (FLAC bit order)."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, bits: int) -> None:
        self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        self.nbits += bits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, q: int) -> None:
        # FLAC unary: q zero bits then a one bit
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.buf)


class _BitReader:
    """MSB-first bit reader."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.byte = pos
        self.bit = 0

    def read(self, bits: int) -> int:
        v = 0
        for _ in range(bits):
            if self.byte >= len(self.data):
                raise ValueError("flac: bitstream truncated")
            v = (v << 1) | (
                (self.data[self.byte] >> (7 - self.bit)) & 1
            )
            self.bit += 1
            if self.bit == 8:
                self.bit = 0
                self.byte += 1
        return v

    def read_signed(self, bits: int) -> int:
        v = self.read(bits)
        return v - (1 << bits) if v >= (1 << (bits - 1)) else v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.byte += 1


def _residuals(samples: list[int], order: int) -> list[int]:
    coeffs = _FIXED_COEFFS[order]
    return [
        samples[i]
        - sum(c * samples[i - 1 - j] for j, c in enumerate(coeffs))
        for i in range(order, len(samples))
    ]


def _zigzag(e: int) -> int:
    return (e << 1) if e >= 0 else (-(e << 1) - 1)


def _rice_cost(res: list[int], r: int) -> int:
    return sum((_zigzag(e) >> r) + 1 + r for e in res)


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
    res = res_by_order[best_order]
    best_r = min(range(15), key=lambda r: _rice_cost(res, r))

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
    for e in res:
        u = _zigzag(e)
        body.write_unary(u >> best_r)
        if best_r:
            body.write(u & ((1 << best_r) - 1), best_r)
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
