"""Pure-stdlib AIFF codec, mono 16-bit PCM.

The container is EA-IFF 85, the big-endian ancestor of RIFF: a FORM group
whose chunks are walked by (4-byte id, u32 size, content, odd-size pad
byte), with unknown chunks skipped by size. The COMM chunk stores the
sample rate as an 80-bit IEEE 754 extended float (15-bit exponent biased
16383, 64-bit mantissa with an explicit integer bit); every integer rate is
exact in it, and the encode/decode here is exact integer arithmetic, never a
double round-trip.

Scope: FORM/AIFF with COMM + SSND, mono, 16-bit uncompressed PCM (big-endian
samples). AIFC, multi-channel and other sample widths raise. Spec: Audio
Interchange File Format 1.3 (Apple, 1989) and EA IFF 85.
"""

from __future__ import annotations

import struct


def _pack_extended(rate: int) -> bytes:
    """Integer sample rate -> 80-bit IEEE extended, exactly."""
    if rate <= 0:
        raise ValueError("sample rate must be positive")
    e = rate.bit_length() - 1  # floor(log2(rate))
    mant = rate << (63 - e)  # explicit integer bit lands at bit 63
    return struct.pack(">HQ", 16383 + e, mant)


def _unpack_extended(b: bytes) -> int:
    """80-bit IEEE extended -> integer sample rate (exact values
    only; a non-integer or out-of-range rate raises)."""
    se, mant = struct.unpack(">HQ", b)
    if se & 0x8000:
        raise ValueError("negative sample rate")
    if se == 0 and mant == 0:
        raise ValueError("zero sample rate")
    shift = se - 16383 - 63
    if shift > 0:
        if mant.bit_length() + shift > 63:
            raise ValueError("sample rate out of range")
        return mant << shift
    if mant & ((1 << -shift) - 1):
        raise ValueError("non-integer sample rate")
    return mant >> -shift


def encode_pcm16(samples: list[int], rate: int) -> bytes:
    """Encode mono int16 samples as a big-endian FORM/AIFF file with
    COMM + SSND chunks (and correct odd-length padding)."""
    n = len(samples)
    comm = struct.pack(">hLh", 1, n, 16) + _pack_extended(rate)
    ssnd = struct.pack(">LL", 0, 0) + struct.pack(f">{n}h", *samples)

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return cid + struct.pack(">L", len(body)) + body + pad

    body = b"AIFF" + chunk(b"COMM", comm) + chunk(b"SSND", ssnd)
    return b"FORM" + struct.pack(">L", len(body)) + body


def decode_pcm16(data: bytes) -> tuple[int, list[int]]:
    """Decode a mono 16-bit FORM/AIFF file into (rate, samples).
    Walks the IFF chunk list (skipping unknown chunks and pad
    bytes); refuses AIFC, multi-channel, and non-16-bit files."""
    if len(data) < 12 or data[:4] != b"FORM":
        raise ValueError("not an IFF FORM file")
    (form_size,) = struct.unpack_from(">L", data, 4)
    form_type = data[8:12]
    if form_type == b"AIFC":
        raise NotImplementedError("AIFC (compressed AIFF) not supported")
    if form_type != b"AIFF":
        raise ValueError("not an AIFF form")
    end = min(len(data), 8 + form_size)
    pos = 12
    comm = ssnd = None
    while pos + 8 <= end:
        cid = data[pos : pos + 4]
        (size,) = struct.unpack_from(">L", data, pos + 4)
        body = data[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"COMM":
            comm = body
        elif cid == b"SSND":
            ssnd = body
        pos += 8 + size + (size % 2)  # odd chunks carry a pad byte
    if comm is None or ssnd is None:
        raise ValueError("missing COMM or SSND chunk")
    channels, n_frames, bits = struct.unpack_from(">hLh", comm, 0)
    if channels != 1:
        raise NotImplementedError("only mono AIFF")
    if bits != 16:
        raise NotImplementedError("only 16-bit samples")
    rate = _unpack_extended(comm[8:18])
    offset, _block = struct.unpack_from(">LL", ssnd, 0)
    raw = ssnd[8 + offset : 8 + offset + 2 * n_frames]
    if len(raw) != 2 * n_frames:
        raise ValueError("sample data does not cover numSampleFrames")
    return rate, list(struct.unpack(f">{n_frames}h", raw))
