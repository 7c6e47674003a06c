"""Pure-stdlib PNG codec (encode / decode / nearest-neighbor resize).

PNG needs only zlib and struct: signature, chunk layout, CRC-32 validation,
DEFLATE decompression and scanline unfiltering. Scope: 8-bit truecolor RGB
(color type 2), all five scanline filter types 0–4 on decode (the encoder
emits 0), no interlacing. Anything else raises.
"""

from __future__ import annotations

import struct
import zlib

_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, data: bytes) -> bytes:
    body = tag + data
    return (
        struct.pack(">I", len(data))
        + body
        + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
    )


def encode_rgb8(width: int, height: int, pixels: bytes) -> bytes:
    """Encode row-major RGB bytes (len = width*height*3) as a PNG."""
    if len(pixels) != width * height * 3:
        raise ValueError("pixel buffer does not match dimensions")
    stride = width * 3
    raw = b"".join(
        b"\x00" + pixels[y * stride : (y + 1) * stride]
        for y in range(height)
    )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )


def decode_rgb8(data: bytes) -> tuple[int, int, bytes]:
    """Decode a PNG into (width, height, row-major RGB bytes).

    Validates the signature and every chunk CRC; supports 8-bit RGB
    with all five scanline filters: 0 (None), 1 (Sub), 2 (Up),
    3 (Average), 4 (Paeth).
    """
    if data[:8] != _SIG:
        raise ValueError("not a PNG: bad signature")
    pos = 8
    width = height = None
    idat = b""
    while pos < len(data):
        # bounds-check before unpacking: truncated or garbage-tailed
        # input must fail with the codec's ValueError contract, not
        # a bare struct.error from a short buffer
        if pos + 8 > len(data):
            raise ValueError("truncated PNG: incomplete chunk header")
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        if pos + 12 + length > len(data):
            raise ValueError(f"truncated PNG: incomplete {tag!r} chunk")
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {tag!r} chunk")
        if tag == b"IHDR":
            width, height, depth, ctype, comp, filt, inter = struct.unpack(
                ">IIBBBBB", body
            )
            if (depth, ctype, comp, filt, inter) != (8, 2, 0, 0, 0):
                raise NotImplementedError(
                    "only 8-bit non-interlaced truecolor RGB supported"
                )
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    else:
        # the stream ended without IEND — a truncated-at-a-chunk-
        # boundary file must not pass as complete (spec requires it)
        raise ValueError("truncated PNG: missing IEND")
    if width is None:
        raise ValueError("missing IHDR")
    try:
        raw = zlib.decompress(idat)
    except zlib.error as exc:
        # keep the codec's ValueError contract — callers filtering on
        # ValueError must not crash on a corrupt DEFLATE stream
        raise ValueError(f"corrupt PNG IDAT stream: {exc}") from exc
    stride = width * 3
    if len(raw) != (stride + 1) * height:
        raise ValueError("decompressed size mismatch")
    out = bytearray()
    prev = bytearray(stride)
    for y in range(height):
        row = raw[y * (stride + 1) : (y + 1) * (stride + 1)]
        ftype, line = row[0], bytearray(row[1:])
        if ftype == 1:  # Sub: add left neighbor (3 bytes back)
            for i in range(3, stride):
                line[i] = (line[i] + line[i - 3]) & 0xFF
        elif ftype == 2:  # Up: add same byte of previous row
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average: add floor((left + up) / 2)
            for i in range(stride):
                left = line[i - 3] if i >= 3 else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth: add the Paeth predictor of
            # left (a), up (b), upper-left (c) per the PNG spec's
            # exact tie-breaking order (a, then b, then c).
            for i in range(stride):
                a = line[i - 3] if i >= 3 else 0
                b = prev[i]
                c = prev[i - 3] if i >= 3 else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pr = a
                elif pb <= pc:
                    pr = b
                else:
                    pr = c
                line[i] = (line[i] + pr) & 0xFF
        elif ftype != 0:
            # 5-255 is not a valid PNG filter type at all — that's
            # CORRUPT data, not an unsupported feature, so it stays
            # inside the ValueError corrupt-input contract
            raise ValueError(f"corrupt PNG: invalid filter type {ftype}")
        out += line
        prev = line
    return width, height, bytes(out)


def resize_nearest_rgb8(
    pixels: bytes, src_w: int, src_h: int, dst_w: int, dst_h: int
) -> bytes:
    """Nearest-neighbor resize of row-major RGB bytes
    (src index = floor(dst index * src extent / dst extent))."""
    out = bytearray()
    for y in range(dst_h):
        sy = y * src_h // dst_h
        for x in range(dst_w):
            sx = x * src_w // dst_w
            o = (sy * src_w + sx) * 3
            out += pixels[o : o + 3]
    return bytes(out)
