"""Pure-stdlib baseline TIFF codec (8-bit grayscale, strips).

TIFF is the TAG-DIRECTORY container family the other image codecs
don't exercise: instead of PNG's linear chunk stream or GIF's
sub-block framing, a TIFF is random-access — a byte-order header, a
pointer to an Image File Directory of fixed-width sorted tag
entries, and OFFSET INDIRECTION everywhere (an entry's value lives
inline only when it fits 4 bytes; otherwise the entry stores a file
offset, and pixel data is reached through StripOffsets /
StripByteCounts arrays that are themselves stored out-of-line).
Both byte orders (II little-endian, MM big-endian) are real TIFF
and both are handled on decode; the encoder emits either.

Scope is honest (TIFF 6.0 baseline grayscale): 8-bit single-sample,
Compression=1 (none), PhotometricInterpretation 0/1, multi-strip.
Anything else raises — the same strictness contract as the other
from-spec codecs. Spec: TIFF 6.0 (Adobe, 1992), sections 2 (file
structure) and 4 (grayscale images).
"""

from __future__ import annotations

import struct

_MAGIC = 42

# (tag, type) — type 3 = SHORT, 4 = LONG
_T_WIDTH = 256
_T_HEIGHT = 257
_T_BITS = 258
_T_COMPRESSION = 259
_T_PHOTOMETRIC = 262
_T_STRIP_OFFSETS = 273
_T_SAMPLES = 277
_T_ROWS_PER_STRIP = 278
_T_STRIP_COUNTS = 279

_TYPE_SIZE = {1: 1, 3: 2, 4: 4}  # BYTE, SHORT, LONG

_ROWS_PER_STRIP = 2  # the encoder's strip height


def encode_gray8(
    width: int,
    height: int,
    pixels: bytes,
    big_endian: bool = False,
) -> bytes:
    """Encode row-major 8-bit grayscale as a baseline TIFF of
    ``_ROWS_PER_STRIP``-row strips in either byte order."""
    if len(pixels) != width * height:
        raise ValueError("pixel buffer does not match dimensions")
    e = ">" if big_endian else "<"
    order = b"MM" if big_endian else b"II"
    strips = [
        pixels[y * width : min(y + _ROWS_PER_STRIP, height) * width]
        for y in range(0, height, _ROWS_PER_STRIP)
    ]
    n = len(strips)

    # layout: header(8) | strip data | offsets array | counts array | IFD
    # For a SINGLE strip the count-1 LONG value fits the entry's
    # 4-byte field and TIFF requires it INLINE — a conforming decoder
    # (including decode_gray8 below) reads the value field directly,
    # so emitting an out-of-line one-element array would make it
    # treat the array's file offset as the strip offset itself.
    pos = 8
    strip_offsets = []
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)
    if n == 1:
        off_offsets = strip_offsets[0]
        off_counts = len(strips[0])
    else:
        off_offsets = pos
        pos += 4 * n
        off_counts = pos
        pos += 4 * n
    ifd_offset = pos

    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        # inline value left-justified in its 4-byte field: a SHORT
        # occupies the FIRST two bytes in either byte order (the
        # classic TIFF subtlety decoders must honor)
        if typ == 3:
            val = struct.pack(e + "H", value) + b"\x00\x00"
        else:
            val = struct.pack(e + "I", value)
        return struct.pack(e + "HHI", tag, typ, count) + val

    entries = [
        entry(_T_WIDTH, 3, 1, width),
        entry(_T_HEIGHT, 3, 1, height),
        entry(_T_BITS, 3, 1, 8),
        entry(_T_COMPRESSION, 3, 1, 1),
        entry(_T_PHOTOMETRIC, 3, 1, 1),
        entry(_T_STRIP_OFFSETS, 4, n, off_offsets),
        entry(_T_SAMPLES, 3, 1, 1),
        entry(_T_ROWS_PER_STRIP, 3, 1, _ROWS_PER_STRIP),
        entry(_T_STRIP_COUNTS, 4, n, off_counts),
    ]
    # spec: IFD entries must be sorted by tag — they are, by
    # construction above
    out = [struct.pack(e + "2sHI", order, _MAGIC, ifd_offset)]
    out.extend(strips)
    if n > 1:
        out.append(struct.pack(e + f"{n}I", *strip_offsets))
        out.append(struct.pack(e + f"{n}I", *(len(s) for s in strips)))
    out.append(struct.pack(e + "H", len(entries)))
    out.extend(entries)
    out.append(struct.pack(e + "I", 0))  # no next IFD
    return b"".join(out)


def decode_gray8(data: bytes) -> tuple[int, int, bytes]:
    """Decode a baseline grayscale TIFF into (width, height,
    row-major pixel bytes). Handles both byte orders, inline and
    out-of-line values, and multi-strip data; validates the magic,
    tag ordering, strip byte counts, and the baseline-grayscale
    envelope (anything else raises)."""
    if len(data) < 8:
        raise ValueError("not a TIFF: truncated header")
    order = data[:2]
    if order == b"II":
        e = "<"
    elif order == b"MM":
        e = ">"
    else:
        raise ValueError("not a TIFF: bad byte-order mark")
    magic, ifd_offset = struct.unpack_from(e + "HI", data, 2)
    if magic != _MAGIC:
        raise ValueError("not a TIFF: bad magic")

    (n_entries,) = struct.unpack_from(e + "H", data, ifd_offset)
    tags: dict[int, list[int]] = {}
    prev_tag = -1
    for i in range(n_entries):
        off = ifd_offset + 2 + 12 * i
        tag, typ, count = struct.unpack_from(e + "HHI", data, off)
        if tag <= prev_tag:
            raise ValueError("IFD entries not sorted by tag")
        prev_tag = tag
        if typ not in _TYPE_SIZE:
            continue  # unknown type: baseline says skip the entry
        size = _TYPE_SIZE[typ] * count
        if size <= 4:
            voff = off + 8  # inline, left-justified
        else:
            (voff,) = struct.unpack_from(e + "I", data, off + 8)
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        tags[tag] = list(
            struct.unpack_from(e + f"{count}{fmt}", data, voff)
        )

    def one(tag: int, default: int | None = None) -> int:
        if tag in tags:
            return tags[tag][0]
        if default is None:
            raise ValueError(f"missing required TIFF tag {tag}")
        return default

    width = one(_T_WIDTH)
    height = one(_T_HEIGHT)
    if one(_T_BITS, 8) != 8 or one(_T_SAMPLES, 1) != 1:
        raise NotImplementedError("only 8-bit single-sample grayscale")
    if one(_T_COMPRESSION, 1) != 1:
        raise NotImplementedError("only Compression=1 (uncompressed)")
    photometric = one(_T_PHOTOMETRIC)
    if photometric not in (0, 1):
        raise NotImplementedError("only grayscale photometric (0/1)")
    offsets = tags.get(_T_STRIP_OFFSETS)
    counts = tags.get(_T_STRIP_COUNTS)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("missing or mismatched strip tags")
    px = b"".join(data[o : o + c] for o, c in zip(offsets, counts))
    if len(px) != width * height:
        raise ValueError("strip byte counts do not cover the raster")
    if photometric == 0:  # WhiteIsZero: invert to BlackIsZero
        px = bytes(255 - b for b in px)
    return width, height, px
