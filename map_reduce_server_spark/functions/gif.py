"""Pure-stdlib GIF89a codec (grayscale, single image).

The dictionary-coding family (LZW with variable-width codes) of the
multimodal decode surface, from the GIF89a specification: logical screen
descriptor, 256-entry global color table, image descriptor, LZW-compressed
index stream in ≤255-byte data sub-blocks, trailer.

The palette is the identity gray ramp (index i → (i, i, i)), so a pixel byte
is its palette index and the codec is lossless end to end, which lets the
decode query's DuckDB oracle recompute every pixel from the md5 hex.

Wire-format details implemented exactly (and pinned by a hand-packed
golden in tests/test_gif_codec.py):

- initial LZW code width = min_code_size + 1 = 9; CLEAR = 256,
  EOI = 257; first dynamic code 258;
- codes are packed LSB-first into the byte stream;
- width growth is the classic asymmetric pair: the ENCODER widens
  after registering entry ``1 << width`` (the next emitted code may
  reference the entry registered one step earlier, which already
  fits), the DECODER widens after registering entry
  ``(1 << width) - 1`` (it runs one registration behind);
- at 4096 entries both sides freeze the dictionary ("deferred
  clear" — valid GIF, no reset synchronization to get wrong);
- the KwKwK case (a code equal to the decoder's next unregistered
  entry) is handled per the spec.
"""

from __future__ import annotations

import struct

_MIN_CODE_SIZE = 8
_CLEAR = 1 << _MIN_CODE_SIZE  # 256
_EOI = _CLEAR + 1  # 257
_MAX_CODE = 4096


def _lzw_encode(data: bytes) -> bytes:
    """GIF-variant LZW: variable width 9→12 bits, LSB-first."""
    out = bytearray()
    acc = 0
    nbits = 0
    width = _MIN_CODE_SIZE + 1

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = _EOI + 1
    emit(_CLEAR)
    w = b""
    for byte in data:
        wk = w + bytes([byte])
        if wk in table:
            w = wk
            continue
        emit(table[w])
        if next_code < _MAX_CODE:
            table[wk] = next_code
            next_code += 1
            # widen AFTER registering 1<<width: the code emitted
            # next can reference at most the PREVIOUS registration,
            # which still fits in the old width (decoder mirror is
            # one entry behind — see _lzw_decode)
            if next_code > (1 << width) and width < 12:
                width += 1
        w = bytes([byte])
    if w:
        emit(table[w])
    emit(_EOI)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, n_pixels: int) -> bytes:
    """Inverse of :func:`_lzw_encode`; validates CLEAR/EOI framing
    and stops after ``n_pixels`` output bytes."""
    out = bytearray()
    acc = 0
    nbits = 0
    pos = 0
    width = _MIN_CODE_SIZE + 1
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    prev: bytes | None = None
    # True iff the registration performed while processing the FINAL
    # data code crossed a width transition — the one case where the
    # trailing EOI may legitimately still be at the previous width
    # (see the terminator check below).
    widened = False

    while len(out) < n_pixels:
        widened = False
        while nbits < width:
            if pos >= len(data):
                raise ValueError("gif: LZW stream truncated")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == _CLEAR:
            table = table[: _EOI + 1]
            width = _MIN_CODE_SIZE + 1
            prev = None
            continue
        if code == _EOI:
            raise ValueError("gif: EOI before all pixels decoded")
        if prev is None:
            if code >= len(table):
                raise ValueError("gif: first code not a root")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError("gif: code beyond dictionary")
        if prev is not None and len(table) < _MAX_CODE:
            table.append(prev + entry[:1])
            # decoder registers one entry behind the encoder, so it
            # widens one registration earlier in code value
            if len(table) >= (1 << width) and width < 12:
                width += 1
                widened = True
        if len(out) + len(entry) > n_pixels:
            raise ValueError("gif: LZW output exceeds pixel count")
        out += entry
        prev = entry
    # The stream must terminate with EOI exactly at the pixel count; a
    # missing terminator or trailing data is malformed. The decoder widens
    # one registration earlier than the encoder, so when the final data
    # code's registration crossed a transition the writer legitimately
    # emitted EOI at the previous width: accept EOI at the pre-transition
    # width too (a stream ending byte-aligned there has no padding bit to
    # widen into).
    while nbits < width and pos < len(data):
        acc |= data[pos] << nbits
        pos += 1
        nbits += 8
    if nbits >= width and acc & ((1 << width) - 1) == _EOI:
        return bytes(out)
    narrow = width - 1 if widened else width
    if nbits >= narrow and acc & ((1 << narrow) - 1) == _EOI:
        # A narrow EOI followed by a set padding bit is bit-identical to
        # a malformed wide non-EOI code whose low bits equal EOI (e.g.
        # 10-bit 769). Bits after EOI are don't-care padding per spec, so
        # the conforming parse wins; all pixels are decoded either way.
        return bytes(out)
    if nbits < narrow:
        raise ValueError("gif: LZW stream truncated before EOI")
    raise ValueError("gif: missing EOI after final pixel")


def encode_gray8(width: int, height: int, pixels: bytes) -> bytes:
    """Encode ``width*height`` grayscale bytes as a GIF89a file with
    the identity gray palette (pixel value == palette index)."""
    if not (1 <= width <= 65535 and 1 <= height <= 65535):
        raise ValueError(f"gif: dimensions {width}x{height} out of range")
    if len(pixels) != width * height:
        raise ValueError(
            f"gif: expected {width * height} pixels, got {len(pixels)}"
        )
    out = bytearray(b"GIF89a")
    # logical screen descriptor: GCT present, 8 bits/channel
    # resolution, unsorted, 256-entry GCT -> packed 0xF7
    out += struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
    for i in range(256):  # identity gray ramp
        out += bytes((i, i, i))
    # image descriptor: full frame, no local table, not interlaced
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, width, height, 0)
    out.append(_MIN_CODE_SIZE)
    lzw = _lzw_encode(pixels)
    for i in range(0, len(lzw), 255):
        block = lzw[i : i + 255]
        out.append(len(block))
        out += block
    out.append(0)  # block terminator
    out.append(0x3B)  # trailer
    return bytes(out)


def _identity_ramp_table(
    data: bytes, pos: int, n_entries: int
) -> tuple[bytes, int]:
    """Read an ``n_entries``-color table at ``pos`` and require the
    identity gray ramp — a non-gray GIF silently "decoding" to wrong
    intensities is worse than an error. Returns (table, new pos)."""
    table = data[pos : pos + n_entries * 3]
    if len(table) != n_entries * 3:
        raise ValueError("gif: truncated color table")
    if n_entries != 256 or any(
        table[3 * i : 3 * i + 3] != bytes((i, i, i)) for i in range(256)
    ):
        raise ValueError("gif: palette is not the identity gray ramp")
    return table, pos + n_entries * 3


def decode_gray8(data: bytes) -> tuple[int, int, bytes]:
    """Decode a GIF produced by :func:`encode_gray8` (or any
    single-image gray-ramp GIF — global OR local color table, e.g.
    the JDK's ImageIO writer emits a local one): returns
    (width, height, pixels). The table that applies to the image
    must be the identity ramp; see :func:`_identity_ramp_table`."""
    if data[:6] not in (b"GIF89a", b"GIF87a"):
        raise ValueError("gif: bad signature")
    if len(data) < 13:
        raise ValueError("gif: truncated screen descriptor")
    width, height, packed, _bg, _aspect = struct.unpack(
        "<HHBBB", data[6:13]
    )
    pos = 13
    # Defer ALL global-table judgement: a local table, if present,
    # takes precedence for the image, and only the table that
    # APPLIES must be the identity ramp (the JDK writer pairs a
    # local table with arbitrary globals).
    gct_at: tuple[int, int] | None = None
    if packed & 0x80:
        gct_len = 2 ** ((packed & 0x07) + 1)
        if pos + gct_len * 3 > len(data):
            raise ValueError("gif: truncated color table")
        gct_at = (pos, gct_len)
        pos += gct_len * 3
    # skip extension blocks (0x21 <label> sub-blocks...0)
    while pos < len(data) and data[pos] == 0x21:
        pos += 2
        while pos < len(data) and data[pos]:
            pos += 1 + data[pos]
        pos += 1
    if pos + 10 > len(data) or data[pos] != 0x2C:
        raise ValueError("gif: image descriptor not found")
    _left, _top, iw, ih, ipacked = struct.unpack(
        "<HHHHB", data[pos + 1 : pos + 10]
    )
    pos += 10
    interlaced = bool(ipacked & 0x40)
    if ipacked & 0x80:
        # a local table takes precedence for this image — IT must be
        # the identity ramp, whatever the global one was
        _, pos = _identity_ramp_table(
            data, pos, 2 ** ((ipacked & 0x07) + 1)
        )
    elif gct_at is not None:
        _identity_ramp_table(data, gct_at[0], gct_at[1])
    else:
        raise ValueError("gif: missing color table")
    if (iw, ih) != (width, height):
        raise ValueError("gif: sub-frame images unsupported")
    if pos >= len(data):
        raise ValueError("gif: truncated before LZW min code size")
    min_code = data[pos]
    pos += 1
    if min_code != _MIN_CODE_SIZE:
        raise ValueError(f"gif: unsupported LZW min code size {min_code}")
    lzw = bytearray()
    while True:
        if pos >= len(data):
            raise ValueError("gif: truncated inside data sub-blocks")
        n = data[pos]
        pos += 1
        if n == 0:
            break
        if pos + n > len(data):
            raise ValueError("gif: truncated inside data sub-blocks")
        lzw += data[pos : pos + n]
        pos += n
    pixels = _lzw_decode(bytes(lzw), width * height)
    if interlaced:
        # GIF interlace: rows arrive in four passes (every 8th row
        # from 0, every 8th from 4, every 4th from 2, every 2nd from
        # 1) — a pure row permutation, undone here
        order = (
            list(range(0, height, 8))
            + list(range(4, height, 8))
            + list(range(2, height, 4))
            + list(range(1, height, 2))
        )
        out = bytearray(len(pixels))
        for stream_i, row in enumerate(order):
            out[row * width : (row + 1) * width] = pixels[
                stream_i * width : (stream_i + 1) * width
            ]
        pixels = bytes(out)
    return width, height, pixels
