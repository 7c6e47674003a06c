"""Pure-stdlib Truevision TGA codec, 8-bit grayscale, RLE.

TGA contributes the one compression family the other image codecs
don't exercise: BYTE-ORIENTED RUN-LENGTH PACKETS. PNG is DEFLATE
(LZ77 + Huffman), GIF is LZW, JPEG is entropy coding over DCT
blocks, TIFF/BMP here are uncompressed — TGA type 11 is a stream of
1-byte packet headers where bit 7 selects run vs literal and the low
7 bits carry ``count - 1``, the simplest real compression scheme
still shipped in production scan/game-asset pipelines. The container
also carries its own layout quirk: the image-descriptor origin bit
(0x20) selects TOP-DOWN vs the default BOTTOM-UP row order, and the
optional 26-byte "TRUEVISION-XFILE." v2 footer trails the pixel
data, so a decoder that assumes pixels run to EOF mis-sizes the
raster.

Scope is honest (grayscale 8-bit): image types 3 (uncompressed
black-and-white) and 11 (RLE black-and-white), no color map, no id
field on encode (a present id field is skipped on decode), both
origin bits. Per spec, RLE packets never cross scan-line boundaries
— the encoder honors it and the decoder enforces it. Anything else
raises — the strictness contract shared by every from-spec codec
here. Spec: Truevision TGA File Format Specification v2.0 (1991).
"""

from __future__ import annotations

import struct

_HDR = 18
_FOOTER = b"TRUEVISION-XFILE.\x00"
_TYPE_GRAY = 3
_TYPE_GRAY_RLE = 11
_DESC_TOP_DOWN = 0x20


def _rle_line(line: bytes) -> bytes:
    """RLE-encode one scan line into run/literal packets (max 128
    pixels per packet; packets never cross the line)."""
    out = bytearray()
    i, n = 0, len(line)
    lit_start = i
    while i < n:
        run = 1
        while i + run < n and run < 128 and line[i + run] == line[i]:
            run += 1
        if run >= 2:
            while lit_start < i:  # flush pending literals first
                take = min(128, i - lit_start)
                out.append(take - 1)
                out += line[lit_start : lit_start + take]
                lit_start += take
            out.append(0x80 | (run - 1))
            out.append(line[i])
            i += run
            lit_start = i
        else:
            i += 1
    while lit_start < i:
        take = min(128, i - lit_start)
        out.append(take - 1)
        out += line[lit_start : lit_start + take]
        lit_start += take
    return bytes(out)


def encode_gray8(
    width: int, height: int, pixels: bytes, top_down: bool = False
) -> bytes:
    """Encode row-major 8-bit grayscale as an RLE TGA (type 11) in
    either row origin, with the v2 footer."""
    if len(pixels) != width * height:
        raise ValueError("pixel buffer does not match dimensions")
    desc = _DESC_TOP_DOWN if top_down else 0
    hdr = struct.pack(
        "<BBBHHBHHHHBB",
        0,  # id length
        0,  # no color map
        _TYPE_GRAY_RLE,
        0, 0, 0,  # color map spec (absent)
        0, 0,  # x/y origin
        width, height,
        8,  # bits per pixel
        desc,
    )
    rows = [
        pixels[y * width : (y + 1) * width] for y in range(height)
    ]
    if not top_down:
        rows.reverse()  # file stores bottom row first
    body = b"".join(_rle_line(r) for r in rows)
    # v2 footer: extension/developer offsets 0 + signature
    footer = struct.pack("<II", 0, 0) + _FOOTER
    return hdr + body + footer


def decode_gray8(data: bytes) -> tuple[int, int, bytes]:
    """Decode a grayscale TGA (types 3 and 11) into (width, height,
    row-major pixel bytes). Handles both row origins, a present id
    field, and the optional v2 footer; enforces the no-line-crossing
    RLE rule and the grayscale envelope (anything else raises)."""
    if len(data) < _HDR:
        raise ValueError("not a TGA: truncated header")
    (
        id_len,
        cmap_type,
        img_type,
        _cm_first,
        _cm_len,
        _cm_size,
        _x0,
        _y0,
        width,
        height,
        bpp,
        desc,
    ) = struct.unpack_from("<BBBHHBHHHHBB", data, 0)
    if cmap_type != 0:
        raise NotImplementedError("color-mapped TGA not supported")
    if img_type not in (_TYPE_GRAY, _TYPE_GRAY_RLE):
        raise NotImplementedError(
            f"only grayscale TGA (types 3/11), got {img_type}"
        )
    if bpp != 8:
        raise NotImplementedError("only 8-bit grayscale")
    pos = _HDR + id_len
    rows = []
    if img_type == _TYPE_GRAY:
        for _ in range(height):
            row = data[pos : pos + width]
            if len(row) != width:
                raise ValueError("truncated pixel data")
            rows.append(row)
            pos += width
    else:
        for _ in range(height):
            row = bytearray()
            while len(row) < width:
                if pos >= len(data):
                    raise ValueError("truncated RLE stream")
                head = data[pos]
                pos += 1
                count = (head & 0x7F) + 1
                if head & 0x80:
                    row += data[pos : pos + 1] * count
                    pos += 1
                else:
                    chunk = data[pos : pos + count]
                    if len(chunk) != count:
                        raise ValueError("truncated literal packet")
                    row += chunk
                    pos += count
            if len(row) != width:
                raise ValueError("RLE packet crosses scan-line boundary")
            rows.append(bytes(row))
    if not desc & _DESC_TOP_DOWN:
        rows.reverse()
    return width, height, b"".join(rows)
