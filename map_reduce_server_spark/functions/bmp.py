"""Pure-stdlib BMP (Windows DIB) codec, 8-bit grayscale palette.

BMP layout: bottom-up row storage (positive biHeight stores the last raster
row first; negative means top-down, and both decode here), 4-byte row stride
padding (a 6-px 8-bit row occupies 8 bytes), and palette indirection (8-bit
pixels index a 256-entry BGRX color table; the identity-gray table makes
index == luminance, and a non-gray palette is refused).

Scope (BITMAPINFOHEADER baseline): 8 bpp, BI_RGB (no compression), one
plane. Anything else raises. Spec: Windows GDI BITMAPFILEHEADER /
BITMAPINFOHEADER layout.
"""

from __future__ import annotations

import struct

_FILE_HDR = 14
_INFO_HDR = 40
_PALETTE = 256 * 4


def _stride(width: int) -> int:
    return (width + 3) // 4 * 4


def encode_gray8(width: int, height: int, pixels: bytes) -> bytes:
    """Encode row-major 8-bit grayscale as a bottom-up palettized
    BMP with an identity gray color table."""
    if len(pixels) != width * height:
        raise ValueError("pixel buffer does not match dimensions")
    stride = _stride(width)
    data_off = _FILE_HDR + _INFO_HDR + _PALETTE
    img_size = stride * height
    out = [
        struct.pack("<2sIHHI", b"BM", data_off + img_size, 0, 0, data_off),
        struct.pack(
            "<IiiHHIIiiII",
            _INFO_HDR,
            width,
            height,  # positive: bottom-up
            1,  # planes
            8,  # bpp
            0,  # BI_RGB
            img_size,
            2835,
            2835,  # 72 dpi
            256,
            0,
        ),
        b"".join(bytes((v, v, v, 0)) for v in range(256)),  # BGRX gray
    ]
    pad = b"\x00" * (stride - width)
    for y in range(height - 1, -1, -1):  # bottom-up
        out.append(pixels[y * width : (y + 1) * width] + pad)
    return b"".join(out)


def decode_gray8(data: bytes) -> tuple[int, int, bytes]:
    """Decode a baseline 8-bit palettized BMP into (width, height,
    row-major luminance bytes). Handles bottom-up AND top-down row
    order and stride padding; requires a gray palette (refuses color
    rather than silently flattening it)."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP: bad signature")
    (data_off,) = struct.unpack_from("<I", data, 10)
    (hdr_size,) = struct.unpack_from("<I", data, _FILE_HDR)
    if hdr_size < _INFO_HDR:
        raise NotImplementedError("only BITMAPINFOHEADER (>= 40 bytes)")
    width, height, planes, bpp, compression = struct.unpack_from(
        "<iiHHI", data, _FILE_HDR + 4
    )
    if planes != 1 or bpp != 8:
        raise NotImplementedError("only 8-bit single-plane BMP")
    if compression != 0:
        raise NotImplementedError("only BI_RGB (uncompressed)")
    (n_colors,) = struct.unpack_from("<I", data, _FILE_HDR + 32)
    n_colors = n_colors or 256
    pal_off = _FILE_HDR + hdr_size
    lum = []
    for i in range(n_colors):
        b, g, r, _ = struct.unpack_from("<BBBB", data, pal_off + 4 * i)
        if not (b == g == r):
            raise NotImplementedError("non-gray palette")
        lum.append(b)
    top_down = height < 0
    height = abs(height)
    stride = _stride(width)
    rows = []
    for i in range(height):
        off = data_off + i * stride
        rows.append(data[off : off + width])
    if not top_down:
        rows.reverse()
    raster = b"".join(rows)
    if len(raster) != width * height:
        raise ValueError("truncated pixel data")
    return width, height, bytes(lum[i] for i in raster)
