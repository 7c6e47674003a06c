"""Pure numpy/stdlib baseline JPEG codec (grayscale + YCbCr color).

Baseline JPEG is arithmetic: 8x8 DCT, quantization, zigzag and canonical
Huffman coding. This module implements marker segments
(SOI/APP0/DQT/SOF0/DHT/SOS/EOI), the Annex K luminance Huffman tables,
entropy coding with 0xFF00 byte stuffing, per-component DC differential
prediction, run-length AC coding with EOB/ZRL, interleaved MCU scans, the
BT.601 RGB<->YCbCr transform, the forward and inverse DCT, and progressive
(SOF2) scans.

Scope: 8-bit, 1 component (grayscale) or 3 components (YCbCr at 4:4:4 or
4:2:0; chroma upsampled by sample replication on decode), no restart
markers. Anything else raises. The decoder honors whatever Huffman/quant
tables the DHT/DQT segments declare, so it decodes any conforming file in
scope, not just this encoder's output.

Exactness contract the oracle twins rely on: with the default unit
quantization table, an image made of flat 8x8 blocks round-trips
bit-exactly. A flat block's DCT is a lone integer DC coefficient
(8*(v-128)); unit quantization preserves it and the IDCT returns the
constant exactly (float error ~1e-12, far under the 0.5 rounding threshold).
The same holds through the color pipeline for flat gray blocks (R=G=B=v maps
to Y=v, Cb=Cr=128 exactly; the BT.601 row sums are 1, 0, 0). General
grayscale content round-trips within +/-1 per pixel; general color within
+/-5 (the YCbCr rounding steps compound through the 1.772 blue coefficient:
worst case ~|dY| + 1.772*|dCb| + 0.5 ~ 4.2).
"""

from __future__ import annotations

import struct

import numpy as np

# --- constants -------------------------------------------------------------

_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# JPEG Annex K luminance Huffman tables (the interchange-standard
# ones every encoder ships). bits[i] = number of codes of length i+1.
_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_DC_VALS = tuple(range(12))
_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
_AC_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
)


def _dct_matrix() -> np.ndarray:
    # M[u,x] = 0.5*C(u)*cos((2x+1)u*pi/16); F = M @ f @ M.T is the
    # JPEG forward DCT, f = M.T @ F @ M the inverse.
    x = np.arange(8)
    u = x.reshape(8, 1)
    m = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    m[0] /= np.sqrt(2.0)
    return m


_M = _dct_matrix()


def _canonical_codes(bits, vals):
    """(symbol -> (code, length)) for a canonical Huffman table."""
    out = {}
    code = 0
    k = 0
    for length, n in enumerate(bits, start=1):
        for _ in range(n):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_ENC = _canonical_codes(_DC_BITS, _DC_VALS)
_AC_ENC = _canonical_codes(_AC_BITS, _AC_VALS)


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG amplitude coding: (category, cat-bit pattern)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    cat = a.bit_length()
    return cat, (v if v > 0 else v + (1 << cat) - 1)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing inside the entropy stream
                self.out.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec
        return bytes(self.out)


def _dht(table_class: int, table_id: int, bits, vals) -> bytes:
    body = bytes([(table_class << 4) | table_id]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


def _plane_to_zz(plane: np.ndarray, quant: int) -> np.ndarray:
    """One 8-bit plane -> per-block quantized zigzag coefficients
    (n_blocks x 64, raster block order). Pads to full 8x8 MCUs by
    edge replication (the standard padding choice)."""
    ph, pw = -plane.shape[0] % 8, -plane.shape[1] % 8
    plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    gh, gw = plane.shape[0] // 8, plane.shape[1] // 8
    blocks = (
        plane.reshape(gh, 8, gw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )
    shifted = blocks.astype(np.float64) - 128.0
    coeffs = np.einsum("ux,nxy,vy->nuv", _M, shifted, _M)
    q = np.rint(coeffs / quant).astype(np.int64)
    return q.reshape(-1, 64)[:, _ZIGZAG]


def _write_block(w: _BitWriter, blk: np.ndarray, prev_dc: int) -> int:
    """Entropy-code one zigzag block; returns its DC for prediction."""
    dc = int(blk[0])
    cat, amp = _magnitude(dc - prev_dc)
    code, length = _DC_ENC[cat]
    w.write(code, length)
    if cat:
        w.write(amp, cat)
    run = 0
    nz = np.nonzero(blk[1:])[0]
    last = nz[-1] + 1 if len(nz) else 0
    for i in range(1, last + 1):
        v = int(blk[i])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, length = _AC_ENC[0xF0]  # ZRL
            w.write(code, length)
            run -= 16
        cat, amp = _magnitude(v)
        code, length = _AC_ENC[(run << 4) | cat]
        w.write(code, length)
        w.write(amp, cat)
        run = 0
    if last < 63:
        code, length = _AC_ENC[0x00]  # EOB
        w.write(code, length)
    return dc


def _check_dims(width: int, height: int) -> None:
    """SOF dimensions are u16 fields (T.81 B.2.2): reject
    out-of-range sizes with the module's ValueError contract instead
    of letting struct.pack escape with a struct.error."""
    if not (1 <= width <= 65535 and 1 <= height <= 65535):
        raise ValueError("width/height must be in 1..65535")


def _frame_prefix(
    width: int, height: int, quant: int, ncomp: int,
    sof_marker: bytes, y_sampling: int = 0x11,
) -> list[bytes]:
    """SOI/APP0/DQT/SOF shared by the baseline (SOF0) and progressive
    (SOF2) assemblers — ONE definition of the JFIF preamble,
    quant-table layout, and component descriptors so the two frame
    types cannot drift (same rationale as ``_bt601_planes``)."""
    qtabs = bytes([0]) + bytes([quant] * 64)
    if ncomp == 1:
        sof_comps = bytes([1, 1, 0x11, 0])
    else:
        qtabs += bytes([1]) + bytes([quant] * 64)
        sof_comps = bytes(
            [3, 1, y_sampling, 0, 2, 0x11, 1, 3, 0x11, 1]
        )  # ncomp, then (id, sampling, tq) per component
    return [
        b"\xff\xd8",  # SOI
        b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HH", 1, 1) + b"\x00\x00",  # APP0
        b"\xff\xdb" + struct.pack(">H", len(qtabs) + 2) + qtabs,  # DQT
        sof_marker
        + struct.pack(">H", 8 + 3 * ncomp)
        + bytes([8]) + struct.pack(">HH", height, width) + sof_comps,
    ]


def _headers(
    width: int, height: int, quant: int, ncomp: int,
    y_sampling: int = 0x11,
) -> list[bytes]:
    """SOI through SOS for a baseline file with 1 (gray) or 3
    (YCbCr 4:4:4) components. Component 1 uses quant/Huffman table
    id 0; chroma components use id 1 (whose DHT re-declares the
    Annex K luminance tables — spec-valid: the decoder honors
    whatever DHT declares)."""
    dhts = _dht(0, 0, _DC_BITS, _DC_VALS) + _dht(1, 0, _AC_BITS, _AC_VALS)
    if ncomp == 1:
        sos_comps = bytes([1, 1, 0x00])
    else:
        dhts += _dht(0, 1, _DC_BITS, _DC_VALS) + _dht(
            1, 1, _AC_BITS, _AC_VALS
        )
        sos_comps = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11])
    return _frame_prefix(
        width, height, quant, ncomp, b"\xff\xc0", y_sampling
    ) + [
        dhts,
        b"\xff\xda"
        + struct.pack(">H", 6 + 2 * ncomp)  # SOS
        + sos_comps + bytes([0, 63, 0]),
    ]


def encode_gray8(
    width: int, height: int, pixels: bytes, quant: int = 1
) -> bytes:
    """Encode row-major 8-bit grayscale bytes as a baseline JFIF JPEG.

    ``quant`` fills a uniform quantization table (1 = unit table:
    flat blocks round-trip exactly, general content within +/-1).
    """
    _check_dims(width, height)
    if len(pixels) != width * height:
        raise ValueError("pixel buffer does not match dimensions")
    if not 1 <= quant <= 255:
        raise ValueError("quant must be in 1..255")
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    zz = _plane_to_zz(img, quant)
    w = _BitWriter()
    prev_dc = 0
    for blk in zz:
        prev_dc = _write_block(w, blk, prev_dc)
    return b"".join(
        _headers(width, height, quant, 1) + [w.flush(), b"\xff\xd9"]
    )


def _bt601_planes(pixels: bytes, width: int, height: int) -> list[np.ndarray]:
    """RGB bytes -> rounded uint8 [Y, Cb, Cr] planes (BT.601 forward
    transform) — ONE definition shared by the sequential and
    progressive color encoders, so the exactness contract the color
    oracles replay cannot drift between frame types."""
    rgb = (
        np.frombuffer(pixels, dtype=np.uint8)
        .reshape(height, width, 3)
        .astype(np.float64)
    )
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    planes = [
        0.299 * r + 0.587 * g + 0.114 * b,
        128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,
        128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b,
    ]
    return [
        np.clip(np.rint(p), 0, 255).astype(np.uint8) for p in planes
    ]


def _subsample_420(
    planes: list[np.ndarray], width: int, height: int
) -> tuple[np.ndarray, list[np.ndarray]]:
    """Pad [Y, Cb, Cr] to whole 16x16 MCUs (edge replication) and
    2x2 box-mean the chroma planes — ONE definition shared by the
    sequential and progressive color encoders: the rint rounding
    here is replayed bit-for-bit by the SQL color oracle, so it must
    not drift between frame types (same rationale as
    ``_bt601_planes``). Returns (padded Y, [Cb, Cr] half-res)."""
    ph, pw = -height % 16, -width % 16
    padded = [np.pad(p, ((0, ph), (0, pw)), mode="edge") for p in planes]
    chroma = [
        np.clip(
            np.rint(
                p.astype(np.float64)
                .reshape(p.shape[0] // 2, 2, p.shape[1] // 2, 2)
                .mean(axis=(1, 3))
            ),
            0,
            255,
        ).astype(np.uint8)
        for p in padded[1:]
    ]
    return padded[0], chroma


def encode_rgb8(
    width: int,
    height: int,
    pixels: bytes,
    quant: int = 1,
    subsample: bool = False,
) -> bytes:
    """Encode row-major RGB bytes as a baseline COLOR JFIF JPEG.

    ``subsample=False`` (default) writes 4:4:4 — every component
    tiles the same 8x8 grid, MCU = one block each of Y, Cb, Cr.
    ``subsample=True`` writes 4:2:0 (the near-universal real-world
    profile): chroma is 2x2 box-mean downsampled and each 16x16 MCU
    interleaves 4 Y blocks + 1 Cb + 1 Cr.

    Exactness domain (4:4:4 only): GRAY pixels (R=G=B=v) convert to
    Y=v, Cb=Cr=128 exactly (the BT.601 row sums are 1, 0, 0), so a
    flat gray block round-trips bit-identically through the full
    color pipeline under the unit quant table — the color analogue
    of the grayscale flat-block contract. (4:2:0 keeps that property
    for flat-gray MCUs too, but chroma averaging makes general
    content lossier; it is the realism profile, not the oracle one.)
    """
    _check_dims(width, height)
    if len(pixels) != width * height * 3:
        raise ValueError("pixel buffer does not match dimensions")
    if not 1 <= quant <= 255:
        raise ValueError("quant must be in 1..255")
    planes = _bt601_planes(pixels, width, height)
    w = _BitWriter()
    prev = [0, 0, 0]
    if not subsample:
        zzs = [_plane_to_zz(p, quant) for p in planes]
        for m in range(len(zzs[0])):  # MCU = (Y, Cb, Cr) at 4:4:4
            for c in range(3):
                prev[c] = _write_block(w, zzs[c][m], prev[c])
        return b"".join(
            _headers(width, height, quant, 3) + [w.flush(), b"\xff\xd9"]
        )
    # 4:2:0: pad everything to full 16x16 MCUs first so the Y block
    # grid is exactly 2x the chroma grid, then box-average chroma
    yp, chroma = _subsample_420(planes, width, height)
    zz_y = _plane_to_zz(yp, quant)
    zz_c = [_plane_to_zz(p, quant) for p in chroma]
    mcux, mcuy = yp.shape[1] // 16, yp.shape[0] // 16
    gw_y = mcux * 2
    for my in range(mcuy):
        for mx in range(mcux):
            for bv in range(2):  # 4 Y blocks in raster order
                for bhx in range(2):
                    bi = (my * 2 + bv) * gw_y + mx * 2 + bhx
                    prev[0] = _write_block(w, zz_y[bi], prev[0])
            ci = my * mcux + mx
            prev[1] = _write_block(w, zz_c[0][ci], prev[1])
            prev[2] = _write_block(w, zz_c[1][ci], prev[2])
    return b"".join(
        _headers(width, height, quant, 3, y_sampling=0x22)
        + [w.flush(), b"\xff\xd9"]
    )


# --- progressive (SOF2) encoding ---------------------------------------------

# Custom AC Huffman table for progressive scans: Annex K lacks the
# EOBn (n>0) symbols progressive coding needs, so declare a complete
# flat table — every symbol the encoder can emit (EOB0..EOB14, ZRL,
# all run/size combos up to size 14) at code length 8. 240 codes of
# one length is a valid (incomplete-tree) canonical table; the
# decoder honors whatever DHT declares, per spec.
_PROG_AC_VALS = tuple(sorted(
    [r << 4 for r in range(15)]
    + [0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 15)]
))
_PROG_AC_BITS = (0, 0, 0, 0, 0, 0, 0, 240, 0, 0, 0, 0, 0, 0, 0, 0)
_PROG_AC_ENC = _canonical_codes(_PROG_AC_BITS, _PROG_AC_VALS)


def _sos(comps: list[tuple[int, int]], ss: int, se: int, ah: int,
         al: int) -> bytes:
    """SOS marker segment for one scan: (component id, Td<<4|Ta)
    pairs plus the spectral-selection / successive-approximation
    parameters."""
    body = bytes([len(comps)])
    for cid, tabs in comps:
        body += bytes([cid, tabs])
    body += bytes([ss, se, (ah << 4) | al])
    return b"\xff\xda" + struct.pack(">H", len(body) + 2) + body


def _dc_first_bits(pairs, al: int) -> bytes:
    """Progressive DC first pass: differential coding of dc >> Al
    (arithmetic shift — the floor convention the refinement bit
    composes with via two's-complement OR)."""
    w = _BitWriter()
    pred: dict[int, int] = {}
    for c, band in pairs:
        v = int(band[0]) >> al
        diff = v - pred.get(c, 0)
        pred[c] = v
        cat, amp = _magnitude(diff)
        code, ln = _DC_ENC[cat]
        w.write(code, ln)
        if cat:
            w.write(amp, cat)
    return w.flush()


def _dc_refine_bits(pairs, al: int) -> bytes:
    """Progressive DC refinement: one raw bit (bit Al of the true
    value, two's complement) per block."""
    w = _BitWriter()
    for _, band in pairs:
        w.write((int(band[0]) >> al) & 1, 1)
    return w.flush()


def _ac_first_bits(bands, ss: int, se: int, al: int) -> bytes:
    """Progressive AC first pass over one component's bands:
    run-length/magnitude coding of abs(v) >> Al with EOBn run
    accumulation across all-zero bands."""
    w = _BitWriter()
    eobrun = 0

    def flush_eob() -> None:
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            code, ln = _PROG_AC_ENC[r << 4]
            w.write(code, ln)
            if r:
                w.write(eobrun - (1 << r), r)
            eobrun = 0

    for band in bands:
        vs = [int(band[k]) for k in range(ss, se + 1)]
        ts = [abs(v) >> al for v in vs]
        nz = [i for i, t in enumerate(ts) if t]
        if not nz:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
            continue
        flush_eob()
        r = 0
        for i in range(nz[-1] + 1):
            t = ts[i]
            if t == 0:
                r += 1
                continue
            while r > 15:
                code, ln = _PROG_AC_ENC[0xF0]
                w.write(code, ln)
                r -= 16
            cat = t.bit_length()
            _, amp = _magnitude(t if vs[i] > 0 else -t)
            code, ln = _PROG_AC_ENC[(r << 4) | cat]
            w.write(code, ln)
            w.write(amp, cat)
            r = 0
        if nz[-1] < se - ss:  # trailing zeros -> band joins an EOB run
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()
    return w.flush()


def _ac_refine_bits(bands, ss: int, se: int, al: int) -> bytes:
    """Progressive AC refinement over one component's bands. Bit
    emission mirrors the decoder's advance-walk windows exactly
    (T.81 G.1.2.3): each ZRL / newly-significant code is followed by
    the correction bits of the already-nonzero coefficients its walk
    passes, and an EOB run buffers the correction bits of every band
    in the run behind the EOBn code."""
    w = _BitWriter()
    eobrun = 0
    eob_bits: list[int] = []

    def flush_eob() -> None:
        nonlocal eobrun, eob_bits
        if eobrun:
            r = eobrun.bit_length() - 1
            code, ln = _PROG_AC_ENC[r << 4]
            w.write(code, ln)
            if r:
                w.write(eobrun - (1 << r), r)
            for bit in eob_bits:
                w.write(bit, 1)
            eobrun = 0
            eob_bits = []

    n = 0
    for band in bands:
        vs = [int(band[k]) for k in range(ss, se + 1)]
        ts = [abs(v) >> al for v in vs]
        n = len(ts)
        targets = [i for i, t in enumerate(ts) if t == 1]
        if not targets:
            eobrun += 1
            eob_bits += [t & 1 for t in ts if t > 1]
            if eobrun == 0x7FFF:
                flush_eob()
            continue
        flush_eob()
        pos = 0
        for p in targets:
            run = 0
            corr: list[int] = []
            for q in range(pos, p):
                if ts[q] == 0:
                    run += 1
                    if run == 16:
                        code, ln = _PROG_AC_ENC[0xF0]
                        w.write(code, ln)
                        for bit in corr:
                            w.write(bit, 1)
                        corr = []
                        run = 0
                else:  # already significant: correction bit
                    corr.append(ts[q] & 1)
            code, ln = _PROG_AC_ENC[(run << 4) | 1]
            w.write(code, ln)
            w.write(1 if vs[p] > 0 else 0, 1)
            for bit in corr:
                w.write(bit, 1)
            pos = p + 1
        if pos < n:  # positions remain after the last new coefficient
            eobrun += 1
            eob_bits += [ts[q] & 1 for q in range(pos, n) if ts[q] > 1]
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()
    return w.flush()


def _prog_frame(
    width: int,
    height: int,
    quant: int,
    zzs: list[np.ndarray],
    comp_geo: list[tuple[int, int, int, int]],
    mcu_grid: tuple[int, int],
) -> bytes:
    """Assemble a progressive (SOF2) file from per-component zigzag
    coefficients. ``comp_geo`` = (h, v, padded stride, true (th, tw))
    flattened per component; the scan script exercises every
    progressive scan type: interleaved DC first, per-component AC
    first (spectral band split exercises EOBn runs), per-component
    AC refinement, interleaved DC refinement."""
    ncomp = len(zzs)
    mcux, mcuy = mcu_grid
    dhts = _dht(0, 0, _DC_BITS, _DC_VALS) + _dht(
        1, 0, _PROG_AC_BITS, _PROG_AC_VALS
    )
    y_sampling = 0x11
    if ncomp == 1:
        ids = [(1, 0x00)]
    else:
        dhts += _dht(0, 1, _DC_BITS, _DC_VALS) + _dht(
            1, 1, _PROG_AC_BITS, _PROG_AC_VALS
        )
        y_sampling = 0x22 if comp_geo[0][0] == 2 else 0x11
        ids = [(1, 0x00), (2, 0x11), (3, 0x11)]
    parts = _frame_prefix(
        width, height, quant, ncomp, b"\xff\xc2", y_sampling
    ) + [dhts]
    # interleaved MCU-order (comp, band) pairs for the DC scans
    dc_pairs = []
    for my in range(mcuy):
        for mx in range(mcux):
            for c in range(ncomp):
                h, v, stride, _ = comp_geo[c]
                for bv in range(v):
                    for bhx in range(h):
                        b = (my * v + bv) * stride + mx * h + bhx
                        dc_pairs.append((c, zzs[c][b]))
    # true-grid raster bands per component for the AC scans
    ac_bands = []
    for c in range(ncomp):
        _, _, stride, (th, tw) = comp_geo[c]
        ac_bands.append(
            [
                zzs[c][r * stride + col]
                for r in range(th)
                for col in range(tw)
            ]
        )
    parts += [_sos(ids, 0, 0, 0, 1), _dc_first_bits(dc_pairs, 1)]
    for c in range(ncomp):
        cid = ids[c]
        # split the band so multi-scan spectral selection (and the
        # EOBn path on the sparse high band) is exercised
        parts += [
            _sos([cid], 1, 5, 0, 1),
            _ac_first_bits(ac_bands[c], 1, 5, 1),
            _sos([cid], 6, 63, 0, 1),
            _ac_first_bits(ac_bands[c], 6, 63, 1),
        ]
    for c in range(ncomp):
        parts += [
            _sos([ids[c]], 1, 63, 1, 0),
            _ac_refine_bits(ac_bands[c], 1, 63, 0),
        ]
    parts += [_sos(ids, 0, 0, 1, 0), _dc_refine_bits(dc_pairs, 0)]
    parts.append(b"\xff\xd9")
    return b"".join(parts)


def encode_gray8_progressive(
    width: int, height: int, pixels: bytes, quant: int = 1
) -> bytes:
    """Encode grayscale as a PROGRESSIVE (SOF2) JFIF JPEG: the same
    quantized coefficients as :func:`encode_gray8`, entropy-coded
    across multiple spectral-selection + successive-approximation
    scans — so decoding a progressive encode must reproduce the
    baseline decode bit-for-bit (pinned in tests)."""
    _check_dims(width, height)
    if len(pixels) != width * height:
        raise ValueError("pixel buffer does not match dimensions")
    if not 1 <= quant <= 255:
        raise ValueError("quant must be in 1..255")
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    zz = _plane_to_zz(img, quant)
    gw = (width + 7) // 8
    gh = (height + 7) // 8
    geo = [(1, 1, gw, (gh, gw))]
    return _prog_frame(width, height, quant, [zz], geo, (gw, gh))


def encode_rgb8_progressive(
    width: int,
    height: int,
    pixels: bytes,
    quant: int = 1,
    subsample: bool = False,
) -> bytes:
    """Encode RGB as a PROGRESSIVE (SOF2) color JPEG at 4:4:4 or
    4:2:0 — identical coefficients to :func:`encode_rgb8` (shared
    BT.601 transform and chroma downsampling), progressive entropy
    coding."""
    _check_dims(width, height)
    if len(pixels) != width * height * 3:
        raise ValueError("pixel buffer does not match dimensions")
    if not 1 <= quant <= 255:
        raise ValueError("quant must be in 1..255")
    planes = _bt601_planes(pixels, width, height)
    if not subsample:
        zzs = [_plane_to_zz(p, quant) for p in planes]
        gw = (width + 7) // 8
        gh = (height + 7) // 8
        geo = [(1, 1, gw, (gh, gw))] * 3
        return _prog_frame(width, height, quant, zzs, geo, (gw, gh))
    yp, chroma = _subsample_420(planes, width, height)
    zz_y = _plane_to_zz(yp, quant)
    zz_c = [_plane_to_zz(p, quant) for p in chroma]
    mcux, mcuy = yp.shape[1] // 16, yp.shape[0] // 16
    geo = [
        (2, 2, 2 * mcux, ((height + 7) // 8, (width + 7) // 8)),
        (1, 1, mcux, (mcuy, mcux)),
        (1, 1, mcux, (mcuy, mcux)),
    ]
    return _prog_frame(
        width, height, quant, [zz_y] + zz_c, geo, (mcux, mcuy)
    )


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def read_bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG: entropy stream ran out")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if (
                    self.pos >= len(self.data)
                    or self.data[self.pos] != 0x00
                ):
                    raise ValueError(
                        "unexpected marker inside entropy-coded scan"
                    )
                self.pos += 1  # skip the stuffed 0x00
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def read_bits(self, count: int) -> int:
        v = 0
        for _ in range(count):
            v = (v << 1) | self.read_bit()
        return v


def _decode_table(bits, vals):
    """((length, code) -> symbol) map for canonical Huffman decode."""
    out = {}
    code = 0
    k = 0
    for length, n in enumerate(bits, start=1):
        for _ in range(n):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


def _read_symbol(reader: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in scan")


def _extend(amp: int, cat: int) -> int:
    # inverse of _magnitude: top bit set -> positive, else negative
    if cat == 0:
        return 0
    if amp >> (cat - 1):
        return amp
    return amp - (1 << cat) + 1


def _next_marker(data: bytes, pos: int) -> int:
    """Index of the next marker (0xFF followed by a non-stuffing,
    non-fill byte) at or after ``pos`` — how a multi-scan decoder
    finds where one scan's entropy segment ends."""
    i = pos
    n = len(data)
    while True:
        i = data.find(b"\xff", i)
        if i < 0 or i + 1 >= n:
            raise ValueError("truncated JPEG: no marker after scan data")
        nxt = data[i + 1]
        if nxt == 0x00:  # stuffed 0xFF00: entropy data, keep going
            i += 2
            continue
        if nxt == 0xFF:  # fill byte before a marker
            i += 1
            continue
        return i


def _seq_scan(reader, zz, sof_comps, grids, tabs_for, mcux, mcuy) -> None:
    """The single interleaved baseline scan: per MCU, each component
    contributes its h x v blocks in raster order (4 Y, 1 Cb, 1 Cr at
    4:2:0; one block each at 1x1 factors), DC differentially
    predicted, AC run-length coded."""
    prev_dc = [0] * len(sof_comps)
    for my in range(mcuy):
        for mx in range(mcux):
            for c, (_, h, v, _) in enumerate(sof_comps):
                dc_tab, ac_tab = tabs_for[c]
                for bv in range(v):
                    for bhx in range(h):
                        b = (my * v + bv) * grids[c][1] + mx * h + bhx
                        cat = _read_symbol(reader, dc_tab)
                        if cat > 15:
                            # a crafted DHT can map a code to any value
                            # byte; an unchecked category would overflow
                            # the int64 store outside the ValueError contract
                            raise ValueError("DC category exceeds 15")
                        diff = _extend(reader.read_bits(cat), cat)
                        prev_dc[c] += diff
                        zz[c][b, 0] = prev_dc[c]
                        i = 1
                        while i < 64:
                            sym = _read_symbol(reader, ac_tab)
                            if sym == 0x00:  # EOB
                                break
                            if sym == 0xF0:  # ZRL
                                i += 16
                                if i > 63:
                                    raise ValueError(
                                        "AC run overflows block"
                                    )
                                continue
                            run, cat = sym >> 4, sym & 0x0F
                            i += run
                            if i > 63:
                                raise ValueError("AC run overflows block")
                            zz[c][b, i] = _extend(
                                reader.read_bits(cat), cat
                            )
                            i += 1


def _prog_dc_scan(reader, zz, pairs, ah, al) -> None:
    """One progressive DC scan (T.81 G.1.2.1). ``pairs`` lists
    (component, block index, dc table) in coded order
    (MCU-interleaved when ns > 1, component raster order when
    ns = 1). First pass (Ah=0) Huffman-decodes DC diffs and stores
    them shifted by Al; refinement (Ah>0) reads one raw bit per
    block and ORs it at position Al (two's-complement OR — exactly
    how the successive-approximation bit plane composes for negative
    values)."""
    if ah == 0:
        pred = {}
        for c, b, dc_tab in pairs:
            cat = _read_symbol(reader, dc_tab)
            if cat > 15:
                raise ValueError("DC category exceeds 15")
            diff = _extend(reader.read_bits(cat), cat)
            pred[c] = pred.get(c, 0) + diff
            zz[c][b, 0] = pred[c] << al
    else:
        for c, b, _ in pairs:
            if reader.read_bit():
                zz[c][b, 0] |= 1 << al


def _prog_ac_first(reader, band, ac_tab, ss, se, al, eobrun) -> int:
    """AC first pass for one block's band (T.81 G.1.2.2): run-length
    coded magnitudes shifted by Al, with EOBn codes carrying a run of
    all-zero bands. Returns the updated EOB run count."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = _read_symbol(reader, ac_tab)
        r, s = sym >> 4, sym & 0x0F
        if s:
            k += r
            if k > se:
                raise ValueError("AC run overflows band")
            band[k] = _extend(reader.read_bits(s), s) << al
            k += 1
        else:
            if r == 15:  # ZRL: sixteen zero coefficients
                k += 16
                if k > se:
                    raise ValueError("AC run overflows band")
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += reader.read_bits(r)
            break
    return eobrun


def _prog_ac_refine(reader, band, ac_tab, ss, se, al, eobrun) -> int:
    """AC refinement pass for one block's band (T.81 G.1.2.3 /
    decoder procedure): newly-significant coefficients arrive as
    run-length codes with size 1; every already-nonzero coefficient
    passed by a code's advance walk contributes one correction bit;
    an EOB run appends correction bits for the remaining nonzero
    coefficients of every band in the run. Returns the updated EOB
    run count."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            sym = _read_symbol(reader, ac_tab)
            r, s = sym >> 4, sym & 0x0F
            val = 0
            if s:
                if s != 1:
                    raise ValueError(
                        "refinement scan: newly-significant size must be 1"
                    )
                val = p1 if reader.read_bit() else m1
            elif r != 15:
                eobrun = 1 << r
                if r:
                    eobrun += reader.read_bits(r)
                break  # rest of band joins the EOB logic below
            # advance over already-nonzero coefficients and r
            # still-zero ones, consuming correction bits inline
            while k <= se:
                if band[k] != 0:
                    if reader.read_bit() and (band[k] & p1) == 0:
                        band[k] += p1 if band[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                band[k] = val
            k += 1
    if eobrun > 0:
        # inside an EOB run every remaining nonzero coefficient of
        # the band still carries its correction bit
        while k <= se:
            if band[k] != 0 and reader.read_bit() and (band[k] & p1) == 0:
                band[k] += p1 if band[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _decode_planes(data: bytes) -> tuple[int, int, list[np.ndarray]]:
    """Decode a baseline-sequential (SOF0) or progressive (SOF2) JPEG
    into (width, height, [component planes]).

    Parses marker segments, builds the Huffman/quant tables the file
    declares, entropy-decodes the scan(s) — one interleaved scan for
    baseline; any conforming sequence of DC/AC spectral-selection and
    successive-approximation scans for progressive — dequantizes per
    component, inverse-zigzags, applies the IDCT, and crops MCU
    padding.
    """
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: missing SOI")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    width = height = None
    progressive = False
    sof_comps: list[tuple[int, int]] = []  # (component id, quant id)
    scan_tabs: list[tuple[int, int]] = []  # (dc id, ac id) in scan order
    scan_start = None
    # progressive state: coefficient accumulators + geometry, built
    # at the first SOS and carried across scans
    zz = None
    grids = true_grids = None
    mcux = mcuy = max_h = max_v = None
    while pos < len(data):
        # every read below is bounds-checked first: truncated input
        # must fail with the codec's ValueError contract, not a bare
        # IndexError/struct.error from a short buffer
        if pos + 2 > len(data):
            raise ValueError("truncated JPEG: incomplete marker")
        if data[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if pos + 4 > len(data):
            raise ValueError("truncated JPEG: incomplete marker segment")
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        body = data[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise ValueError("truncated JPEG: short segment body")
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            i = 0
            while i < len(body):
                if i + 65 > len(body):
                    raise ValueError("truncated DQT table")
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                tab = np.zeros(64, dtype=np.int64)
                tab[_ZIGZAG] = np.frombuffer(
                    body[i + 1 : i + 65], dtype=np.uint8
                )
                qtables[tq] = tab.reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                if i + 17 > len(body):
                    raise ValueError("truncated DHT header")
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = tuple(body[i + 1 : i + 17])
                n = sum(bits)
                if i + 17 + n > len(body):
                    raise ValueError("truncated DHT values")
                vals = tuple(body[i + 17 : i + 17 + n])
                htables[(tc, th)] = _decode_table(bits, vals)
                i += 17 + n
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            if sof_comps:
                raise ValueError("multiple SOF segments")
            progressive = marker == 0xC2
            if len(body) < 6:
                raise ValueError("truncated SOF segment")
            precision = body[0]
            height, width = struct.unpack(">HH", body[1:5])
            ncomp = body[5]
            if precision != 8 or ncomp not in (1, 3):
                raise NotImplementedError(
                    "only 8-bit 1-component (gray) or 3-component "
                    "(YCbCr) frames"
                )
            if len(body) < 6 + 3 * ncomp:
                raise ValueError("truncated SOF component list")
            for c in range(ncomp):
                cid, sampling, tq = body[6 + 3 * c : 9 + 3 * c]
                sof_comps.append(
                    (cid, sampling >> 4, sampling & 0x0F, tq)
                )
            samp = [(h, v) for (_, h, v, _) in sof_comps]
            if not (
                all(s == (1, 1) for s in samp)
                or (ncomp == 3 and samp == [(2, 2), (1, 1), (1, 1)])
            ):
                raise NotImplementedError(
                    "only 1x1 sampling (gray / 4:4:4) or 2x2-luma "
                    "4:2:0 supported"
                )
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9,
                        0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only baseline-sequential (SOF0) and progressive "
                "(SOF2) JPEG frames"
            )
        elif marker == 0xDD:  # DRI: restart markers are not decoded
            if len(body) >= 2 and struct.unpack(">H", body[:2])[0] != 0:
                raise NotImplementedError(
                    "restart intervals (DRI/RSTn) not supported"
                )
        elif marker == 0xDA:  # SOS — entropy data follows
            if not sof_comps:
                raise ValueError("SOS before SOF")
            if len(body) < 1:
                raise ValueError("truncated SOS segment")
            ns = body[0]
            if ns not in (1, 3) or (not progressive and ns != len(sof_comps)):
                raise NotImplementedError(
                    "scan component count must be 1 or 3 (matching "
                    "SOF0 for baseline)"
                )
            if len(body) < 4 + 2 * ns:
                raise ValueError("truncated SOS component list")
            by_id = {
                comp[0]: i for i, comp in enumerate(sof_comps)
            }
            scan_idx: list[int] = []  # frame-component index per scan slot
            scan_tabs = []
            for c in range(ns):
                cid = body[1 + 2 * c]
                tabs = body[2 + 2 * c]
                if cid not in by_id:
                    raise ValueError("SOS references unknown component")
                if by_id[cid] in scan_idx:
                    raise ValueError("SOS lists a component twice")
                scan_idx.append(by_id[cid])
                scan_tabs.append((tabs >> 4, tabs & 0x0F))
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah, al = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 0x0F
            if not progressive:
                if (ss, se, ah, al) != (0, 63, 0, 0):
                    raise ValueError(
                        "baseline scan must cover the full band"
                    )
                if scan_idx != list(range(len(sof_comps))):
                    raise ValueError(
                        "baseline scan must list components in SOF order"
                    )
            scan_start = pos + 2 + seglen
            if zz is None:
                # first scan: validate size, build geometry, allocate
                # coefficient accumulators. Size guard BEFORE
                # allocation: a ~200-byte crafted file can declare
                # 65535x65535x3 (~100 GB of int64 coefficients).
                if width * height > 1 << 26:
                    raise ValueError(
                        "declared image size exceeds this decoder's "
                        "64-megapixel cap"
                    )
                max_h = max(h for (_, h, _v, _) in sof_comps)
                max_v = max(v for (_, _h, v, _) in sof_comps)
                mcux = (width + 8 * max_h - 1) // (8 * max_h)
                mcuy = (height + 8 * max_v - 1) // (8 * max_v)
                # per-component block grids (blocks down, across) on
                # the MCU-padded lattice, plus the TRUE grids ceil-
                # derived from component dimensions — non-interleaved
                # scans code only true-grid blocks (T.81 A.2.2)
                grids = [(mcuy * v, mcux * h) for (_, h, v, _) in sof_comps]
                true_grids = []
                for (_, h, v, _) in sof_comps:
                    cw = (width * h + max_h - 1) // max_h
                    chh = (height * v + max_v - 1) // max_v
                    true_grids.append(
                        ((chh + 7) // 8, (cw + 7) // 8)
                    )
                zz = [
                    np.zeros((bh * bw, 64), dtype=np.int64)
                    for bh, bw in grids
                ]
            # resolve this scan's Huffman tables (DC unused by AC
            # scans and vice versa in progressive — only require what
            # the scan actually consumes)
            need_dc = ss == 0 and (not progressive or ah == 0)
            need_ac = se > 0
            tabs_for: list[tuple] = []
            for slot, ci in enumerate(scan_idx):
                dc_id, ac_id = scan_tabs[slot]
                dc_tab = htables.get((0, dc_id))
                ac_tab = htables.get((1, ac_id))
                if need_dc and dc_tab is None:
                    raise ValueError(
                        "scan references an undeclared Huffman table"
                    )
                if need_ac and ac_tab is None:
                    raise ValueError(
                        "scan references an undeclared Huffman table"
                    )
                tabs_for.append((dc_tab, ac_tab))
            if not progressive:
                # single interleaved scan bounded by EOI
                end = data.rfind(b"\xff\xd9")
                if end < scan_start:
                    raise ValueError("truncated JPEG: missing EOI")
                reader = _BitReader(data[scan_start:end])
                _seq_scan(
                    reader, zz, sof_comps, grids, tabs_for, mcux, mcuy
                )
                pos = end
                continue
            # progressive: decode this scan, keep parsing markers
            end = _next_marker(data, scan_start)
            reader = _BitReader(data[scan_start:end])
            if ss == 0:
                if se != 0:
                    raise ValueError(
                        "progressive DC scan must have Se = 0"
                    )
                if ah and al != ah - 1:
                    raise ValueError(
                        "successive approximation must refine one bit"
                    )
                pairs = []
                if len(scan_idx) > 1:
                    # interleaved DC scan: MCU order, h x v blocks
                    # per component per MCU
                    for my in range(mcuy):
                        for mx in range(mcux):
                            for slot, ci in enumerate(scan_idx):
                                _, h, v, _ = sof_comps[ci]
                                for bv in range(v):
                                    for bhx in range(h):
                                        b = (
                                            (my * v + bv) * grids[ci][1]
                                            + mx * h + bhx
                                        )
                                        pairs.append(
                                            (ci, b, tabs_for[slot][0])
                                        )
                else:
                    ci = scan_idx[0]
                    th, tw = true_grids[ci]
                    stride = grids[ci][1]
                    for r in range(th):
                        for col in range(tw):
                            pairs.append(
                                (ci, r * stride + col, tabs_for[0][0])
                            )
                _prog_dc_scan(reader, zz, pairs, ah, al)
            else:
                if len(scan_idx) != 1:
                    raise ValueError(
                        "progressive AC scan must be non-interleaved"
                    )
                if not 1 <= ss <= se <= 63:
                    raise ValueError("invalid spectral band")
                if ah and al != ah - 1:
                    raise ValueError(
                        "successive approximation must refine one bit"
                    )
                ci = scan_idx[0]
                ac_tab = tabs_for[0][1]
                th, tw = true_grids[ci]
                stride = grids[ci][1]
                eobrun = 0
                step = _prog_ac_refine if ah else _prog_ac_first
                for r in range(th):
                    for col in range(tw):
                        band = zz[ci][r * stride + col]
                        eobrun = step(
                            reader, band, ac_tab, ss, se, al, eobrun
                        )
            pos = end
            continue
        # APPn/COM/etc: skip
        pos += 2 + seglen
    if width is None or zz is None:
        raise ValueError("missing SOF/SOS")
    comp_tabs = []
    for cid, ch, cv, tq in sof_comps:
        if tq not in qtables:
            raise ValueError("scan references an undeclared quant table")
        comp_tabs.append((qtables[tq],))
    max_h = max(h for (_, h, _v, _) in sof_comps)
    max_v = max(v for (_, _h, v, _) in sof_comps)

    planes = []
    for c, (_, h, v, _) in enumerate(sof_comps):
        bh, bw = grids[c]
        deq = np.zeros((bh * bw, 64), dtype=np.float64)
        deq[:, _ZIGZAG] = zz[c]
        coeffs = deq.reshape(-1, 8, 8) * comp_tabs[c][0]
        spatial = np.einsum("xu,nuv,yv->nxy", _M.T, coeffs, _M.T)
        # clamp each component to [0,255] BEFORE any downstream use —
        # T.81 sample clamping; a ringing overshoot (e.g. Cb=256)
        # must not enter the color transform un-clamped
        img = (
            np.clip(np.rint(spatial) + 128.0, 0, 255)
            .reshape(bh, bw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw * 8)
        )
        # T.81 component dimensions: ceil(size * factor / max_factor)
        cw = (width * h + max_h - 1) // max_h
        chh = (height * v + max_v - 1) // max_v
        planes.append(img[:chh, :cw])
    return width, height, planes


def decode_gray8(data: bytes) -> tuple[int, int, bytes]:
    """Decode a baseline GRAYSCALE JPEG into (width, height, bytes).
    A color (3-component) file raises — use :func:`decode_rgb8`."""
    width, height, planes = _decode_planes(data)
    if len(planes) != 1:
        raise ValueError("color JPEG: use decode_rgb8")
    return width, height, planes[0].astype(np.uint8).tobytes()


def decode_rgb8(data: bytes) -> tuple[int, int, bytes]:
    """Decode a baseline COLOR JPEG (YCbCr at 4:4:4 or 4:2:0) into
    (width, height, row-major RGB bytes) via the BT.601 inverse
    transform; subsampled chroma upsamples by sample replication.
    A grayscale file raises — use :func:`decode_gray8`."""
    width, height, planes = _decode_planes(data)
    if len(planes) != 3:
        raise ValueError("grayscale JPEG: use decode_gray8")
    y, cb, cr = planes
    if cb.shape != y.shape:  # 4:2:0 — replicate chroma 2x2
        cb = np.repeat(np.repeat(cb, 2, 0), 2, 1)[:height, :width]
        cr = np.repeat(np.repeat(cr, 2, 0), 2, 1)[:height, :width]
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return width, height, (
        np.clip(np.rint(rgb), 0, 255).astype(np.uint8).tobytes()
    )
