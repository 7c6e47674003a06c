"""The JPEG and FLAC kernels: pinned output digests, the exactness of the
matmul DCT on flat blocks, the DCT's tie rounding, and the byte-window bit
readers and table CRCs against bit-by-bit reference definitions."""

from __future__ import annotations

import hashlib
import random

import numpy as np
import pytest

from map_reduce_server_spark.functions import flac, jpeg
from map_reduce_server_spark.operators import multimodal as mm


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _payload_legs():
    """Each heavy codec leg's encode + decode over its own payload recipe
    (``multimodal.py``), with ``text = str(i)``."""
    return {
        "jpeg": lambda t: _roundtrip(
            jpeg.encode_gray8(32, 24, mm._flat_block_gray(_md5(t)[:24])),
            jpeg.decode_gray8,
        ),
        "jpeg_progressive": lambda t: _roundtrip(
            jpeg.encode_gray8_progressive(
                32, 24, mm._flat_block_gray(_md5("p" + t)[:24])
            ),
            jpeg.decode_gray8,
        ),
        "jpeg_color_420": lambda t: _roundtrip(
            jpeg.encode_rgb8(
                32, 32, mm._flat_mcu_rgb(_md5("c" + t)[:24]), subsample=True
            ),
            jpeg.decode_rgb8,
        ),
        "mjpeg_avi": lambda t: _roundtrip(
            mm._encode_video("".join(_md5(f"f{f}" + t)[:24] for f in range(4))),
            mm._video_stats,
        ),
        "flac": lambda t: _roundtrip(
            flac.encode_s16(
                mm._int16s("".join(_md5(s + t) for s in "pqrs")), 8000
            ),
            flac.decode_s16,
        ),
    }


def _general_legs():
    """General (not flat) content from md5 bytes: odd sizes, non-unit
    quantization, every frame type. Blocks here hold exact .5 ties in the
    forward DCT, so this digest pins their rounding too."""

    def pixels(i: int, n: int) -> bytes:
        out = b"".join(hashlib.md5(f"{i}:{k}".encode()).digest()
                       for k in range(n // 16 + 1))
        return out[:n]

    def size(i: int) -> tuple[int, int, int]:
        return 1 + i % 37, 1 + (i * 7) % 29, (1, 3, 16)[i % 3]

    def gray(i, enc):
        w, h, q = size(i)
        return _roundtrip(enc(w, h, pixels(i, w * h), quant=q),
                          jpeg.decode_gray8)

    def color(i, enc, sub):
        w, h, q = size(i)
        return _roundtrip(
            enc(w, h, pixels(i, 3 * w * h), quant=q, subsample=sub),
            jpeg.decode_rgb8,
        )

    return {
        "gray": lambda i: gray(i, jpeg.encode_gray8),
        "gray_progressive": lambda i: gray(i, jpeg.encode_gray8_progressive),
        "color_444": lambda i: color(i, jpeg.encode_rgb8, False),
        "color_420": lambda i: color(i, jpeg.encode_rgb8, True),
        "color_420_progressive": lambda i: color(
            i, jpeg.encode_rgb8_progressive, True
        ),
    }


def _roundtrip(data: bytes, decode) -> bytes:
    return len(data).to_bytes(4, "big") + data + repr(decode(data)).encode()


def _digest(fn, keys) -> str:
    h = hashlib.sha256()
    for k in keys:
        h.update(fn(k))
    return h.hexdigest()


# SHA-256 over (encoded bytes, repr of the decode result) per input,
# generated with the einsum DCT and bit-at-a-time readers of commit
# 585e252; the matmul DCT and byte-window readers must match them.
PAYLOAD_DIGESTS = {
    "jpeg": (
        "32cd7e5ab204ba7e42ea6eeef9ab7fb3d1c2ca67536c697f9891002a888c8c08"
    ),
    "jpeg_progressive": (
        "fedb6c6c70160cc9a8cb2361b4ad27e862e69d52600a40e53331adcc3340c258"
    ),
    "jpeg_color_420": (
        "6749e8f12f7417e8c019a62075d7b14e010cc635fa181713ee6616eed0cd9100"
    ),
    "mjpeg_avi": (
        "f52732c4eef07bc3a42e9ce2221fb016d22cf19ef0fe58e7d1550bad1949705f"
    ),
    "flac": (
        "b69b625ee71f9f7aa215dc82788a4727e37bb0fb31c60a883ed3d244895ca779"
    ),
}
GENERAL_DIGESTS = {
    "gray": (
        "b2be4b94b6d4f72fc3af17dfadb1431ce5c880935c029aabac752ca88ceb3408"
    ),
    "gray_progressive": (
        "3b3df4e031c8856062f8e34349a8f24add232742e742969a22f13e7efc633798"
    ),
    "color_444": (
        "7ffa3971512f8d4a2c15ce19319e9bf53086ce140297fc69188d905aa23ee4bc"
    ),
    "color_420": (
        "d365856c4f1e7c6d761469e80ea026279254a45106af9c5eba62e31d91a8c568"
    ),
    "color_420_progressive": (
        "3ae3360f43022dcfefac73fe9cc95b1c857332e24d8c43937379fd4d6e59720d"
    ),
}


@pytest.mark.parametrize("leg", sorted(PAYLOAD_DIGESTS))
def test_payload_outputs_match_pinned_digests(leg):
    fn = _payload_legs()[leg]
    assert _digest(fn, (str(i) for i in range(200))) == PAYLOAD_DIGESTS[leg]


@pytest.mark.parametrize("leg", sorted(GENERAL_DIGESTS))
def test_general_content_outputs_match_pinned_digests(leg):
    fn = _general_legs()[leg]
    assert _digest(fn, range(40)) == GENERAL_DIGESTS[leg]


# --- DCT exactness --------------------------------------------------------


def test_flat_blocks_exact_for_every_value():
    """Every flat-block value v: the forward transform rounds to a lone DC
    of 8(v-128) and the inverse returns v, in the gray path and through the
    4:2:0 color path (R=G=B=v gives Y=v, Cb=Cr=128). The unrounded error of
    both matmuls stays far inside the 0.5 rounding margin."""
    for v in range(256):
        shifted = np.full((1, 8, 8), v - 128.0)
        coeffs = jpeg._M @ shifted @ jpeg._M.T
        lone_dc = np.zeros((1, 8, 8))
        lone_dc[0, 0, 0] = 8 * (v - 128)
        assert np.abs(coeffs - lone_dc).max() < 1e-9
        assert np.abs(jpeg._M.T @ lone_dc @ jpeg._M - shifted).max() < 1e-9

        gray = jpeg._plane_to_zz(np.full((8, 8), v, np.uint8), 1)
        assert gray == [[8 * (v - 128)] + [0] * 63]
        assert (jpeg._dct_rint(lone_dc, inverse=True) == v - 128).all()
        assert jpeg.decode_gray8(jpeg.encode_gray8(8, 8, bytes([v]) * 64)) == (
            8, 8, bytes([v]) * 64
        )

        planes = jpeg._bt601_planes(bytes([v]) * (3 * 256), 16, 16)
        y, chroma = jpeg._subsample_420(planes, 16, 16)
        assert jpeg._plane_to_zz(y, 1) == gray * 4
        for c in chroma:
            assert jpeg._plane_to_zz(c, 1) == [[0] * 64]
        rgb = bytes([v]) * (3 * 256)
        assert jpeg.decode_rgb8(
            jpeg.encode_rgb8(16, 16, rgb, subsample=True)
        ) == (16, 16, rgb)


def test_dct_ties_round_as_the_einsum_form():
    """Blocks with exact .5 ties in either direction round as the
    three-operand einsum form does, whichever form computed them."""
    rng = np.random.default_rng(3)
    fwd = rng.integers(-128, 128, (400, 8, 8)).astype(np.float64)
    fwd[::2, 0, 0] += 4 - fwd[::2].sum(axis=(1, 2)) % 8  # DC sum 4 mod 8
    for q in (1, 2, 3, 16):
        ref = np.rint(np.einsum("ux,nxy,vy->nuv", jpeg._M, fwd, jpeg._M) / q)
        assert np.array_equal(jpeg._dct_rint(fwd, q), ref)
    # only the rational basis terms (u, v in {0, 4}) set: spatial values
    # are multiples of 1/8, many of them exact .5 ties
    inv = np.zeros((400, 8, 8))
    for u in (0, 4):
        for v in (0, 4):
            inv[:, u, v] = rng.integers(-64, 65, 400)
    ref = np.rint(np.einsum("xu,nuv,yv->nxy", jpeg._M.T, inv, jpeg._M.T))
    assert np.array_equal(jpeg._dct_rint(inv, inverse=True), ref)


# --- bit readers against bit-by-bit references ----------------------------


def _jpeg_reference_bits(data: bytes):
    """The entropy segment's bits one at a time, unstuffing 0xFF00; ends
    with the error a reader must raise on the next bit."""
    pos = 0
    while True:
        if pos >= len(data):
            yield "truncated JPEG: entropy stream ran out"
            return
        b = data[pos]
        pos += 1
        if b == 0xFF:
            if pos >= len(data) or data[pos] != 0x00:
                yield "unexpected marker inside entropy-coded scan"
                return
            pos += 1
        for k in range(7, -1, -1):
            yield (b >> k) & 1


def _entropy_like(rng: random.Random) -> bytes:
    out = bytearray()
    for _ in range(rng.randint(0, 40)):
        r = rng.random()
        if r < 0.15:
            out += b"\xff\x00"
        elif r < 0.18:
            out += bytes([0xFF, rng.choice([0xD9, 0xC4, 0xFF, 0x01])])
        else:
            out.append(rng.randrange(256))
    if rng.random() < 0.1:
        out.append(0xFF)  # a lone 0xFF as the last byte
    return bytes(out)


def test_jpeg_reader_matches_bitwise_reference():
    """Random segments with stuffing and stray markers, read in random
    widths 0-16 and Huffman symbols: every value and the error that ends
    each stream match a bit-by-bit unstuffing reader and a shortest-first
    code search."""
    rng = random.Random(11)
    tables = [
        (jpeg._DC_BITS, jpeg._DC_VALS),
        (jpeg._AC_BITS, jpeg._AC_VALS),
        (jpeg._PROG_AC_BITS, jpeg._PROG_AC_VALS),
    ]
    for _ in range(600):
        data = _entropy_like(rng)
        ref = _jpeg_reference_bits(data)
        reader = jpeg._BitReader(data)
        bits, vals = rng.choice(tables)
        codes = {(ln, c): s for s, (c, ln) in
                 jpeg._canonical_codes(bits, vals).items()}
        table = jpeg._decode_table(bits, vals)
        while True:
            if rng.random() < 0.5:
                want = code = 0
                for ln in range(1, 17):
                    bit = next(ref)
                    if isinstance(bit, str):
                        want = bit
                        break
                    code = (code << 1) | bit
                    if (ln, code) in codes:
                        want = codes[(ln, code)]
                        break
                else:
                    want = "invalid Huffman code in scan"
                read = lambda: reader.read_symbol(table)  # noqa: E731
            else:
                width = rng.randint(0, 16)
                want = 0
                for _ in range(width):
                    bit = next(ref)
                    if isinstance(bit, str):
                        want = bit
                        break
                    want = (want << 1) | bit
                read = lambda: reader.read_bits(width)  # noqa: E731
            if isinstance(want, str):
                with pytest.raises(ValueError, match=want):
                    read()
                break
            assert read() == want


class _FlacReference:
    """The bit-at-a-time MSB-first reader the byte-window reader must
    equal."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data, self.byte, self.bit = data, pos, 0

    def read(self, bits: int) -> int:
        v = 0
        for _ in range(bits):
            if self.byte >= len(self.data):
                raise ValueError("flac: bitstream truncated")
            v = (v << 1) | ((self.data[self.byte] >> (7 - self.bit)) & 1)
            self.bit += 1
            if self.bit == 8:
                self.bit, self.byte = 0, self.byte + 1
        return v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q


def test_flac_reader_matches_bitwise_reference():
    """Every start bit offset, widths 0-36, signed reads, unary runs across
    zero bytes, and truncation: the same values, and ValueError exactly
    where the reference raises."""
    rng = random.Random(5)
    for trial in range(300):
        data = bytes(rng.choice([0, 0, rng.randrange(256)])
                     for _ in range(rng.randint(0, 24)))
        start = rng.randint(0, 2)
        ref = _FlacReference(data, start)
        got = flac._BitReader(data, start)
        skip = trial % 8  # every bit offset inside a byte
        if 8 * (len(data) - start) < skip:
            continue
        assert got.read(skip) == ref.read(skip)
        while True:
            op = rng.choice(["read", "read", "signed", "unary"])
            width = rng.randint(1 if op == "signed" else 0, 36)
            try:
                if op == "unary":
                    want = ref.read_unary()
                else:
                    want = ref.read(width)
                    if op == "signed" and want >= 1 << (width - 1):
                        want -= 1 << width
            except ValueError:
                with pytest.raises(ValueError, match="truncated"):
                    {"read": got.read, "signed": got.read_signed,
                     "unary": lambda _w: got.read_unary()}[op](width)
                break
            if op == "unary":
                assert got.read_unary() == want
            elif op == "signed":
                assert got.read_signed(width) == want
            else:
                assert got.read(width) == want
            assert got.pos == 8 * ref.byte + ref.bit


def _crc_bitwise(data: bytes, poly: int, width: int) -> int:
    crc, top, mask = 0, 1 << (width - 1), (1 << width) - 1
    for b in data:
        crc ^= b << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly if crc & top else crc << 1) & mask
    return crc


def test_crc_tables_match_bitwise_definitions():
    rng = random.Random(9)
    for n in list(range(40)) + [rng.randint(40, 2000) for _ in range(40)]:
        data = bytes(rng.randrange(256) for _ in range(n))
        assert flac._crc8(data) == _crc_bitwise(data, 0x07, 8)
        assert flac._crc16(data) == _crc_bitwise(data, 0x8005, 16)
