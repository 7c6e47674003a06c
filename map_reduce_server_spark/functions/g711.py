"""Pure-stdlib G.711 mu-law codec + RIFF/WAVE container (format 7).

ITU-T G.711 mu-law is a logarithmic 16-bit -> 8-bit companding codec, and
WAVE_FORMAT_MULAW (format tag 7) is its RIFF container. The stdlib ``wave``
module only writes PCM, so the container is framed here.

Exactness contract the oracle twins rely on: mu-law is exactly
invertible ON ITS OWN CODEBOOK — ``encode(decode(c)) == c`` for
every code except the negative-zero code 0x7F (decode gives 0, which
re-encodes to the positive-zero code 0xFF), and ``decode`` has the
closed integer form

    cc  = 255 - c          (G.711 transmits codes inverted)
    e   = (cc >> 4) & 7    (exponent)
    m   = cc & 15          (mantissa)
    mag = ((2*m + 33) << (e + 2)) - 132
    val = -mag if cc >= 128 else mag

which a SQL oracle replays verbatim. A-law (format tag 6) is implemented
alongside in the same closed form; without mu-law's negative-zero quirk, its
codebook is invertible on all 256 codes. Mono G.711 only; IMA ADPCM lives in
:mod:`.adpcm`.
"""

from __future__ import annotations

import struct

_BIAS = 0x84
_CLIP = 32635


def encode_sample(s: int) -> int:
    """Linear int16 -> mu-law code byte (ITU G.711)."""
    if not -32768 <= s <= 32767:
        raise ValueError("sample out of int16 range")
    sign = 0x80 if s < 0 else 0
    if s < 0:
        s = -s
    if s > _CLIP:
        s = _CLIP
    s += _BIAS
    e = 7
    mask = 0x4000
    while e > 0 and not (s & mask):
        mask >>= 1
        e -= 1
    m = (s >> (e + 3)) & 0x0F
    return ~(sign | (e << 4) | m) & 0xFF


def decode_sample(c: int) -> int:
    """Mu-law code byte -> linear int16 (closed integer form)."""
    if not 0 <= c <= 255:
        raise ValueError("code out of byte range")
    cc = ~c & 0xFF
    e = (cc >> 4) & 7
    m = cc & 0x0F
    mag = ((2 * m + 33) << (e + 2)) - 132
    return -mag if cc & 0x80 else mag


# Segment upper edges of the 13-bit A-law quantizer (G.711 Table 1a,
# as tabulated in the public-domain Sun g711.c that CPython's audioop
# reference implementation uses).
_ALAW_SEG_END = (0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF)


def encode_alaw_sample(s: int) -> int:
    """Linear int16 -> A-law code byte (ITU G.711; even bits toggled
    by the spec's 0x55 mask). Bit-exact to CPython's audioop
    ``lin2alaw`` on EVERY int16 input (property-tested exhaustively):
    the sample is floor-shifted to the 13-bit domain first and the
    negative path encodes ``-pcm - 1``, so negative segment lower
    boundaries land in the same segment audioop picks."""
    if not -32768 <= s <= 32767:
        raise ValueError("sample out of int16 range")
    p = s >> 3  # arithmetic shift: A-law quantizes 13-bit samples
    if p >= 0:
        mask = 0xD5  # sign bit SET = positive, under the 0x55 toggle
    else:
        mask = 0x55
        p = -p - 1
    # The int16 guard bounds p to [-4096, 4095] and the negative path
    # to [0, 4095] = _ALAW_SEG_END[-1], so the search always lands.
    seg = next(i for i, end in enumerate(_ALAW_SEG_END) if p <= end)
    m = (p >> 1) & 0x0F if seg < 2 else (p >> seg) & 0x0F
    return (seg << 4 | m) ^ mask


def decode_alaw_sample(c: int) -> int:
    """A-law code byte -> linear int16 (closed integer form,
    verified code-for-code against CPython's audioop reference).
    Unlike mu-law there is no zero output: every code decodes to a
    nonzero quantizer midpoint, so encode(decode(c)) == c for ALL
    256 codes."""
    if not 0 <= c <= 255:
        raise ValueError("code out of byte range")
    cc = c ^ 0x55
    e = (cc >> 4) & 7
    m = cc & 0x0F
    mag = (m << 4) + 8 if e == 0 else ((m << 4) + 0x108) << (e - 1)
    return mag if cc & 0x80 else -mag


# RIFF format tags for the two companding laws.
_TAG_ALAW, _TAG_MULAW = 6, 7
# 256-entry expansion tables, built once from the same closed forms
# the SQL oracles replay: the per-byte decode is the file's only hot
# loop (it runs inside Arrow-batched workers for every payload), and
# a list index beats a Python call + range guard per sample.
_LAW = {
    _TAG_ALAW: (
        "WAVE_FORMAT_ALAW (6)",
        tuple(decode_alaw_sample(c) for c in range(256)),
    ),
    _TAG_MULAW: (
        "WAVE_FORMAT_MULAW (7)",
        tuple(decode_sample(c) for c in range(256)),
    ),
}


def _encode_wav_g711(framerate: int, codes: bytes, tag: int) -> bytes:
    fmt = struct.pack(
        "<HHIIHH", tag, 1, framerate, framerate, 1, 8
    )  # tag, channels, rate, byte rate, block align, bits
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(codes)) + codes
        + (b"\x00" if len(codes) % 2 else b"")  # RIFF word padding
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def encode_wav_mulaw(framerate: int, codes: bytes) -> bytes:
    """Frame mu-law code bytes as a RIFF/WAVE file (format tag 7,
    mono, 8 bits per sample)."""
    return _encode_wav_g711(framerate, codes, _TAG_MULAW)


def encode_wav_alaw(framerate: int, codes: bytes) -> bytes:
    """Frame A-law code bytes as a RIFF/WAVE file (format tag 6,
    mono, 8 bits per sample)."""
    return _encode_wav_g711(framerate, codes, _TAG_ALAW)


def decode_wav_mulaw(data: bytes) -> tuple[int, list[int]]:
    """Parse a WAVE_FORMAT_MULAW file -> (framerate, int16 samples).

    Validates the RIFF framing and the format tag; walks unknown
    chunks by their declared size like any conforming reader.
    """
    return _decode_wav_g711(data, _TAG_MULAW)


def decode_wav_alaw(data: bytes) -> tuple[int, list[int]]:
    """Parse a WAVE_FORMAT_ALAW file -> (framerate, int16 samples)."""
    return _decode_wav_g711(data, _TAG_ALAW)


def _decode_wav_g711(data: bytes, want_tag: int) -> tuple[int, list[int]]:
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    (riff_len,) = struct.unpack("<I", data[4:8])
    if riff_len + 8 > len(data):
        raise ValueError("truncated RIFF: declared size exceeds data")
    pos = 12
    framerate = None
    codes = None
    # bound the walk by the DECLARED riff size, not len(data): bytes
    # past the RIFF payload are trailing garbage, not chunks — a
    # stray 'data' header there must not overwrite the real samples
    end = 8 + riff_len
    while pos + 8 <= end:
        tag = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + size]
        if pos + 8 + size > end or len(body) != size:
            raise ValueError(f"truncated {tag!r} chunk")
        if tag == b"fmt ":
            if framerate is not None:
                # same silent-overwrite class as duplicate data: a
                # second fmt must not reattribute the samples to a
                # different rate
                raise ValueError("duplicate fmt chunk")
            # conforming fmt chunks carry at least the 16-byte
            # common fields; parse through bits-per-sample so a
            # 16-bit or multi-byte-frame file fails loud instead of
            # expanding every byte as a G.711 code (garbage samples)
            if size < 16:
                raise ValueError("fmt chunk too short")
            fmt_tag, channels, framerate, _byterate, align, bits = (
                struct.unpack("<HHIIHH", body[:16])
            )
            if fmt_tag != want_tag:
                raise NotImplementedError(
                    f"format tag {fmt_tag}: only {_LAW[want_tag][0]}"
                )
            if channels != 1:
                raise NotImplementedError("only mono G.711")
            if bits != 8 or align != 1:
                raise NotImplementedError(
                    "only 8-bit mono G.711 (block align 1)"
                )
        elif tag == b"data":
            if codes is not None:
                # conforming files have exactly ONE data chunk; a
                # second must not silently overwrite the samples
                raise ValueError("duplicate data chunk")
            codes = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if framerate is None or codes is None:
        raise ValueError("missing fmt /data chunk")
    expand = _LAW[want_tag][1]
    return framerate, [expand[c] for c in codes]
