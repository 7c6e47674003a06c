"""Pure-stdlib AVI container for Motion-JPEG video.

Video with no external library: AVI is RIFF framing (the same
chunk discipline as WAV) and Motion-JPEG is "every frame is a
baseline JPEG" — which :mod:`.jpeg` already encodes and decodes for
real. Together they make an actual playable video file format
(``RIFF 'AVI '`` / ``hdrl`` / ``movi`` with ``00dc`` frame chunks,
fccHandler ``MJPG``), built from struct alone.

Scope is honest: single video stream, grayscale baseline-JPEG
frames, no audio track, no ``idx1`` index (readers stream ``movi``
sequentially without one), no OpenDML extensions. Anything else
raises. Perceptual/inter-frame codecs (H.264, VP9, ...) are out of
scope.
"""

from __future__ import annotations

import struct

from map_reduce_server_spark.functions import jpeg


def _chunk(tag: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) % 2 else b""  # RIFF word alignment
    return tag + struct.pack("<I", len(body)) + body + pad


def _list(list_type: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", list_type + body)


def encode_avi_mjpeg(
    width: int, height: int, fps: int, frames: list[bytes]
) -> bytes:
    """Frame pre-encoded baseline-JPEG images as an MJPEG AVI."""
    if not frames:
        raise ValueError("an AVI needs at least one frame")
    max_size = max(len(f) for f in frames)
    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps,  # microseconds per frame
        max_size * fps,    # max bytes per second (upper bound)
        0,                 # padding granularity
        0,                 # flags: no AVIF_HASINDEX — no idx1 is written
        len(frames), 0, 1, max_size, width, height, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"MJPG", 0, 0, 0, 0,
        1, fps,            # scale/rate -> fps
        0, len(frames), max_size, 0xFFFFFFFF, 0,
        0, 0, width, height,
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi = _list(b"movi", b"".join(_chunk(b"00dc", f) for f in frames))
    return _chunk(b"RIFF", b"AVI " + hdrl + movi)


def parse_avi_mjpeg(
    data: bytes,
) -> tuple[int, int, int, list[bytes]]:
    """Parse an MJPEG AVI -> (width, height, fps, RAW frame chunks).

    Container-only pass: validates RIFF/AVI framing and the MJPG
    stream handler and collects the encoded ``00dc`` frame bytes
    WITHOUT decoding them — so callers that stride-sample frames can
    discard before paying the per-frame JPEG decode. Walks unknown
    chunks by declared size.
    """
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file")
    (riff_len,) = struct.unpack("<I", data[4:8])
    if riff_len + 8 > len(data):
        raise ValueError("truncated AVI: declared size exceeds data")

    width = height = fps = None
    handler_ok = False
    frames: list[bytes] = []

    # Iterative chunk walk (explicit range stack): crafted input with
    # thousands of nested LISTs must fail structurally or parse, never
    # blow the Python recursion limit out of the ValueError contract.
    ranges = [(12, 8 + riff_len)]
    while ranges:
        pos, end = ranges.pop()
        while pos + 8 <= end:
            tag = data[pos : pos + 4]
            (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
            body_end = pos + 8 + size
            if body_end > end:
                raise ValueError(f"truncated {tag!r} chunk")
            if tag == b"LIST":
                if size < 4:
                    raise ValueError("LIST chunk too short for a type")
                # continue this level later; descend into the list now
                ranges.append((body_end + (size % 2), end))
                pos, end = pos + 12, body_end
                continue
            elif tag == b"strh":
                body = data[pos + 8 : body_end]
                if len(body) < 28:
                    raise ValueError("strh chunk too short")
                fcc_type, fcc_handler = body[0:4], body[4:8]
                if fcc_type == b"vids":
                    if fcc_handler != b"MJPG":
                        raise NotImplementedError(
                            f"video handler {fcc_handler!r}: only MJPG"
                        )
                    handler_ok = True
                    scale, rate = struct.unpack("<II", body[20:28])
                    if scale == 0:
                        raise ValueError("vids stream scale is zero")
                    if rate % scale:
                        # a 29.97-style rational rate would silently
                        # truncate — out of scope, so fail loud like
                        # every other unsupported conforming input
                        raise NotImplementedError(
                            f"non-integer frame rate {rate}/{scale}: "
                            "only integer fps"
                        )
                    fps = rate // scale
            elif tag == b"strf":
                body = data[pos + 8 : body_end]
                if len(body) < 12:
                    raise ValueError("strf chunk too short")
                width, height = struct.unpack("<ii", body[4:12])
            elif tag == b"00dc":
                frames.append(data[pos + 8 : body_end])
            pos = body_end + (size % 2)  # chunks are word-aligned

    if not handler_ok or width is None:
        raise ValueError("missing MJPG vids stream header")
    return width, height, fps, frames


def decode_avi_mjpeg(
    data: bytes,
) -> tuple[int, int, int, list[tuple[int, int, bytes]]]:
    """Parse an MJPEG AVI and decode EVERY frame through the real
    baseline-JPEG parser -> (width, height, fps, [(fw, fh, px)...]).
    Stride-sampling callers should use :func:`parse_avi_mjpeg` +
    :func:`sample_frames` on the raw chunks instead, decoding only
    the kept frames."""
    width, height, fps, frames = parse_avi_mjpeg(data)
    return width, height, fps, [jpeg.decode_gray8(f) for f in frames]


def sample_frames(
    frames: list, every_n: int = 2
) -> list:
    """Stride sampler: keep frames 0, n, 2n, ... (the standard cheap
    keyframe thinning before per-frame feature extraction)."""
    if every_n < 1:
        raise ValueError("every_n must be >= 1")
    return frames[::every_n]
