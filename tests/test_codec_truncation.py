"""One contract, every codec: EVERY proper prefix of a valid file
raises ValueError — never struct.error / IndexError / EOFError /
zlib.error — so a caller that filters on ValueError to skip corrupt
payloads never crashes. PNG/WAV/GIF/FLAC gained this under review
sweeps; this file pins the codecs that already swept clean (JPEG
gray + color + progressive, both G.711 laws, MJPEG AVI) so they
cannot regress out of the contract."""

from __future__ import annotations

import numpy as np
import pytest

from map_reduce_server_spark.functions import avi, g711, jpeg


def _sweep(payload: bytes, decode) -> None:
    for cut in range(len(payload)):
        with pytest.raises(ValueError):
            decode(payload[:cut])


def _flat_gray(w: int, h: int) -> bytes:
    vals = np.arange((w // 8) * (h // 8), dtype=np.uint8).reshape(
        h // 8, w // 8
    )
    return np.repeat(np.repeat(vals * 17, 8, 0), 8, 1).tobytes()


def test_jpeg_gray_truncation():
    img = _flat_gray(32, 24)
    _sweep(jpeg.encode_gray8(32, 24, img), jpeg.decode_gray8)


def test_jpeg_progressive_truncation():
    img = _flat_gray(32, 24)
    _sweep(jpeg.encode_gray8_progressive(32, 24, img), jpeg.decode_gray8)


def test_jpeg_color_truncation():
    rgb = bytes(range(48)) * 16  # 16x16 RGB
    _sweep(jpeg.encode_rgb8(16, 16, rgb), jpeg.decode_rgb8)


@pytest.mark.parametrize(
    "enc,dec",
    [
        (g711.encode_wav_mulaw, g711.decode_wav_mulaw),
        (g711.encode_wav_alaw, g711.decode_wav_alaw),
    ],
)
def test_g711_truncation(enc, dec):
    _sweep(enc(8000, bytes(range(32))), dec)


def test_avi_truncation():
    frames = [
        jpeg.encode_gray8(32, 24, _flat_gray(32, 24)) for _ in range(4)
    ]
    _sweep(avi.encode_avi_mjpeg(32, 24, 4, frames), avi.decode_avi_mjpeg)


def test_tga_truncation():
    from map_reduce_server_spark.functions import tga

    pix = bytes((x * 7 + 3) % 256 for x in range(48))
    for td in (False, True):
        f = tga.encode_gray8(8, 6, pix, top_down=td)
        # the v2 footer is OPTIONAL trailing metadata: prefixes that
        # still contain the whole raster legally decode, so sweep
        # only up to the end of the pixel stream
        _sweep(f[: len(f) - 26], tga.decode_gray8)
        assert tga.decode_gray8(f) == (8, 6, pix)


def test_aiff_truncation():
    from map_reduce_server_spark.functions import aiff

    samples = [(x * 997 - 16000) % 65536 - 32768 for x in range(32)]
    f = aiff.encode_pcm16(samples, 44100)
    _sweep(f, aiff.decode_pcm16)
    assert aiff.decode_pcm16(f) == (44100, samples)
