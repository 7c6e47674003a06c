"""Real WAV (RIFF PCM) audio codec via the Python stdlib.

The container has no librosa/soundfile, but WAV needs only the
stdlib ``wave`` module plus ``struct`` — so the audio half of the
multimodal pipeline can exercise a REAL codec path too: real RIFF
header, fmt/data chunks, frame accounting, 16-bit little-endian PCM
unpacking. Scope is honest: mono 16-bit PCM (what the synthetic
corpus produces); anything else raises. Perceptual audio (mp3/ogg)
is out of scope.
"""

from __future__ import annotations

import io
import struct
import wave


def encode_pcm16(samples: list[int], framerate: int) -> bytes:
    """Encode signed 16-bit mono samples as a WAV file."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(framerate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def decode_pcm16(payload: bytes) -> tuple[int, list[int]]:
    """Decode a WAV file back to (framerate, samples). Raises
    ValueError on anything but mono 16-bit PCM — including
    truncated/corrupt files, where the stdlib ``wave`` module leaks
    its own ``wave.Error``/``EOFError``/``struct.error`` instead of
    the codec's ValueError contract."""
    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            if w.getnchannels() != 1 or w.getsampwidth() != 2:
                raise ValueError("only mono 16-bit PCM supported")
            n = w.getnframes()
            frames = w.readframes(n)
            # capture inside the with-block: reading attributes of a
            # closed Wave_read relies on an undocumented CPython detail
            framerate = w.getframerate()
        return framerate, list(struct.unpack(f"<{n}h", frames))
    except (wave.Error, EOFError, struct.error) as exc:
        raise ValueError(f"corrupt or truncated WAV: {exc}") from exc
