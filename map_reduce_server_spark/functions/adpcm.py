"""Pure-stdlib IMA ADPCM codec + RIFF/WAVE container (format 0x11).

Adaptive differential PCM with no external library: IMA/DVI ADPCM
(the cross-vendor 4-bit codec from the IMA "Recommended Practices
for Enhancing Digital Audio Compatibility" specification) compresses
16-bit PCM 4:1 by transmitting, per sample, a 4-bit code that steers
a shared predictor/step-size state machine. WAVE_FORMAT_IMA_ADPCM
(format tag 0x11, "DVI ADPCM" in Microsoft's registry) is its
standard RIFF container: self-contained blocks, each opening with a
4-byte header (initial predictor int16, step index, reserved byte)
followed by nibble pairs packed LOW nibble first.

Unlike G.711 (:mod:`.g711`, a stateless per-byte table), ADPCM
decode is a SEQUENTIAL state machine — which is exactly why it
earns its own oracle discipline: the SQL twin replays the predictor
recursion step by step with a recursive CTE, so a drift in the
step-size table, the diff reconstruction, clamping, or nibble order
breaks the hash match on every document.

Third-party conformance anchor: CPython's ``audioop`` module
implements the same Intel/DVI state machine (verified bit-exact in
``tests/test_adpcm_codec.py``) — its raw stream packs HIGH nibble
first with implicit (0, 0) initial state, so the tests translate
nibble order and seed its state from the block header.

Scope is honest: mono 16-bit IMA ADPCM only; stereo interleave and
perceptual codecs (mp3/ogg) are out of scope.
"""

from __future__ import annotations

import struct

# Step-size table from the IMA spec (89 entries) — the same table
# audioop and every conforming implementation carries.
STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767,
)
# Index adjustment by the code's low 3 bits (sign bit never moves
# the index).
INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8)

_TAG_IMA = 0x11


def decode_nibble(nib: int, pred: int, idx: int) -> tuple[int, int]:
    """One decoder step: 4-bit code + (predictor, step index) ->
    (new predictor == output sample, new index). The reconstruction
    ``step/8 + b0*step/4 + b1*step/2 + b2*step`` is the spec's
    shift-add form, bit-exact to audioop."""
    if not 0 <= nib <= 15:
        raise ValueError("adpcm: nibble out of range")
    if not 0 <= idx <= 88:
        raise ValueError("adpcm: step index out of range")
    step = STEP_TABLE[idx]
    diff = step >> 3
    if nib & 1:
        diff += step >> 2
    if nib & 2:
        diff += step >> 1
    if nib & 4:
        diff += step
    pred = pred - diff if nib & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + INDEX_TABLE[nib & 7]))
    return pred, idx


def encode_step(sample: int, pred: int, idx: int) -> tuple[int, int, int]:
    """One encoder step: target sample + state -> (nibble, new
    predictor, new index). The encoder quantizes the prediction
    error against the current step size, then runs the DECODER's
    reconstruction on its own output so both sides track the same
    state (the closed-loop property every ADPCM coder needs)."""
    step = STEP_TABLE[idx]
    diff = sample - pred
    nib = 0
    if diff < 0:
        nib = 8
        diff = -diff
    if diff >= step:
        nib |= 4
        diff -= step
    if diff >= step >> 1:
        nib |= 2
        diff -= step >> 1
    if diff >= step >> 2:
        nib |= 1
    pred, idx = decode_nibble(nib, pred, idx)
    return nib, pred, idx


def _decode_block(body: bytes, n_out: int) -> list[int]:
    """Decode one WAV-IMA block: 4-byte header then low-first
    nibbles; the header predictor IS output sample 0. ``n_out``
    bounds the emitted samples (the final block of a file is
    usually partial)."""
    if len(body) < 4:
        raise ValueError("adpcm: block shorter than its 4-byte header")
    pred = struct.unpack("<h", body[0:2])[0]
    idx = body[2]
    if idx > 88:
        raise ValueError(f"adpcm: block step index {idx} > 88")
    out = [pred]
    # check BEFORE decoding, not only after an append: a final block
    # that owes just its header sample (fact = k*spb + 1) is commonly
    # padded to full block-align by standard encoders, and its pad
    # nibbles must not leak samples
    if len(out) == n_out:
        return out
    for b in body[4:]:
        for nib in (b & 0x0F, b >> 4):  # WAV packs LOW nibble first
            pred, idx = decode_nibble(nib, pred, idx)
            out.append(pred)
            if len(out) == n_out:
                return out
    raise ValueError("adpcm: block ends before its sample count")


def _samples_per_block(block_align: int) -> int:
    return (block_align - 4) * 2 + 1


def encode_wav_ima(
    framerate: int, samples: list[int], samples_per_block: int = 505
) -> bytes:
    """Encode mono int16 samples as a WAVE_FORMAT_IMA_ADPCM (0x11)
    RIFF file. ``samples_per_block`` must be odd (1 header sample +
    nibble pairs); the step index carries ACROSS blocks (each block
    re-anchors only the predictor), matching the common encoder
    convention, and the required ``fact`` chunk records the true
    sample count so a partial final block round-trips exactly."""
    if samples_per_block < 3 or samples_per_block % 2 == 0:
        raise ValueError("adpcm: samples_per_block must be odd and >= 3")
    if not samples:
        raise ValueError("adpcm: no samples")
    for s in samples:
        if not -32768 <= s <= 32767:
            raise ValueError("sample out of int16 range")
    block_align = 4 + (samples_per_block - 1) // 2
    idx = 0
    blocks = bytearray()
    for start in range(0, len(samples), samples_per_block):
        chunk = samples[start : start + samples_per_block]
        pred = chunk[0]
        blocks += struct.pack("<hBB", pred, idx, 0)
        nibs = []
        for s in chunk[1:]:
            nib, pred, idx = encode_step(s, pred, idx)
            nibs.append(nib)
        if len(nibs) % 2:
            nibs.append(0)  # pad nibble in a partial final block
        for lo, hi in zip(nibs[0::2], nibs[1::2]):
            blocks.append(lo | (hi << 4))
    fmt = struct.pack(
        "<HHIIHHHH",
        _TAG_IMA,
        1,  # mono
        framerate,
        # average byte rate for whole blocks at this rate
        (framerate * block_align + samples_per_block - 1)
        // samples_per_block,
        block_align,
        4,  # bits per (compressed) sample
        2,  # cbSize: the extension below
        samples_per_block,
    )
    fact = struct.pack("<I", len(samples))
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", len(fact)) + fact
        + b"data" + struct.pack("<I", len(blocks)) + bytes(blocks)
        + (b"\x00" if len(blocks) % 2 else b"")  # RIFF word padding
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def frame_wav_ima(
    framerate: int, pred0: int, idx0: int, nibble_bytes: bytes
) -> bytes:
    """Frame a raw single-block payload (explicit header state +
    packed nibbles) as a conforming 0x11 file — the query-payload
    path, where the nibble stream is data, not an encoding of PCM.
    Exactly :func:`frame_wav_ima_multi` with one block (delegates,
    so the two framers cannot drift): align = 4 + len(nibble_bytes),
    wSamplesPerBlock = 1 + 2*len(nibble_bytes), same byterate/fact/
    RIFF-pad assembly."""
    return frame_wav_ima_multi(framerate, [(pred0, idx0, nibble_bytes)])


def frame_wav_ima_multi(
    framerate: int, blocks: list[tuple[int, int, bytes]]
) -> bytes:
    """Frame SEVERAL raw blocks — each an explicit (pred0, idx0,
    nibble_bytes) triple — as one conforming 0x11 file. Every block
    carries its own header state (frame-style payloads are data, not
    an encoding, so nothing carries between blocks), and all blocks
    must pack the same nibble count because the RIFF fmt declares ONE
    block align. The multi-block sibling of :func:`frame_wav_ima`."""
    if not blocks:
        raise ValueError("adpcm: no blocks")
    nb = len(blocks[0][2])
    if nb == 0:
        raise ValueError("adpcm: empty nibble payload")
    body = bytearray()
    for pred0, idx0, nibble_bytes in blocks:
        if not -32768 <= pred0 <= 32767:
            raise ValueError("sample out of int16 range")
        if not 0 <= idx0 <= 88:
            raise ValueError("adpcm: step index out of range")
        if len(nibble_bytes) != nb:
            raise ValueError("adpcm: blocks must share one size")
        body += struct.pack("<hBB", pred0, idx0, 0) + nibble_bytes
    align = 4 + nb
    spb = 1 + 2 * nb
    n = spb * len(blocks)
    fmt = struct.pack(
        "<HHIIHHHH",
        _TAG_IMA, 1, framerate,
        (framerate * align + spb - 1) // spb,
        align, 4, 2, spb,
    )
    fact = struct.pack("<I", n)
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", len(fact)) + fact
        + b"data" + struct.pack("<I", len(body)) + bytes(body)
        + (b"\x00" if len(body) % 2 else b"")
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_wav_ima(data: bytes) -> tuple[int, list[int]]:
    """Parse a WAVE_FORMAT_IMA_ADPCM (0x11) file -> (framerate,
    int16 samples). Validates RIFF framing, format tag, mono/4-bit,
    the block-align/samples-per-block relation, and the mandatory
    ``fact`` sample count (compressed WAVE requires it; it is what
    distinguishes a partial final block from a truncated file)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    (riff_len,) = struct.unpack("<I", data[4:8])
    if riff_len + 8 > len(data):
        raise ValueError("truncated RIFF: declared size exceeds data")
    pos = 12
    fmt = None
    body = None
    n_total = None
    end = 8 + riff_len
    while pos + 8 <= end:
        tag = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        chunk = data[pos + 8 : pos + 8 + size]
        if pos + 8 + size > end or len(chunk) != size:
            raise ValueError(f"truncated {tag!r} chunk")
        if tag == b"fmt ":
            if fmt is not None:
                raise ValueError("duplicate fmt chunk")
            if size < 16:
                raise ValueError("fmt chunk too short")
            if struct.unpack("<H", chunk[:2])[0] != _TAG_IMA:
                # identify the foreign format BEFORE demanding the
                # ADPCM fmt extension a PCM/G.711 fmt never carries
                raise NotImplementedError(
                    f"format tag {struct.unpack('<H', chunk[:2])[0]}: "
                    "only WAVE_FORMAT_IMA_ADPCM (0x11)"
                )
            if size < 20:
                raise ValueError("fmt chunk too short for ADPCM")
            fmt = struct.unpack("<HHIIHHHH", chunk[:20])
        elif tag == b"fact":
            if n_total is not None:
                raise ValueError("duplicate fact chunk")
            if size < 4:
                raise ValueError("fact chunk too short")
            (n_total,) = struct.unpack("<I", chunk[:4])
        elif tag == b"data":
            if body is not None:
                raise ValueError("duplicate data chunk")
            body = chunk
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if fmt is None or body is None:
        raise ValueError("missing fmt /data chunk")
    # the foreign-format-tag rejection already happened at the fmt
    # chunk itself (before the extension fields were demanded)
    _tag, channels, framerate, _byterate, align, bits, cb, spb = fmt
    if channels != 1:
        raise NotImplementedError("only mono IMA ADPCM")
    if bits != 4:
        raise NotImplementedError("only 4-bit IMA ADPCM")
    if cb < 2:
        raise ValueError("fmt extension missing wSamplesPerBlock")
    if align < 5 or spb != _samples_per_block(align):
        raise ValueError(
            f"samples-per-block {spb} inconsistent with block align "
            f"{align}"
        )
    if n_total is None:
        raise ValueError("missing fact chunk (required for ADPCM)")
    if n_total == 0:
        # zero samples with a data chunk present is malformed, and an
        # empty sample list would push the failure downstream into
        # the stats stage (max()/division on empty) instead of the
        # codec's loud-ValueError contract
        raise ValueError("adpcm: fact sample count is zero")
    out: list[int] = []
    bpos = 0
    while bpos < len(body) and len(out) < n_total:
        block = body[bpos : bpos + align]
        out.extend(_decode_block(block, min(spb, n_total - len(out))))
        bpos += align
    if len(out) != n_total:
        raise ValueError("adpcm: data ends before the fact sample count")
    if bpos < len(body):
        # Same strictness as the GIF decoder's trailing-data check: a
        # fact count that leaves whole undecoded blocks behind means
        # the header and the payload disagree about the file's length.
        # (bpos already covers a padded partial FINAL block — the loop
        # advances by block_align even when the block owes fewer than
        # spb samples — so only genuinely surplus bytes land here.)
        raise ValueError(
            "adpcm: data continues beyond the fact sample count "
            f"({len(body) - bpos} surplus byte(s))"
        )
    return framerate, out
