"""Multimodal column plumbing: opaque binary payloads + typed
metadata + Python decode stages over Arrow.

Twelve wire formats are REAL end to end — pure numpy/stdlib codecs run
inside Arrow-batched ``mapInPandas`` stages and are value-checked by
oracles that recompute pixel/sample statistics from the md5 hex the
files are built from:

- PNG (:mod:`..functions.png`): chunk framing, CRC-32, DEFLATE,
  all five scanline filters, nearest-neighbor resize;
- GIF (:mod:`..functions.gif`): a third compression family —
  dictionary coding (variable-width LZW), identity gray palette,
  sub-block framing;
- PCM WAV (:mod:`..functions.wavcodec`): RIFF framing, 16-bit LE;
- JPEG (:mod:`..functions.jpeg`): DCT, quantization, Annex K
  Huffman entropy coding — grayscale AND YCbCr color (4:4:4/4:2:0)
  AND progressive (SOF2: spectral selection + successive
  approximation), each with its own registered decode query;
- G.711 compressed audio (:mod:`..functions.g711`): logarithmic
  companding, BOTH laws (WAVE_FORMAT_MULAW and WAVE_FORMAT_ALAW
  containers, one registered query each);
- IMA ADPCM (:mod:`..functions.adpcm`): the STATEFUL family —
  adaptive differential PCM (WAVE_FORMAT_IMA_ADPCM 0x11, block
  headers, fact-chunk sample counts), oracle-replayed with a
  recursive CTE over the predictor state machine;
- FLAC (:mod:`..functions.flac`): the predictive family — fixed
  polynomial predictors, Rice-coded residuals, CRC-8/CRC-16 and
  audio-MD5 integrity, all verified on decode;
- Motion-JPEG AVI video (:mod:`..functions.avi`): RIFF 'AVI '
  framing over per-frame JPEGs, stride frame sampling;
- TIFF, BMP and TGA (:mod:`..functions.tiff`, ``.bmp``, ``.tga``):
  tag-directory offsets, bottom-up padded rows, run-length packets;
- AIFF (:mod:`..functions.aiff`): big-endian IFF chunks, 80-bit
  extended sample rate.

Every codec leg is the same one-stage plan, a single row-wise Arrow
stage (:func:`_rowwise`): its SQL hex recipe feeds one plain per-row
function that encodes the file (``hex -> bytes``) and decodes it into
a stats tuple (``bytes -> tuple``), so the encoded bytes never leave
the Python worker; a Spark projection does the rounding. Formats that
need codec libraries this project does not ship — perceptual audio
(mp3/ogg), inter-frame video (H.264) — have no query.
``multimodal_decode``/``_features`` run the same stage over a
synthetic 32-byte payload, and ``multimodal_meta`` projects its
metadata with no Python stage at all.

NULL policy shared by every query and oracle twin: a NULL text has
no payload (md5(NULL) is NULL in both engines), so every
payload-derived field is NULL — :func:`_rowwise` emits NULL outputs
for a NULL input instead of crashing, and the oracles derive their
per-row constants (byte_len, width, framerate, ...) from the payload
expression so they go NULL on the same rows.

Scan width: six heavy legs (jpeg, jpeg_progressive, jpeg_color, video,
gif, flac) load ``documents`` with ``widen=True``. Their Python decode
otherwise runs in the single task a one-row-group scan yields
(jpeg_color 8.4 -> 1.5 s, video 10.5 -> 1.7 s at sf0.1 on local[32]);
the light legs measured a wash or a loss and stay unwidened.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_server_spark.functions import (
    adpcm,
    aiff,
    avi,
    bmp,
    flac,
    g711,
    gif,
    jpeg,
    png,
    tga,
    tiff,
    wavcodec,
)
from map_reduce_server_spark.registry import register
from map_reduce_server_spark.tables import load_table


def _rowwise(df: DataFrame, cols: list[str], fn, schema: str) -> DataFrame:
    """The one row-wise Arrow stage every Python-staged query runs
    through.

    ``cols`` are SQL expressions over ``df``; each row's values go to
    the plain function ``fn(*values) -> tuple``, whose fields fill the
    DDL ``schema`` after the ``doc_id`` this stage passes through. A
    NULL input yields NULL in every output field (the oracle twins'
    md5(NULL) behavior), so no ``fn`` ever sees None."""
    names = ["doc_id"] + [field.split()[0] for field in schema.split(",")]
    nulls = (None,) * (len(names) - 1)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame.from_records(
                [
                    (row[0], *(nulls if None in row[1:] else fn(*row[1:])))
                    for row in pdf.itertuples(index=False, name=None)
                ],
                columns=names,
            )

    return df.selectExpr("doc_id", *cols).mapInPandas(
        run, schema=f"doc_id bigint, {schema}"
    )


_PX_SCHEMA = "width int, height int, mean_px double, max_px int"
_AUDIO_SCHEMA = "framerate int, n_samples int, mean_abs double, max_abs int"


def _px_stats(decode):
    """Stats function for any ``bytes -> (width, height, pixel_bytes)``
    image decoder: per-image pixel statistics (``_PX_SCHEMA``)."""

    def stats(b: bytes) -> tuple:
        w, h, px = decode(bytes(b))
        return w, h, sum(px) / len(px), max(px)

    return stats


def _sample_stats(rate: int, s: list) -> tuple:
    """Per-clip sample statistics (``_AUDIO_SCHEMA``) — the cheap
    audio-quality screen a speech-data pipeline runs first."""
    return (
        rate,
        len(s),
        sum(abs(x) for x in s) / len(s),
        max(abs(x) for x in s),
    )


def _audio_stats(decode):
    """Stats function for any ``bytes -> (rate, samples)`` decoder."""
    return lambda b: _sample_stats(*decode(bytes(b)))


def _px_stats_select(stats: DataFrame) -> DataFrame:
    """Shared output projection for the single-image pixel-stats
    queries: ONE definition of the 6-digit mean rounding the oracles
    replay.

    Why round(…, 6) survives here when the sql_davg policy removed
    it from pure-arithmetic queries: mean_px is ``integer_sum / d``
    for a FIXED small divisor (d ∈ {12, 24, 36, 48}), so the reachable
    input set is finite — k/d for k in [0, 255·d]. The Spark-vs-
    DuckDB round divergence class needs a value whose double sits on
    a 7-decimal midpoint boundary; an EXHAUSTIVE cross-engine sweep
    of these domains (real Spark vs real DuckDB) found zero
    disagreements, so the rounding is tie-free by enumeration, not
    by luck — pinned in
    tests/test_multimodal.py::test_mean_px_round_tie_free_domains.
    (The color leg needs no such proof: its means are dyadic
    sums/1024 and /4, exact in both engines.)"""
    return stats.select(
        "doc_id",
        "width",
        "height",
        F.round("mean_px", 6).alias("mean_px"),
        "max_px",
    )


def _audio_stats_select(stats: DataFrame) -> DataFrame:
    """Shared output projection for the audio legs: every column in
    stage order, ``mean_abs`` rounded to the 6 digits the oracles
    replay (the divisors are dyadic or a fixed sample count, so the
    mean is exact before rounding)."""
    return stats.select(
        *(
            F.round(c, 6).alias(c) if c == "mean_abs" else c
            for c in stats.columns
        )
    )


# ONE definition of the synthetic 32-byte payload's hex, shared by
# with_synthetic_payload's oracle twins (features/meta/decode) —
# editing the payload recipe in one place must not desynchronize
# them. NULL text → NULL hex → NULL-derived fields in both engines.
_SQL_PAYLOAD_HEX = "md5(text) || md5('x' || text)"


def _fmt() -> Column:
    """The synthetic payload's nominal format, from ``doc_id`` alone,
    so a NULL payload still has one."""
    return F.element_at(
        F.array(F.lit("png"), F.lit("jpeg"), F.lit("wav")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )


def with_synthetic_payload(docs: DataFrame) -> DataFrame:
    """Attach a synthetic binary payload + metadata struct to each doc.

    Payload = unhex(md5(text)) ⧺ unhex(md5('x'||text)) — 32
    deterministic bytes standing in for image bytes. Metadata mirrors
    what a real ingest would carry (format, nominal size).
    """
    payload = F.concat(
        F.unhex(F.md5(F.col("text"))),
        F.unhex(F.md5(F.concat(F.lit("x"), F.col("text")))),
    )
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            _fmt().alias("fmt"),
            F.length(payload).alias("byte_len"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


# --- real PNG codec path ----------------------------------------------------

_PNG_W, _PNG_H = 4, 3  # synthetic image dims: 36 RGB bytes from md5 hex
_RS_W, _RS_H = 2, 2

_SQL_PIX_HEX = "md5(text) || md5('x' || text) || md5('y' || text)"


def _encode_png(h: str) -> bytes:
    """A REAL 4x3 RGB PNG (pure-stdlib encoder) of the 36 pixel bytes
    in ``h``, the first 36 bytes of three chained md5 digests, so the
    oracle can recompute every pixel from SQL."""
    return png.encode_rgb8(_PNG_W, _PNG_H, bytes.fromhex(h))


def _resize_png(b: bytes) -> bytes:
    """REAL resize step for a PNG file: decode (CRC-validated,
    DEFLATE-inflated), nearest-neighbor resample to ``_RS_W`` x
    ``_RS_H``, re-encode. Non-PNG bytes raise inside the codec."""
    w, h, px = png.decode_rgb8(bytes(b))
    return png.encode_rgb8(
        _RS_W, _RS_H, png.resize_nearest_rgb8(px, w, h, _RS_W, _RS_H)
    )


_SQL_PNG_HEX = f"substr({_SQL_PIX_HEX}, 1, {_PNG_W * _PNG_H * 3 * 2})"


@register(
    "multimodal_decode_png",
    oracle=f"""
    WITH px AS (
      SELECT doc_id, list_transform(range(1, 37),
               i -> CAST(('0x' || substr({_SQL_PIX_HEX}, i*2-1, 2))
                    AS BIGINT)) AS bs
      FROM documents WHERE text IS NOT NULL),
    st AS (
      SELECT doc_id, CAST(4 AS INTEGER) AS width,
             CAST(3 AS INTEGER) AS height,
             round(CAST(list_sum(bs) AS DOUBLE) / 36, 6) AS mean_px,
             CAST(list_max(bs) AS INTEGER) AS max_px
      FROM px)
    SELECT d.doc_id, st.width, st.height, st.mean_px, st.max_px
    FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
    """,
)
def multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec round-trip: encode each document's md5-derived
    pixels as an actual PNG file (signature, chunks, CRC-32, DEFLATE)
    and decode it back with the pure-stdlib parser (CRC-checked
    parse, inflate, unfilter). The oracle recomputes the identical
    pixel statistics straight from the md5 hex, so a bug anywhere in
    encode, chunk framing, compression, or unfiltering breaks the
    hash match. Every other wire format in the module docstring gets
    the same treatment in its own ``multimodal_decode_*`` query."""
    docs = load_table(spark, sf_dir, "documents")
    stats = _px_stats(png.decode_rgb8)
    return _px_stats_select(
        _rowwise(
            docs, [_SQL_PNG_HEX], lambda h: stats(_encode_png(h)), _PX_SCHEMA
        )
    )


@register(
    "multimodal_resize_png",
    oracle=f"""
    WITH px AS (
      SELECT doc_id, list_transform([1,2,3, 7,8,9, 13,14,15, 19,20,21],
               i -> CAST(('0x' || substr({_SQL_PIX_HEX}, i*2-1, 2))
                    AS BIGINT)) AS bs
      FROM documents WHERE text IS NOT NULL),
    st AS (
      SELECT doc_id, CAST(2 AS INTEGER) AS width,
             CAST(2 AS INTEGER) AS height,
             round(CAST(list_sum(bs) AS DOUBLE) / 12, 6) AS mean_px,
             CAST(list_max(bs) AS INTEGER) AS max_px
      FROM px)
    SELECT d.doc_id, st.width, st.height, st.mean_px, st.max_px
    FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
    """,
)
def multimodal_resize_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full image pipeline in one stage: encode → REAL resize (decode,
    nearest-neighbor 4x3 → 2x2, re-encode) → decode + stats. The
    oracle selects exactly the 12 bytes nearest-neighbor sampling
    keeps (src = floor(dst·src/dst) ⇒ rows {{0,1}}, cols {{0,2}}), so
    the resampling arithmetic is value-checked too."""
    docs = load_table(spark, sf_dir, "documents")
    stats = _px_stats(png.decode_rgb8)
    return _px_stats_select(
        _rowwise(
            docs,
            [_SQL_PNG_HEX],
            lambda h: stats(_resize_png(_encode_png(h))),
            _PX_SCHEMA,
        )
    )


@register(
    "multimodal_features",
    oracle=f"""
    WITH bytes16 AS (
      SELECT doc_id,
             list_transform(range(1, 33),
               i -> CAST(('0x' || substr({_SQL_PAYLOAD_HEX},
                                         i * 2 - 1, 2)) AS BIGINT)) AS bs
      FROM documents WHERE text IS NOT NULL
    ), st AS (
      SELECT doc_id,
             CAST(list_sum(bs) AS DOUBLE) / 32 AS mean_byte,
             CAST(list_max(bs) AS INTEGER) AS max_byte,
             CAST(8 AS INTEGER) AS n_blocks
      FROM bytes16
    )
    SELECT d.doc_id, st.mean_byte, st.max_byte, st.n_blocks
    FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary payloads — byte statistics (a
    real build plugs an image/audio model in here), oracle-checked by
    recomputing them from the md5 hex the payload was built from."""
    docs = load_table(spark, sf_dir, "documents")
    return _rowwise(
        with_synthetic_payload(docs),
        ["payload"],
        lambda b: (sum(b) / len(b), max(b), len(b) // 4),
        "mean_byte double, max_byte int, n_blocks int",
    )


@register(
    "multimodal_meta",
    oracle=f"""
    SELECT doc_id,
           CASE CAST(doc_id % 3 AS INTEGER)
             WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'wav' END AS fmt,
           CAST(len({_SQL_PAYLOAD_HEX}) // 2 AS INTEGER) AS byte_len,
           source AS origin
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata projection over the binary-column ingest."""
    docs = load_table(spark, sf_dir, "documents")
    enriched = with_synthetic_payload(docs)
    return enriched.select(
        "doc_id",
        F.col("meta.fmt").alias("fmt"),
        F.col("meta.byte_len").alias("byte_len"),
        F.col("meta.origin").alias("origin"),
    )


@register(
    "multimodal_decode",
    oracle=f"""
    SELECT doc_id,
           CASE CAST(doc_id % 3 AS INTEGER)
             WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'wav' END AS fmt,
           CAST(len({_SQL_PAYLOAD_HEX}) // 2 AS INTEGER) AS byte_len,
           CAST(('0x' || substr(md5(text), 1, 2)) AS INTEGER) AS width,
           CAST(('0x' || substr(md5(text), 3, 2)) AS INTEGER) AS height
    FROM documents
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode over binary payloads.

    The decoder reads the byte length and the first two payload bytes
    as width/height; since the payload is unhex(md5(text)), the
    oracle recomputes the identical values from the md5 hex —
    validating the whole binary → mapInPandas → typed-features
    pipeline. ``fmt`` comes from ``doc_id`` in Spark, so a NULL
    payload keeps it.
    """
    docs = load_table(spark, sf_dir, "documents")
    decoded = _rowwise(
        with_synthetic_payload(docs),
        ["payload"],
        lambda b: (len(b), b[0], b[1]),
        "byte_len int, width int, height int",
    )
    return decoded.select(
        "doc_id", _fmt().alias("fmt"), "byte_len", "width", "height"
    )


def _int16s(h: str) -> list[int]:
    """Hex -> little-endian signed int16 samples: the byte layout
    :func:`_sql_int16s` replays for the WAV/FLAC/AIFF oracles."""
    return list(struct.unpack(f"<{len(h) // 4}h", bytes.fromhex(h)))


def _sql_int16s(hex_sql: str, n: int) -> str:
    """SQL twin of :func:`_int16s`: sample i (1-based) is the
    little-endian signed int16 from hex byte pair (2i-1, 2i), i.e.
    hex chars (4i-3..4i-2) low byte and (4i-1..4i) high byte."""
    return f"""
  list_transform(range(1, {n} + 1), i ->
    CAST(('0x' || substr({hex_sql}, i*4-3, 2)) AS BIGINT)
    + 256 * CAST(('0x' || substr({hex_sql}, i*4-1, 2)) AS BIGINT)
    - CASE WHEN CAST(('0x' || substr({hex_sql}, i*4-1, 2)) AS BIGINT)
                >= 128 THEN 65536 ELSE 0 END)
"""


# --- real WAV codec path ----------------------------------------------------

_WAV_N = 32          # samples per clip
_WAV_RATE = 8000     # frame rate written into the RIFF header

# 32 16-bit samples need 64 bytes = four chained md5 digests.
_SQL_WAV_HEX = (
    "md5(text) || md5('a' || text) || md5('b' || text) || md5('c' || text)"
)
_SQL_WAV_SAMPLES = _sql_int16s(_SQL_WAV_HEX, _WAV_N)


def _wav_stats(b: bytes) -> tuple:
    """RIFF parse + PCM unpack, then the per-clip sample statistics
    plus the zero-crossing count."""
    rate, s = wavcodec.decode_pcm16(bytes(b))
    crossings = sum(
        1 for i in range(len(s) - 1) if (s[i] < 0) != (s[i + 1] < 0)
    )
    return _sample_stats(rate, s) + (crossings,)


@register(
    "multimodal_decode_wav",
    oracle=f"""
    WITH sm AS (
      SELECT doc_id, {_SQL_WAV_SAMPLES} AS s FROM documents
      WHERE text IS NOT NULL),
    st AS (
      SELECT doc_id, CAST({_WAV_RATE} AS INTEGER) AS framerate,
             CAST({_WAV_N} AS INTEGER) AS n_samples,
             round(CAST(list_sum(list_transform(s, x -> abs(x))) AS DOUBLE)
                   / {_WAV_N}, 6) AS mean_abs,
             CAST(list_max(list_transform(s, x -> abs(x))) AS INTEGER)
               AS max_abs,
             CAST(len(list_filter(range(1, {_WAV_N}), i ->
                      (s[i] < 0) <> (s[i+1] < 0))) AS INTEGER)
               AS zero_crossings
      FROM sm)
    SELECT d.doc_id, st.framerate, st.n_samples, st.mean_abs,
           st.max_abs, st.zero_crossings
    FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
    """,
)
def multimodal_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec round-trip: encode each document's
    md5-derived samples (64 bytes of four chained md5 digests as
    little-endian int16) as an actual RIFF/WAVE file (stdlib ``wave``
    writer) and decode it back through the stdlib reader — the audio
    analogue of multimodal_decode_png. The oracle recomputes the
    identical int16 samples straight from the md5 hex, so a bug
    anywhere in header framing, frame accounting, or LE-PCM packing
    breaks the hash match. Compressed audio is real too (G.711 both
    laws: multimodal_decode_mulaw/_alaw); perceptual codecs (mp3/ogg)
    are out of scope.

    Scale: embarrassingly parallel Arrow-batched mapInPandas, no
    shuffle; payloads live only inside a task. The stats schema
    (framerate, n/mean/max, zero-crossing rate) is the standard
    cheap audio-quality screen before any model-based scoring.
    """
    docs = load_table(spark, sf_dir, "documents")
    return _audio_stats_select(
        _rowwise(
            docs,
            [_SQL_WAV_HEX],
            lambda h: _wav_stats(wavcodec.encode_pcm16(_int16s(h), _WAV_RATE)),
            f"{_AUDIO_SCHEMA}, zero_crossings int",
        )
    )


# --- real JPEG codec path ---------------------------------------------------

# 32x24 grayscale = 12 flat 8x8 blocks (4 across, 3 down); block
# values = first 12 bytes of md5(text). Flat blocks are the JPEG
# exactness domain: with the unit quant table each block's DCT is a
# lone integer DC coefficient, so the LOSSY pipeline round-trips
# bit-exactly and the oracle can recompute every pixel from SQL.
_JPG_W, _JPG_H = 32, 24
_SQL_JPG_HEX = "substr(md5(text), 1, 24)"


def _flat_block_gray(hex24: str) -> bytes:
    """12 hex bytes -> 32x24 grayscale of flat 8x8 blocks (4 across,
    3 down). ONE definition of the block layout, shared by the JPEG
    and video payload builders — both SQL oracles assume exactly this
    reshape(3,4) + 8x8 replication."""
    import numpy as np

    vals = np.frombuffer(bytes.fromhex(hex24), np.uint8)
    img = np.repeat(np.repeat(vals.reshape(3, 4), 8, axis=0), 8, axis=1)
    return img.tobytes()


def _gray_jpeg_leg(docs: DataFrame, hex_sql: str, encoder) -> DataFrame:
    """One body for the gray-JPEG legs (baseline + progressive): they
    differ ONLY in hex recipe and ``encoder(width, height, pixels)``."""
    stats = _px_stats(jpeg.decode_gray8)
    return _px_stats_select(
        _rowwise(
            docs,
            [hex_sql],
            lambda h: stats(encoder(_JPG_W, _JPG_H, _flat_block_gray(h))),
            _PX_SCHEMA,
        )
    )


def _gray_jpeg_oracle(hex_expr: str) -> str:
    """Shared oracle body for the gray-JPEG legs: the pixel-stats
    arithmetic must stay in lockstep with ``_px_stats`` for BOTH
    legs, so the SQL exists once with only the hex recipe varying."""
    return f"""
    WITH px AS (
      SELECT doc_id, list_transform(range(1, 13),
               i -> CAST(('0x' || substr({hex_expr}, i*2-1, 2))
                    AS BIGINT)) AS bs
      FROM documents WHERE text IS NOT NULL),
    st AS (
      SELECT doc_id, CAST({_JPG_W} AS INTEGER) AS width,
             CAST({_JPG_H} AS INTEGER) AS height,
             round(CAST(list_sum(bs) AS DOUBLE) / 12, 6) AS mean_px,
             CAST(list_max(bs) AS INTEGER) AS max_px
      FROM px)
    SELECT d.doc_id, st.width, st.height, st.mean_px, st.max_px
    FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
    """


@register(
    "multimodal_decode_jpeg",
    oracle=_gray_jpeg_oracle(_SQL_JPG_HEX),
)
def multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy-codec round-trip: encode each document's
    md5-derived flat-block image as an actual baseline JFIF JPEG
    (8x8 DCT, unit quantization, Annex K Huffman entropy coding,
    byte stuffing) and decode it back with the pure numpy/stdlib
    parser (marker parse, Huffman decode, dequantize, IDCT). Flat
    8x8 blocks make the lossy pipeline exact (DC-only spectra survive
    unit quantization bit-for-bit), so the oracle recomputes the
    pixel statistics straight from the md5 hex and a bug anywhere in
    marker framing, Huffman tables, entropy coding, zigzag,
    quantization, or the DCT pair breaks the hash match. General
    (non-flat) content round-trips within +/-1 (pinned by the codec
    unit tests). The color leg is multimodal_decode_jpeg_color and
    the progressive (SOF2) leg multimodal_decode_jpeg_progressive.

    Scale: embarrassingly parallel Arrow-batched mapInPandas, no
    shuffle; payloads live only inside a task.
    """
    docs = load_table(spark, sf_dir, "documents", widen=True)
    return _gray_jpeg_leg(docs, _SQL_JPG_HEX, jpeg.encode_gray8)


# --- real PROGRESSIVE JPEG codec path (SOF2) ---------------------------------

# Own 'p'-salted payload recipe — independent of the baseline gray
# and color legs.
_SQL_JPGP_HEX = "substr(md5('p' || text), 1, 24)"


@register(
    "multimodal_decode_jpeg_progressive",
    oracle=_gray_jpeg_oracle(_SQL_JPGP_HEX),
)
def multimodal_decode_jpeg_progressive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL progressive-JPEG round-trip: encode each document's
    md5-derived flat-block image as an actual SOF2 progressive JFIF
    file — six scans exercising interleaved DC first + refinement,
    spectral-selection AC bands, successive-approximation AC
    refinement, and EOBn run coding on the sparse high band — and
    decode it back with the pure numpy/stdlib multi-scan parser.
    Progressive coding is a lossless re-arrangement of the same
    quantized coefficients, so the flat-block exactness contract
    carries over unchanged and the oracle recomputes every pixel from
    the md5 hex: a bug anywhere in scan sequencing, spectral-band
    bookkeeping, bit-plane composition, EOB-run accounting, or
    refinement windows breaks the hash match. (Decoder conformance
    beyond this encoder is pinned at the coefficient level by the
    refinement pairing test; no external JPEG library exists in this
    container to cross-validate, same epistemic status as the
    baseline leg.)

    Scale: embarrassingly parallel Arrow-batched mapInPandas, no
    shuffle; payloads live only inside a task.
    """
    docs = load_table(spark, sf_dir, "documents", widen=True)
    return _gray_jpeg_leg(docs, _SQL_JPGP_HEX, jpeg.encode_gray8_progressive)


# --- real COLOR JPEG codec path (YCbCr 4:2:0) -------------------------------

# 32x32 RGB of four FLAT 16x16 MCUs (2 across, 2 down); MCU k's
# (R,G,B) = md5 bytes 3k..3k+2 (own 'c'-salted recipe — independent
# of the grayscale leg's payload). Flat 16x16 MCUs are the 4:2:0
# exactness domain: the 2x2 chroma box-mean averages equal values
# (exact), so all six 8x8 blocks per MCU are flat and the lossy
# pipeline reduces to the two rounded BT.601 transforms — closed-form
# integer arithmetic the SQL oracle replays bit-for-bit (verified
# exhaustively over all 256^3 RGB triples against DuckDB's
# round_even/double arithmetic).
_JPGC_W = _JPGC_H = 32
_SQL_JPGC_HEX = "substr(md5('c' || text), 1, 24)"


def _flat_mcu_rgb(hex24: str) -> bytes:
    """12 hex bytes -> 32x32 RGB of four flat 16x16 MCUs (2x2 grid,
    row-major MCU order). ONE definition of the layout; the SQL
    oracle assumes exactly this reshape(2,2,3) + 16x16 replication."""
    import numpy as np

    vals = np.frombuffer(bytes.fromhex(hex24), np.uint8).reshape(2, 2, 3)
    return np.repeat(np.repeat(vals, 16, axis=0), 16, axis=1).tobytes()


def _jpeg_color_stats(b: bytes) -> tuple:
    """Color decode (marker parse, Huffman decode, dequantize, IDCT
    per component, chroma replication upsample, BT.601 inverse), then
    per-channel means over the interleaved RGB bytes (exact: integer
    sums over a power-of-two pixel count) and the global max sample."""
    w, h, px = jpeg.decode_rgb8(bytes(b))
    return (
        w,
        h,
        sum(px[0::3]) * 3 / len(px),
        sum(px[1::3]) * 3 / len(px),
        sum(px[2::3]) * 3 / len(px),
        max(px),
    )


# Rounded BT.601 transforms as SQL. Every literal is ::DOUBLE (a bare
# 0.299 is DECIMAL in DuckDB — exact decimal arithmetic breaks ties
# differently from the codec's IEEE float64 at e.g. Y=163.5) and
# round_even mirrors numpy's rint; operation order matches the codec
# line-for-line. Verified bit-exact over all 16,777,216 RGB triples.
_SQL_YCC = """
  least(255.0, greatest(0.0, round_even(
    (0.299::DOUBLE*r + 0.587::DOUBLE*g) + 0.114::DOUBLE*b, 0))) AS y,
  least(255.0, greatest(0.0, round_even(
    ((128.0::DOUBLE - 0.168736::DOUBLE*r) - 0.331264::DOUBLE*g)
    + 0.5::DOUBLE*b, 0))) AS cb,
  least(255.0, greatest(0.0, round_even(
    ((128.0::DOUBLE + 0.5::DOUBLE*r) - 0.418688::DOUBLE*g)
    - 0.081312::DOUBLE*b, 0))) AS cr
"""
_SQL_RGB_REC = """
  least(255.0, greatest(0.0, round_even(
    y + 1.402::DOUBLE*(cr - 128.0::DOUBLE), 0))) AS r2,
  least(255.0, greatest(0.0, round_even(
    (y - 0.344136::DOUBLE*(cb - 128.0::DOUBLE))
    - 0.714136::DOUBLE*(cr - 128.0::DOUBLE), 0))) AS g2,
  least(255.0, greatest(0.0, round_even(
    y + 1.772::DOUBLE*(cb - 128.0::DOUBLE), 0))) AS b2
"""


@register(
    "multimodal_decode_jpeg_color",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
        CAST(('0x' || substr({_SQL_JPGC_HEX}, k*6+1, 2)) AS BIGINT) AS r,
        CAST(('0x' || substr({_SQL_JPGC_HEX}, k*6+3, 2)) AS BIGINT) AS g,
        CAST(('0x' || substr({_SQL_JPGC_HEX}, k*6+5, 2)) AS BIGINT) AS b
      FROM documents, range(0, 4) t(k) WHERE text IS NOT NULL),
    yc AS (SELECT doc_id, {_SQL_YCC} FROM m),
    rec AS (SELECT doc_id, {_SQL_RGB_REC} FROM yc),
    st AS (
      SELECT doc_id, CAST({_JPGC_W} AS INTEGER) AS width,
             CAST({_JPGC_H} AS INTEGER) AS height,
             round(avg(r2), 6) AS mean_r,
             round(avg(g2), 6) AS mean_g,
             round(avg(b2), 6) AS mean_b,
             CAST(max(greatest(r2, g2, b2)) AS INTEGER) AS max_px
      FROM rec GROUP BY doc_id)
    SELECT d.doc_id, st.width, st.height, st.mean_r, st.mean_g,
           st.mean_b, st.max_px
    FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
    """,
)
def multimodal_decode_jpeg_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy COLOR-codec round-trip: encode each document's
    md5-derived flat-MCU RGB image as an actual baseline YCbCr 4:2:0
    JFIF JPEG — BT.601 forward transform, 2x2 box-mean chroma
    downsampling, 16x16 MCUs interleaving 4 luma + 2 chroma blocks,
    Annex K Huffman entropy coding — and decode it back with the
    pure numpy/stdlib parser. Flat 16x16 MCUs make the 4:2:0 lossy
    pipeline exact (chroma box means average equal values; every 8x8
    block is flat, so DC-only spectra survive unit quantization), and
    the two rounding steps that remain — the forward and inverse
    BT.601 transforms — are closed-form integer arithmetic the oracle
    replays bit-for-bit (round_even + ::DOUBLE literals match numpy's
    rint/IEEE semantics, verified exhaustively over all 256^3 RGB
    triples). A bug in channel order, the even-bit MCU interleave,
    subsampling, either transform's coefficients, or per-component DC
    prediction breaks the hash match. Complements
    multimodal_decode_jpeg (grayscale leg): together the driver
    certifies both SOF0 component layouts the codec supports.

    Scale: embarrassingly parallel Arrow-batched mapInPandas, no
    shuffle; payloads live only inside a task.
    """
    docs = load_table(spark, sf_dir, "documents", widen=True)
    stats = _rowwise(
        docs,
        [_SQL_JPGC_HEX],
        lambda h: _jpeg_color_stats(
            jpeg.encode_rgb8(_JPGC_W, _JPGC_H, _flat_mcu_rgb(h), subsample=True)
        ),
        "width int, height int, mean_r double, mean_g double, "
        "mean_b double, max_px int",
    )
    return stats.select(
        "doc_id",
        "width",
        "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        "max_px",
    )


# --- real compressed-audio codec path (G.711 mu-law in RIFF) ---------------

_MULAW_N = 32         # codes per clip
_MULAW_RATE = 8000

# 32 mu-law code bytes = two chained md5 digests (own recipe — not
# the synthetic-payload hex — so the twins stay independent).
_SQL_MULAW_HEX = "md5('u' || text) || md5('v' || text)"
# closed-form G.711 expansion of code byte i (1-based in the hex):
# cc = 255-b; e = bits 4..6; m = low nibble;
# mag = ((2m+33) << (e+2)) - 132, negated when the sign bit is set.
_SQL_MULAW_SAMPLES = f"""
  list_transform(
    list_transform(range(1, {_MULAW_N} + 1), i ->
      255 - CAST(('0x' || substr({_SQL_MULAW_HEX}, i*2-1, 2)) AS BIGINT)),
    cc -> CASE WHEN cc >= 128 THEN
            -(((2*(cc % 16) + 33) << (((cc // 16) % 8) + 2)) - 132)
          ELSE ((2*(cc % 16) + 33) << (((cc // 16) % 8) + 2)) - 132 END)
"""


def _g711_leg(docs: DataFrame, hex_sql: str, encode, decode) -> DataFrame:
    """One body for the two G.711 legs: frame the 32 md5-derived code
    bytes as a REAL WAVE_FORMAT_MULAW/ALAW RIFF file, then container
    parse (format-tag validation, chunk walk) + logarithmic
    expansion and the per-clip sample statistics."""
    stats = _audio_stats(decode)
    return _audio_stats_select(
        _rowwise(
            docs,
            [hex_sql],
            lambda h: stats(encode(_MULAW_RATE, bytes.fromhex(h))),
            _AUDIO_SCHEMA,
        )
    )


@register(
    "multimodal_decode_mulaw",
    oracle=f"""
    WITH sm AS (
      SELECT doc_id, {_SQL_MULAW_SAMPLES} AS s FROM documents
      WHERE text IS NOT NULL),
    st AS (
      SELECT doc_id, CAST({_MULAW_RATE} AS INTEGER) AS framerate,
             CAST({_MULAW_N} AS INTEGER) AS n_samples,
             round(CAST(list_sum(list_transform(s, x -> abs(x))) AS DOUBLE)
                   / {_MULAW_N}, 6) AS mean_abs,
             CAST(list_max(list_transform(s, x -> abs(x))) AS INTEGER)
               AS max_abs
      FROM sm)
    SELECT d.doc_id, st.framerate, st.n_samples, st.mean_abs, st.max_abs
    FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
    """,
)
def multimodal_decode_mulaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-audio round-trip: frame each document's
    md5-derived G.711 mu-law codes as an actual WAVE_FORMAT_MULAW
    (tag 7) RIFF file and decode it back — container parse,
    format-tag validation, logarithmic expansion — with the
    pure-stdlib codec (``functions/g711.py``, verified code-for-code
    against CPython's ``audioop`` reference on all 256 codes). The
    oracle replays the closed-form integer expansion straight from
    the md5 hex, so a bug in companding arithmetic, sign handling,
    chunk framing, or word alignment breaks the hash match. The
    A-law sibling is multimodal_decode_alaw.

    Scale: embarrassingly parallel Arrow-batched mapInPandas, no
    shuffle; payloads live only inside a task.
    """
    docs = load_table(spark, sf_dir, "documents")
    return _g711_leg(
        docs, _SQL_MULAW_HEX, g711.encode_wav_mulaw, g711.decode_wav_mulaw
    )


# 32 A-law code bytes per clip — own md5 recipe so the twins stay
# independent of the mu-law query's payload.
_SQL_ALAW_HEX = "md5('a' || text) || md5('b' || text)"
# Closed-form G.711 A-law expansion of code byte b (1-based in the
# hex): cc = b XOR 0x55 (the spec's even-bit toggle); e = bits 4..6;
# m = low nibble; mag = (m<<4)+8 when e=0 else ((m<<4)+0x108)<<(e-1);
# the sign bit SET means positive (opposite of mu-law).
_SQL_ALAW_MAG = (
    "CASE WHEN ((cc // 16) % 8) = 0 THEN ((cc % 16) << 4) + 8 "
    "ELSE (((cc % 16) << 4) + 264) << (((cc // 16) % 8) - 1) END"
)
_SQL_ALAW_SAMPLES = f"""
  list_transform(
    list_transform(range(1, {_MULAW_N} + 1), i ->
      xor(CAST(('0x' || substr({_SQL_ALAW_HEX}, i*2-1, 2)) AS BIGINT), 85)),
    cc -> CASE WHEN cc >= 128 THEN {_SQL_ALAW_MAG}
          ELSE -({_SQL_ALAW_MAG}) END)
"""


@register(
    "multimodal_decode_alaw",
    oracle=f"""
    WITH sm AS (
      SELECT doc_id, {_SQL_ALAW_SAMPLES} AS s FROM documents
      WHERE text IS NOT NULL),
    st AS (
      SELECT doc_id, CAST({_MULAW_RATE} AS INTEGER) AS framerate,
             CAST({_MULAW_N} AS INTEGER) AS n_samples,
             round(CAST(list_sum(list_transform(s, x -> abs(x))) AS DOUBLE)
                   / {_MULAW_N}, 6) AS mean_abs,
             CAST(list_max(list_transform(s, x -> abs(x))) AS INTEGER)
               AS max_abs
      FROM sm)
    SELECT d.doc_id, st.framerate, st.n_samples, st.mean_abs, st.max_abs
    FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
    """,
)
def multimodal_decode_alaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-audio round-trip, A-law leg: frame each
    document's md5-derived G.711 A-law codes as an actual
    WAVE_FORMAT_ALAW (tag 6) RIFF file and decode it back —
    container parse, format-tag validation (a mu-law file is
    rejected), logarithmic expansion — with the pure-stdlib codec
    (``functions/g711.py``, bit-exact to CPython's ``audioop`` on
    all 256 codes decode-side and on every int16 sample
    encode-side). The oracle replays the closed-form expansion
    (XOR 0x55 toggle, segment shift, sign-bit-set-positive) straight
    from the md5 hex, so a bug in companding arithmetic, the even-bit
    toggle, sign convention, or chunk framing breaks the hash match.

    Scale: embarrassingly parallel Arrow-batched mapInPandas, no
    shuffle; payloads live only inside a task.
    """
    docs = load_table(spark, sf_dir, "documents")
    return _g711_leg(
        docs, _SQL_ALAW_HEX, g711.encode_wav_alaw, g711.decode_wav_alaw
    )


# --- real video codec path (Motion-JPEG in AVI) -----------------------------

# 4 frames of 32x24 grayscale flat-block JPEG per clip; frame f's 12
# block bytes come from md5('f<f>' || text). The stride sampler keeps
# frames 0 and 2, so the oracle recomputes the sampled-pixel stats
# from exactly those two digests.
_VID_FRAMES = 4
_VID_FPS = 10
_VID_STRIDE = 2


def _sql_vid_hex(f: int) -> str:
    return f"substr(md5('f{f}' || text), 1, 24)"


def _encode_video(h: str) -> bytes:
    """Four baseline-JPEG frames framed in a RIFF 'AVI ' container
    (hdrl/strl/movi)."""
    frames = [
        jpeg.encode_gray8(
            _JPG_W, _JPG_H, _flat_block_gray(h[f * 24 : (f + 1) * 24])
        )
        for f in range(_VID_FRAMES)
    ]
    return avi.encode_avi_mjpeg(_JPG_W, _JPG_H, _VID_FPS, frames)


def _video_stats(b: bytes) -> tuple:
    """RIFF/AVI container parse, stride frame sampling on the RAW
    encoded chunks, then baseline-JPEG decode of ONLY the kept frames
    and pixel statistics over them — the thumbnail/quality screen a
    video-data pipeline runs before any model. Sampling before decode
    matters: at stride n the expensive Huffman+IDCT work drops by
    (n-1)/n, which is the whole point of thinning a 100 TB corpus."""
    w, h, fps, raw = avi.parse_avi_mjpeg(bytes(b))
    kept = [jpeg.decode_gray8(f) for f in avi.sample_frames(raw, _VID_STRIDE)]
    px = b"".join(f[2] for f in kept)
    return (w, h, fps, len(raw), len(kept), sum(px) / len(px), max(px))


@register(
    "multimodal_decode_video",
    oracle=f"""
    WITH px AS (
      SELECT doc_id,
             list_transform(range(1, 13),
               i -> CAST(('0x' || substr({_sql_vid_hex(0)}, i*2-1, 2))
                    AS BIGINT))
             || list_transform(range(1, 13),
               i -> CAST(('0x' || substr({_sql_vid_hex(2)}, i*2-1, 2))
                    AS BIGINT)) AS bs
      FROM documents WHERE text IS NOT NULL),
    st AS (
      SELECT doc_id, CAST({_JPG_W} AS INTEGER) AS width,
             CAST({_JPG_H} AS INTEGER) AS height,
             CAST({_VID_FPS} AS INTEGER) AS fps,
             CAST({_VID_FRAMES} AS INTEGER) AS n_frames,
             CAST(2 AS INTEGER) AS n_sampled,
             round(CAST(list_sum(bs) AS DOUBLE) / 24, 6) AS mean_px,
             CAST(list_max(bs) AS INTEGER) AS max_px
      FROM px)
    SELECT d.doc_id, st.width, st.height, st.fps, st.n_frames,
           st.n_sampled, st.mean_px, st.max_px
    FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
    """,
)
def multimodal_decode_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video round-trip: encode four md5-derived frames as
    baseline JPEGs, frame them in an actual RIFF MJPEG AVI
    (``functions/avi.py``), then decode the container, stride-sample
    every 2nd frame, decode the kept frames through the real JPEG
    parser, and compute pixel statistics over them — the video
    analogue of multimodal_decode_png/jpeg/wav/mulaw, closing the
    last modality with a genuine container + codec. The oracle
    recomputes the sampled frames' pixels straight from their md5
    digests, so a bug in AVI framing, stream-header validation, frame
    chunking, JPEG decoding, or the stride arithmetic breaks the hash
    match. Inter-frame/perceptual codecs (H.264, VP9) are out of
    scope.

    Scale: embarrassingly parallel Arrow-batched mapInPandas, no
    shuffle; payloads live only inside a task — exactly how a real
    100 TB video corpus is screened (per-file decode, no data
    movement beyond the scan).
    """
    docs = load_table(spark, sf_dir, "documents", widen=True)
    stats = _rowwise(
        docs,
        [" || ".join(_sql_vid_hex(f) for f in range(_VID_FRAMES))],
        lambda h: _video_stats(_encode_video(h)),
        "width int, height int, fps int, n_frames int, n_sampled int, "
        "mean_px double, max_px int",
    )
    return stats.select(
        "doc_id",
        "width",
        "height",
        "fps",
        "n_frames",
        "n_sampled",
        F.round("mean_px", 6).alias("mean_px"),
        "max_px",
    )


# --- real GIF codec path (LZW) -----------------------------------------------

# 8x3 grayscale = 24 pixels from two chained md5 digests; 24 is one
# of the divisors whose round(mean, 6) is proved tie-free by
# enumeration (see _px_stats_select). GIF's identity gray palette
# makes pixel value == palette index, so the LZW pipeline is
# bit-exact lossless and the oracle recomputes every pixel from SQL.
_GIF_W, _GIF_H = 8, 3
_SQL_GIF_HEX = "substr(md5(text) || md5('g' || text), 1, 48)"


@register(
    "multimodal_decode_gif",
    oracle=f"""
    WITH px AS (
      SELECT doc_id, list_transform(range(1, 25),
               i -> CAST(('0x' || substr({_SQL_GIF_HEX}, i*2-1, 2))
                    AS BIGINT)) AS bs
      FROM documents WHERE text IS NOT NULL),
    st AS (
      SELECT doc_id, CAST({_GIF_W} AS INTEGER) AS width,
             CAST({_GIF_H} AS INTEGER) AS height,
             round(CAST(list_sum(bs) AS DOUBLE) / 24, 6) AS mean_px,
             CAST(list_max(bs) AS INTEGER) AS max_px
      FROM px)
    SELECT d.doc_id, st.width, st.height, st.mean_px, st.max_px
    FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
    """,
)
def multimodal_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec round-trip for a THIRD compression family —
    dictionary coding: encode each document's md5-derived pixels as
    an actual GIF89a file (screen descriptor, 256-entry gray color
    table, variable-width LZW with the spec's asymmetric
    encoder/decoder width growth, sub-block framing) and decode it
    back with the pure-stdlib parser (``functions/gif.py``). The
    identity gray palette makes the pipeline bit-exact lossless, so
    the oracle recomputes the pixel statistics straight from the md5
    hex — a bug anywhere in LZW packing, width growth, palette
    handling, or sub-block framing breaks the hash match. Joins PNG
    (DEFLATE), JPEG (DCT+Huffman), G.711 (companding), and MJPEG/AVI
    (container) as the fifth real image/video wire format.

    Scale: embarrassingly parallel Arrow-batched mapInPandas, no
    shuffle; payloads never leave the task."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    stats = _px_stats(gif.decode_gray8)
    return _px_stats_select(
        _rowwise(
            docs,
            [_SQL_GIF_HEX],
            lambda h: stats(gif.encode_gray8(_GIF_W, _GIF_H, bytes.fromhex(h))),
            _PX_SCHEMA,
        )
    )


# --- real FLAC codec path (fixed prediction + Rice coding) -------------------

_FLAC_N = 32          # samples per clip (dyadic -> exact mean_abs)
_FLAC_RATE = 8000

# 32 16-bit samples need 64 bytes = four chained md5 digests (own
# salts, independent of the PCM-WAV recipe).
_SQL_FLAC_HEX = (
    "md5('p' || text) || md5('q' || text) "
    "|| md5('r' || text) || md5('s' || text)"
)
_SQL_FLAC_SAMPLES = _sql_int16s(_SQL_FLAC_HEX, _FLAC_N)


@register(
    "multimodal_decode_flac",
    oracle=f"""
    WITH sm AS (
      SELECT doc_id, {_SQL_FLAC_SAMPLES} AS s FROM documents
      WHERE text IS NOT NULL),
    st AS (
      SELECT doc_id, CAST({_FLAC_RATE} AS INTEGER) AS framerate,
             CAST({_FLAC_N} AS INTEGER) AS n_samples,
             round(CAST(list_sum(list_transform(s, x -> abs(x))) AS DOUBLE)
                   / {_FLAC_N}, 6) AS mean_abs,
             CAST(list_max(list_transform(s, x -> abs(x))) AS INTEGER)
               AS max_abs
      FROM sm)
    SELECT d.doc_id, st.framerate, st.n_samples, st.mean_abs, st.max_abs
    FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
    """,
)
def multimodal_decode_flac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec round-trip for the PREDICTIVE compression family:
    encode each document's md5-derived int16 samples as an actual
    FLAC file (STREAMINFO + audio MD5, sync-coded frame header with
    CRC-8, best-of-5 fixed polynomial predictor, Rice-coded
    residuals with the exactly-optimal parameter, frame CRC-16) and
    decode it back with the pure-stdlib parser (``functions/
    flac.py``), which verifies all three integrity fields. FLAC is
    lossless, so the oracle recomputes the identical samples
    straight from the md5 hex — a bug anywhere in bit packing,
    prediction, Rice/zigzag coding, or CRC arithmetic breaks the
    hash match. Completes the compression-family taxonomy: DEFLATE
    (PNG), LZW (GIF), DCT+Huffman (JPEG), companding (G.711),
    prediction+Rice (FLAC); perceptual codecs (mp3/ogg) are out of
    scope.

    Scale: embarrassingly parallel Arrow-batched mapInPandas, no
    shuffle; payloads live only inside a task."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    stats = _audio_stats(flac.decode_s16)
    return _audio_stats_select(
        _rowwise(
            docs,
            [_SQL_FLAC_HEX],
            lambda h: stats(flac.encode_s16(_int16s(h), _FLAC_RATE)),
            _AUDIO_SCHEMA,
        )
    )


# ---------------------------------------------------------------------------
# IMA ADPCM (WAVE format 0x11) — the STATEFUL compression family.

_ADPCM_RATE = 11025
_ADPCM_NIB = 64  # 4-bit codes per clip -> 65 output samples
# The IMA step-size and index tables, inlined for the SQL twin
# (duplicated from functions/adpcm.py BY DESIGN: the oracle must not
# share the implementation's table, or a typo there would cancel out).
_SQL_ADPCM_STEPS = "[7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767]"
_SQL_ADPCM_IDXT = "[-1,-1,-1,-1,2,4,6,8]"


def _ima_block(h: str) -> tuple[int, int, bytes]:
    """One block's hex -> (predictor, step index, nibble bytes): the
    predictor from the first 4 hex chars as a signed int16, the index
    from the next byte % 89, the nibbles from the rest."""
    v = int(h[0:4], 16)
    return (v - 65536 if v >= 32768 else v, int(h[4:6], 16) % 89,
            bytes.fromhex(h[6:]))


# Predictor/index from md5('p'||text), 32 nibble bytes from
# md5('q'||text)||md5('r'||text) — one 70-char hex per clip.
_SQL_ADPCM_HEX = (
    "substr(md5('p' || text), 1, 6) || md5('q' || text) || md5('r' || text)"
)


@register(
    "multimodal_decode_adpcm",
    oracle=f"""
    WITH RECURSIVE src AS (
      SELECT doc_id, md5('p' || text) AS ph,
             md5('q' || text) || md5('r' || text) AS dh
      FROM documents WHERE text IS NOT NULL),
    init AS (
      SELECT doc_id,
             CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS pred,
             CAST(('0x' || substr(ph, 5, 2)) AS INTEGER) % 89 AS idx,
             dh
      FROM (SELECT doc_id,
                   CAST(('0x' || substr(ph, 1, 4)) AS INTEGER) AS v,
                   ph, dh FROM src) q),
    dec AS (
      SELECT doc_id, 0 AS i, pred, idx, dh FROM init
      UNION ALL
      SELECT doc_id, i + 1,
             GREATEST(-32768, LEAST(32767,
               pred + CASE WHEN nib >= 8 THEN -d ELSE d END)) AS pred,
             GREATEST(0, LEAST(88,
               idx + list_extract({_SQL_ADPCM_IDXT}, (nib % 8) + 1)))
               AS idx,
             dh
      FROM (
        SELECT doc_id, i, pred, idx, dh, nib,
               (step // 8) + (nib % 2) * (step // 4)
                 + ((nib // 2) % 2) * (step // 2)
                 + ((nib // 4) % 2) * step AS d
        FROM (
          SELECT doc_id, i, pred, idx, dh,
                 CASE WHEN (i % 2) = 0
                      THEN CAST(('0x' || substr(dh, (i // 2) * 2 + 1, 2))
                                AS INTEGER) % 16
                      ELSE CAST(('0x' || substr(dh, (i // 2) * 2 + 1, 2))
                                AS INTEGER) // 16
                 END AS nib,
                 list_extract({_SQL_ADPCM_STEPS}, idx + 1) AS step
          FROM dec WHERE i < {_ADPCM_NIB}) a) b),
    st AS (
      SELECT doc_id, CAST({_ADPCM_RATE} AS INTEGER) AS framerate,
             CAST({_ADPCM_NIB} + 1 AS INTEGER) AS n_samples,
             round(CAST(sum(abs(pred)) AS DOUBLE)
                   / ({_ADPCM_NIB} + 1), 6) AS mean_abs,
             CAST(max(abs(pred)) AS INTEGER) AS max_abs
      FROM dec GROUP BY doc_id)
    SELECT d.doc_id, st.framerate, st.n_samples, st.mean_abs, st.max_abs
    FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
    """,
)
def multimodal_decode_adpcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec round-trip for the STATEFUL compression family:
    frame each document's md5-derived predictor/index/nibble stream
    as an actual WAVE_FORMAT_IMA_ADPCM (0x11) file — fmt extension
    with wSamplesPerBlock, mandatory fact chunk, 4-byte block header
    — and decode it back with the pure-stdlib state machine
    (``functions/adpcm.py``, bit-exact to CPython's audioop DVI
    reference on BOTH encode and decode, property-tested). Unlike
    every other audio leg the decode is SEQUENTIAL (each sample's
    reconstruction depends on all previous codes), so the oracle
    replays the predictor recursion with a recursive CTE over the
    IMA step table — a drift in step adaptation, clamping, nibble
    order, or the diff reconstruction breaks the hash on every row.
    Completes the taxonomy: DEFLATE (PNG), LZW (GIF), DCT+Huffman
    (JPEG), companding (G.711), prediction+Rice (FLAC), adaptive
    DPCM (this leg); perceptual codecs (mp3/ogg) are out of scope.

    Scale: embarrassingly parallel Arrow-batched mapInPandas, no
    shuffle; payloads live only inside a task."""
    docs = load_table(spark, sf_dir, "documents")
    stats = _audio_stats(adpcm.decode_wav_ima)
    return _audio_stats_select(
        _rowwise(
            docs,
            [_SQL_ADPCM_HEX],
            lambda h: stats(adpcm.frame_wav_ima(_ADPCM_RATE, *_ima_block(h))),
            _AUDIO_SCHEMA,
        )
    )


# ---------------------------------------------------------------
# Multi-block ADPCM: two blocks per file, each with its own header
# state (md5('p'/'s'||text)) and 16 nibble bytes (md5('q'/'t'||text)),
# so the oracle recursion stays per-(doc, block) independent.

_ADPCM_MB_NIB = 32  # nibbles per block (one md5 per block)
_ADPCM_MB_SAMPLES = 2 * (_ADPCM_MB_NIB + 1)  # two blocks
_SQL_ADPCM_MB_HEX = (
    "substr(md5('p' || text), 1, 6) || md5('q' || text) || "
    "substr(md5('s' || text), 1, 6) || md5('t' || text)"
)


_ADPCM_MB_ORACLE = f"""
    WITH RECURSIVE src AS (
      SELECT doc_id, b.blk,
             CASE WHEN b.blk = 0 THEN md5('p' || text)
                  ELSE md5('s' || text) END AS ph,
             CASE WHEN b.blk = 0 THEN md5('q' || text)
                  ELSE md5('t' || text) END AS dh
      FROM documents, (VALUES (0), (1)) b(blk) WHERE text IS NOT NULL),
    init AS (
      SELECT doc_id, blk,
             CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS pred,
             CAST(('0x' || substr(ph, 5, 2)) AS INTEGER) % 89 AS idx,
             dh
      FROM (SELECT doc_id, blk,
                   CAST(('0x' || substr(ph, 1, 4)) AS INTEGER) AS v,
                   ph, dh FROM src) q),
    dec AS (
      SELECT doc_id, blk, 0 AS i, pred, idx, dh FROM init
      UNION ALL
      SELECT doc_id, blk, i + 1,
             GREATEST(-32768, LEAST(32767,
               pred + CASE WHEN nib >= 8 THEN -d ELSE d END)) AS pred,
             GREATEST(0, LEAST(88,
               idx + list_extract({_SQL_ADPCM_IDXT}, (nib % 8) + 1)))
               AS idx,
             dh
      FROM (
        SELECT doc_id, blk, i, pred, idx, dh, nib,
               (step // 8) + (nib % 2) * (step // 4)
                 + ((nib // 2) % 2) * (step // 2)
                 + ((nib // 4) % 2) * step AS d
        FROM (
          SELECT doc_id, blk, i, pred, idx, dh,
                 CASE WHEN (i % 2) = 0
                      THEN CAST(('0x' || substr(dh, (i // 2) * 2 + 1, 2))
                                AS INTEGER) % 16
                      ELSE CAST(('0x' || substr(dh, (i // 2) * 2 + 1, 2))
                                AS INTEGER) // 16
                 END AS nib,
                 list_extract({_SQL_ADPCM_STEPS}, idx + 1) AS step
          FROM dec WHERE i < {_ADPCM_MB_NIB}) a) b),
    st AS (
      SELECT doc_id, CAST({_ADPCM_RATE} AS INTEGER) AS framerate,
             CAST({_ADPCM_MB_SAMPLES} AS INTEGER) AS n_samples,
             round(CAST(sum(abs(pred)) AS DOUBLE)
                   / {_ADPCM_MB_SAMPLES}, 6) AS mean_abs,
             CAST(max(abs(pred)) AS INTEGER) AS max_abs
      FROM dec GROUP BY doc_id)
    SELECT d.doc_id, st.framerate, st.n_samples, st.mean_abs, st.max_abs
    FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
    """


@register("multimodal_decode_adpcm_multiblock", oracle=_ADPCM_MB_ORACLE)
def multimodal_decode_adpcm_multiblock(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multi-block sibling of :func:`multimodal_decode_adpcm`: two
    self-describing blocks per file, so the engine exercises the
    container's block walk (fixed block align, per-block header
    re-seed) rather than a single state machine run. The oracle
    replays each block's recursion independently — partitioned by
    (doc_id, blk) — then aggregates per document. Same zero-shuffle
    Arrow-batched mapInPandas scale shape as every audio leg."""
    docs = load_table(spark, sf_dir, "documents")
    stats = _audio_stats(adpcm.decode_wav_ima)
    return _audio_stats_select(
        _rowwise(
            docs,
            [_SQL_ADPCM_MB_HEX],
            lambda h: stats(
                adpcm.frame_wav_ima_multi(
                    _ADPCM_RATE, [_ima_block(h[0:38]), _ima_block(h[38:76])]
                )
            ),
            _AUDIO_SCHEMA,
        )
    )


def _gray48_oracle(width: int, height: int) -> str:
    """Oracle for the TIFF, BMP and TGA legs: identical pixel
    statistics recomputed from the md5 hex — all 48 bytes of
    ``_SQL_PIX_HEX``, so the divisor joins the tie-free-by-enumeration
    set in test_mean_px_round_tie_free_domains."""
    return f"""
WITH px AS (
  SELECT doc_id, list_transform(range(1, 49),
           i -> CAST(('0x' || substr({_SQL_PIX_HEX}, i*2-1, 2))
                AS BIGINT)) AS bs
  FROM documents WHERE text IS NOT NULL),
st AS (
  SELECT doc_id, CAST({width} AS INTEGER) AS width,
         CAST({height} AS INTEGER) AS height,
         round(CAST(list_sum(bs) AS DOUBLE) / 48, 6) AS mean_px,
         CAST(list_max(bs) AS INTEGER) AS max_px
  FROM px)
SELECT d.doc_id, st.width, st.height, st.mean_px, st.max_px
FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
"""


# ---------------------------------------------------------------
# TIFF — the tag-directory container family (round-14 queue).

_TIFF_W, _TIFF_H = 8, 6  # 48 gray bytes = all three md5 digests


@register("multimodal_decode_tiff", oracle=_gray48_oracle(_TIFF_W, _TIFF_H))
def multimodal_decode_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec round-trip for the TAG-DIRECTORY container family:
    encode each document's md5-derived pixels (the full 48 bytes of
    the three chained digests) as an actual 8x6 multi-strip TIFF
    (byte-order header, sorted IFD, inline vs out-of-line values,
    StripOffsets/StripByteCounts indirection) and decode it back with
    the pure-stdlib parser. Byte order alternates by doc parity —
    even docs II, odd docs MM — so the decoder exercises BOTH
    orders while the oracle stays endianness-invariant. PNG covers
    linear chunk framing + DEFLATE, GIF covers LZW sub-blocks, JPEG
    covers entropy coding; TIFF adds random-access offset
    indirection, the container shape most scientific/scan corpora
    arrive in. Same zero-shuffle Arrow-batched mapInPandas scale
    shape as every image leg."""
    docs = load_table(spark, sf_dir, "documents")
    stats = _px_stats(tiff.decode_gray8)
    return _px_stats_select(
        _rowwise(
            docs,
            [_SQL_PIX_HEX, "doc_id % 2 = 1"],
            lambda h, be: stats(
                tiff.encode_gray8(
                    _TIFF_W, _TIFF_H, bytes.fromhex(h), big_endian=be
                )
            ),
            _PX_SCHEMA,
        )
    )


# ---------------------------------------------------------------
# BMP — bottom-up rows, stride padding, palette (round-14 queue).

_BMP_W, _BMP_H = 6, 8  # 48 gray bytes; stride 8 pads 2 per row


@register("multimodal_decode_bmp", oracle=_gray48_oracle(_BMP_W, _BMP_H))
def multimodal_decode_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec round-trip for the Windows DIB layout family:
    encode each document's md5-derived pixels as an actual
    palettized BMP and decode it back with the pure-stdlib parser —
    BOTTOM-UP row storage, 4-byte stride padding (width 6 pads 2
    bytes per row), and 256-entry identity-gray palette indirection,
    the three layout properties PNG/GIF/JPEG/TIFF never exercise.
    The stats are row-order-invariant, so the JVM conformance tests
    (pixel-exact) carry the bottom-up property while the oracle here
    pins the palette/stride walk. Same zero-shuffle Arrow-batched
    mapInPandas scale shape as every image leg."""
    docs = load_table(spark, sf_dir, "documents")
    stats = _px_stats(bmp.decode_gray8)
    return _px_stats_select(
        _rowwise(
            docs,
            [_SQL_PIX_HEX],
            lambda h: stats(bmp.encode_gray8(_BMP_W, _BMP_H, bytes.fromhex(h))),
            _PX_SCHEMA,
        )
    )


# ---------------------------------------------------------------
# TGA — run-length packets, origin bit, v2 footer.

_TGA_W, _TGA_H = 8, 6  # 48 gray bytes, same tie-free divisor domain


@register("multimodal_decode_tga", oracle=_gray48_oracle(_TGA_W, _TGA_H))
def multimodal_decode_tga(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec round-trip for the RUN-LENGTH compression family:
    encode each document's md5-derived pixels as an actual RLE TGA
    (run/literal packets, per-scan-line framing, origin-bit row
    order alternating by doc parity — even docs bottom-up, odd docs
    top-down — trailing v2 footer) and decode it back with the
    pure-stdlib parser. PNG covers DEFLATE, GIF covers LZW, JPEG
    covers entropy coding — TGA adds byte-oriented RLE, the simplest
    compression scheme still shipped in scan/game-asset corpora,
    plus a trailing footer that breaks any pixels-run-to-EOF
    assumption. Same zero-shuffle Arrow-batched mapInPandas scale
    shape as every image leg."""
    docs = load_table(spark, sf_dir, "documents")
    stats = _px_stats(tga.decode_gray8)
    return _px_stats_select(
        _rowwise(
            docs,
            [_SQL_PIX_HEX, "doc_id % 2 = 1"],
            lambda h, td: stats(
                tga.encode_gray8(_TGA_W, _TGA_H, bytes.fromhex(h), top_down=td)
            ),
            _PX_SCHEMA,
        )
    )


# ---------------------------------------------------------------
# AIFF — big-endian IFF container, 80-bit extended sample rate.

_AIFF_N = 32  # samples per clip (dyadic -> exact mean_abs)
# 44100 is deliberately NOT a power of two: packing it into the
# 80-bit extended field exercises real mantissa alignment (bit
# pattern 0x400E_AC44000000000000), where 8000 = 2^6 * 125 would
# still pass with an off-by-one exponent on round numbers.
_AIFF_RATE = 44100
_SQL_AIFF_HEX = (
    "md5('af1' || text) || md5('af2' || text) || "
    "md5('af3' || text) || md5('af4' || text)"
)
# sample i (1-based): little-endian signed int16 from hex byte pair
# — the SAMPLE VALUES are derived LE from the hex exactly like the
# WAV/FLAC legs (one shared recipe), while the FILE stores them
# big-endian; the codec owns that byte swap.
_SQL_AIFF_SAMPLES = _sql_int16s(_SQL_AIFF_HEX, _AIFF_N)


# Oracle for multimodal_decode_aiff: identical int16 samples
# recomputed from the md5 hex; divisor 32 is dyadic, so mean_abs is
# exact on both engines before the shared 6-digit round.
_AIFF_ORACLE = f"""
WITH sm AS (
  SELECT doc_id, {_SQL_AIFF_SAMPLES} AS s FROM documents
  WHERE text IS NOT NULL),
st AS (
  SELECT doc_id, CAST({_AIFF_RATE} AS INTEGER) AS framerate,
         CAST({_AIFF_N} AS INTEGER) AS n_samples,
         round(CAST(list_sum(list_transform(s, x -> abs(x))) AS DOUBLE)
               / {_AIFF_N}, 6) AS mean_abs,
         CAST(list_max(list_transform(s, x -> abs(x))) AS INTEGER)
           AS max_abs
  FROM sm)
SELECT d.doc_id, st.framerate, st.n_samples, st.mean_abs, st.max_abs
FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
"""


@register("multimodal_decode_aiff", oracle=_AIFF_ORACLE)
def multimodal_decode_aiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec round-trip for the BIG-ENDIAN IFF container family:
    encode each document's md5-derived int16 samples as an actual
    FORM/AIFF file and decode it back with the pure-stdlib parser
    (unknown chunks skipped by size, odd-length pad bytes honored).
    WAV covers RIFF (little-endian); AIFF is its EA-IFF 85 ancestor
    with the opposite byte order throughout AND the 80-bit IEEE
    extended sample-rate field — the one place a pipeline still
    parses x87 extended precision, done here as exact integer
    arithmetic (a double round-trip would pass every power-of-two
    rate and silently corrupt others). The oracle recomputes the
    identical samples straight from the md5 hex, so a bug in chunk
    walking, pad-byte accounting, the extended-float decode, or the
    big-endian PCM swap breaks the hash match. Same zero-shuffle
    Arrow-batched mapInPandas scale shape as every audio leg."""
    docs = load_table(spark, sf_dir, "documents")
    stats = _audio_stats(aiff.decode_pcm16)
    return _audio_stats_select(
        _rowwise(
            docs,
            [_SQL_AIFF_HEX],
            lambda h: stats(aiff.encode_pcm16(_int16s(h), _AIFF_RATE)),
            _AUDIO_SCHEMA,
        )
    )
