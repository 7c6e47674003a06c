"""Deduplication operators (exact, MinHash-LSH, SimHash, n-gram Jaccard,
containment) over ``documents``.

The reference has no dedup (its group stage only counts distinct lines,
reference ``master/__main__.py:250-253``). ``dedup_fingerprint`` and
``dedup_keep_one`` group on a 60-bit fingerprint; ``dedup_exact`` groups on
the raw text, the byte-identity baseline. MinHash and SimHash use banding,
so candidate generation is an equi-join on (band, signature). The
md5-derived hash family is engine-portable, so every stage has a DuckDB
oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from map_reduce_server_spark.functions.hashing import md5_long, sql_md5_long
from map_reduce_server_spark.functions.tokens import SQL_TOKS, word_tokens_col
from map_reduce_server_spark.registry import register
from map_reduce_server_spark.stagecut import stage_cut
from map_reduce_server_spark.tables import load_table

# --- shared shingling (word 3-grams over non-empty lowercase tokens) -------

# Normalized-text duplicate-group key, shared by dedup_fingerprint and
# dedup_keep_one (the two MUST define identical groups) and mirrored
# below for their oracles.
_SQL_NORM = "regexp_replace(lower(trim(text)), ' +', ' ', 'g')"


def norm_text_col() -> Column:
    return F.regexp_replace(F.lower(F.trim(F.col("text"))), " +", " ")


_SQL_SHINGLES = f"""
  (SELECT DISTINCT doc_id,
          unnest(list_transform(range(1, greatest(len({SQL_TOKS}) - 1, 1)),
                 i -> {SQL_TOKS}[i] || ' ' || {SQL_TOKS}[i+1]
                      || ' ' || {SQL_TOKS}[i+2])) AS shingle
   FROM documents)
"""


def doc_shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, arr): the per-document distinct shingle array, computed
    row-locally.

    A (doc_id, shingle) duplicate can only arise within one document, so
    ``array_distinct`` on the per-doc array yields exactly the distinct pair
    set with no ``distinct()`` shuffle (equivalence pinned in
    tests/test_dedup_shingles.py). As an array, per-doc sizes
    (``size(arr)``) and pairwise intersection counts (``array_intersect``
    after a candidate join) are row-local too.

    The documents scan is widened: tokenize + shingling is the family's
    dominant narrow work (see ``tables.load_table``).
    """
    docs = load_table(spark, sf_dir, "documents", widen=True)
    with_toks = docs.select("doc_id", word_tokens_col().alias("ts"))
    return with_toks.select(
        "doc_id", F.array_distinct(_shingle_arr_col()).alias("arr")
    )


def _shingle_arr_col() -> Column:
    """The per-document shingle-array EXPRESSION over a ``ts`` token
    column — shared by the exploded and the array-table views."""
    n = F.size(F.col("ts"))
    return F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("ts"), i),
                F.element_at(F.col("ts"), i + 1),
                F.element_at(F.col("ts"), i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles_df(
    spark: SparkSession, sf_dir: str, distinct: bool = True
) -> DataFrame:
    """(doc_id, 3-word-shingle) pairs, distinct by default; the explode is
    row-local.

    Explodes the array expression inline rather than selecting
    :func:`doc_shingle_arrays`'s ``arr`` column first: a projected
    higher-order-function column that is then exploded gets its
    interpreted lambda re-evaluated below the exchange (docs/SCALING.md,
    dedup). Consumers that need the arrays cut ``doc_shingle_arrays``, so
    ``arr`` is materialized once.
    """
    docs = load_table(spark, sf_dir, "documents", widen=True)
    with_toks = docs.select("doc_id", word_tokens_col().alias("ts"))
    shingle_arr = _shingle_arr_col()
    if distinct:
        shingle_arr = F.array_distinct(shingle_arr)
    return with_toks.select("doc_id", F.explode(shingle_arr).alias("shingle"))


# --- exact dedup ------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT text, CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-group on the full text, keep min doc_id. Not
    widened: the groupBy exchange already redistributes every row and the
    only narrow work is hashing. The same holds for dedup_fingerprint and
    dedup_keep_one."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies")
    )


@register(
    "dedup_fingerprint",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id,
             {sql_md5_long(_SQL_NORM)}
               AS fingerprint
      FROM documents
    )
    SELECT fingerprint, CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
           COUNT(*) AS n_copies
    FROM fp GROUP BY fingerprint
    """,
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-fingerprint dedup: groups on an 8-byte key instead of
    the document. Not widened (see dedup_exact)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", md5_long(norm_text_col()).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies"))
    )


# --- n-gram Jaccard (exact, shingle-join formulation) -----------------------


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)
             AS jaccard
    FROM pairs
    JOIN sz sa ON doc_a = sa.doc_id
    JOIN sz sb ON doc_b = sb.doc_id
    ORDER BY jaccard DESC, doc_a, doc_b
    LIMIT 20
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-similar document pairs by exact 3-gram Jaccard:
    explode shingles, equi-join on shingle, count common, attach sizes. The
    ground truth for the prefix-filtered and LSH variants.
    """
    # kept: both self-join sides and sz read darr; uncut the shingling
    # runs three times. The explode and size(arr) are row-local.
    darr = doc_shingle_arrays(spark, sf_dir).transform(stage_cut)
    sh = darr.select("doc_id", F.explode("arr").alias("shingle"))
    sz = darr.select("doc_id", F.size("arr").cast("long").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    # RAW double, no round — see dedup_jaccard_prefix; the unrounded
    # ratio also makes the top-20 cut engine-identical by
    # construction (same IEEE division on both sides).
    return (
        _attach_sizes(pairs, sz)
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "doc_a", "doc_b")
        .limit(20)
    )


# --- MinHash + LSH -----------------------------------------------------------

_MINHASH_K = 12  # signature length
_MINHASH_R = 2  # rows per band → 6 bands of r=2
_MINHASH_B = _MINHASH_K // _MINHASH_R
# Default hot-bucket cap for both LSH families (minhash + simhash): a band
# bucket of n docs expands to n²/2 candidate pairs. Buckets above the cap
# are dropped before pair expansion; their members are
# exact-duplicate-heavy and caught by dedup_fingerprint. The cap rule is
# plain SQL (HAVING COUNT(*) <= cap on the band CTE), so the DuckDB oracles
# replay it exactly.
_LSH_BUCKET_CAP = 1000


def _cap_hot_buckets(bands: DataFrame, cap: int) -> DataFrame:
    """Drop (band, bkey) buckets larger than ``cap`` before pair expansion:
    the one implementation of the hot-bucket cap both LSH families share
    (their oracles replay the identical HAVING form).

    A window count, not a groupBy + semi-join: the join form re-evaluates
    the signature subtree for the counting branch, while the window rides
    the (band, bkey) shuffle the pair join needs anyway."""
    w = Window.partitionBy("band", "bkey")
    return (
        bands.withColumn("bucket_n", F.count("*").over(w))
        .filter(F.col("bucket_n") <= cap)
        .drop("bucket_n")
    )


def _attach_sizes(pairs: DataFrame, sz: DataFrame) -> DataFrame:
    """Join per-doc shingle counts onto (doc_a, doc_b, ...) pairs as
    ``n_a``/``n_b`` — the size-attach step every exact-similarity
    verifier ends with."""
    sa = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return pairs.join(sa, "doc_a").join(sb, "doc_b")


def _verified_common(cand: DataFrame, darr: DataFrame) -> DataFrame:
    """Exact verification stage shared by ``dedup_jaccard_prefix``
    and ``dedup_containment`` (the oracles' common CTE shape).
    Returns (doc_a, doc_b, n_common, n_a, n_b).

    Each side's distinct shingle array attaches with an equi-join and the
    intersection counts row-locally: ``size(array_intersect(a, b))`` over
    distinct-element arrays is |A∩B|, and the sizes are ``size(arr)``."""
    aa = darr.select(F.col("doc_id").alias("doc_a"), F.col("arr").alias("arr_a"))
    bb = darr.select(F.col("doc_id").alias("doc_b"), F.col("arr").alias("arr_b"))
    return (
        cand.join(aa, "doc_a")
        .join(bb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("arr_a", "arr_b"))
            .cast("long")
            .alias("n_common"),
            F.size("arr_a").cast("long").alias("n_a"),
            F.size("arr_b").cast("long").alias("n_b"),
        )
    )


def minhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, m0..m{K-1}): the K-position min-wise signature row.

    One-pass formulation: each (doc, shingle) row projects all K seeded
    hashes as columns and a single groupBy(doc_id) takes the K mins (partial
    aggregation combines map-side). Shingles are taken non-distinct: MIN
    absorbs duplicates.

    The row-local ``array_min(transform(arr, s -> md5(i:s)))`` form, which
    drops this shuffle, is slower: the lambda runs interpreted per element,
    outside whole-stage codegen, where the exploded projection keeps md5 in
    codegen (docs/SCALING.md, dedup).
    """
    sh = shingles_df(spark, sf_dir, distinct=False)
    projected = sh.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle"))).alias(f"m{i}")
            for i in range(_MINHASH_K)
        ],
    )
    return projected.groupBy("doc_id").agg(
        *[F.min(f"m{i}").alias(f"m{i}") for i in range(_MINHASH_K)]
    )


def minhash_band_keys(wide: DataFrame) -> DataFrame:
    """(doc_id, band, bkey): r-row banding of the signature.

    Band j's key concatenates signature positions ``m[r·j] .. m[r·j+r-1]``:
    a pair collides on band j iff all r positions agree, so P(candidate) =
    1 − (1 − J^r)^b.
    """
    band_cols = [
        F.concat_ws(
            ":",
            *[f"m{j * _MINHASH_R + i}" for i in range(_MINHASH_R)],
        ).alias(f"b{j}")
        for j in range(_MINHASH_B)
    ]
    banded = wide.select("doc_id", *band_cols)
    stack_args = ", ".join(f"{j}, b{j}" for j in range(_MINHASH_B))
    return banded.selectExpr(
        "doc_id", f"stack({_MINHASH_B}, {stack_args}) AS (band, bkey)"
    )


def minhash_candidate_pairs(
    wide: DataFrame, max_bucket_size: int = _LSH_BUCKET_CAP
) -> DataFrame:
    """Distinct candidate (doc_a < doc_b) pairs from band collisions.

    ``max_bucket_size`` (default ``_LSH_BUCKET_CAP``) drops band buckets
    larger than the cap before pair expansion (see ``_LSH_BUCKET_CAP``); the
    DuckDB oracle replays the identical HAVING rule.
    """
    bands = _cap_hot_buckets(minhash_band_keys(wide), max_bucket_size)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _sql_minhash_sig() -> str:
    return f"""
    (SELECT doc_id, seed,
            MIN(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS h
     FROM ({_SQL_SHINGLES}) sh
     CROSS JOIN (SELECT unnest(range({_MINHASH_K})) AS seed) seeds
     GROUP BY doc_id, seed)
    """


def _sql_minhash_bands() -> str:
    """DuckDB twin of ``minhash_band_keys``: r-row band keys."""
    return f"""
    (SELECT doc_id, seed // {_MINHASH_R} AS band,
            string_agg(h, ':' ORDER BY seed) AS bkey
     FROM ({_sql_minhash_sig()}) sig
     GROUP BY doc_id, seed // {_MINHASH_R})
    """


# Mirrors minhash_candidate_pairs incl. the hot-bucket HAVING cap.
_SQL_MINHASH_CAND = f"""
    (WITH mb AS ({_sql_minhash_bands()}),
     ok AS (SELECT band, bkey FROM mb GROUP BY band, bkey
            HAVING COUNT(*) <= {_LSH_BUCKET_CAP})
     SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
     FROM mb a
     JOIN ok ON a.band = ok.band AND a.bkey = ok.bkey
     JOIN mb b
       ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
"""


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    SELECT doc_a, doc_b FROM {_SQL_MINHASH_CAND} cand
    """,
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (shingle → K minhashes → banded bucket
    join).

    The min-wise hash family is ``min(md5(seed:shingle))`` per seed
    (lexicographic min over hex digests: a valid permutation approximation,
    engine-portable). Banding is b=6 bands of r=2 rows: a pair is a
    candidate iff both positions of some band agree, P(candidate) =
    1-(1-J²)^6, ≈99.8% at J=0.8, while unrelated pairs (J≈0.1) become
    candidates 0.059 of the time against 0.718 under r=1 banding.
    Candidate generation is a self-equi-join on (band, bkey) with the
    ``_LSH_BUCKET_CAP`` hot-bucket cap, mirrored in the oracle's HAVING.
    """
    return minhash_candidate_pairs(minhash_wide(spark, sf_dir))


@register(
    "dedup_keep_one",
    oracle=f"""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (
               PARTITION BY {sql_md5_long(_SQL_NORM)}
               ORDER BY doc_id
             ) AS rn
      FROM documents
    ) t WHERE rn = 1
    """,
)
def dedup_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep one row per duplicate group: row_number over the normalized
    fingerprint, keep the smallest doc_id; the projection-preserving form of
    dedup (dedup_exact is the aggregate form). Not widened (see
    dedup_exact)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(md5_long(norm_text_col())).orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source")
    )


@register(
    "dedup_minhash_estimate",
    oracle=f"""
    WITH sig AS ({_sql_minhash_sig()}),
    cand AS (SELECT doc_a, doc_b FROM {_SQL_MINHASH_CAND} c),
    agree AS (
      SELECT c.doc_a, c.doc_b,
             COUNT(*) FILTER (WHERE sa.h = sb.h) AS n_agree
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b AND sb.seed = sa.seed
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b,
           round(CAST(n_agree AS DOUBLE) / {_MINHASH_K}, 6) AS est_jaccard
    FROM agree
    """,
)
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard estimation from signature agreement: for every LSH
    candidate pair, est_J = (#agreeing minhash positions)/K, computed from
    the signatures without touching the documents again."""
    # kept: candidates and agreement both read wide; uncut the
    # signatures are computed twice
    wide = minhash_wide(spark, sf_dir).transform(stage_cut)
    cand = minhash_candidate_pairs(wide)
    agree_expr = sum(
        (F.col(f"a.m{i}") == F.col(f"b.m{i}")).cast("int")
        for i in range(_MINHASH_K)
    )
    return (
        cand.join(wide.alias("a"), cand.doc_a == F.col("a.doc_id"))
        .join(wide.alias("b"), cand.doc_b == F.col("b.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                agree_expr.cast("double") / _MINHASH_K, 6
            ).alias("est_jaccard"),
        )
    )


# --- SimHash -----------------------------------------------------------------

# 64-bit fingerprint carried as two unsigned 32-bit halves (lo/hi) so
# every intermediate fits a signed BIGINT identically in Spark and
# DuckDB; the canonical signed-64 value is assembled only at the end.
_SQL_SIMHASH_HALVES = f"""
    (WITH tok AS (
      SELECT DISTINCT doc_id, unnest({SQL_TOKS}) AS token FROM documents
    ), th AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) AS h_lo,
             CAST(('0x' || substr(md5(token), 9, 8)) AS BIGINT) AS h_hi
      FROM tok
    ), bits AS (
      SELECT doc_id, b,
             SUM(CASE WHEN (CASE WHEN b < 32 THEN (h_lo >> b)
                                 ELSE (h_hi >> (b - 32)) END) & 1 = 1
                 THEN 1 ELSE -1 END) AS s
      FROM th CROSS JOIN (SELECT unnest(range(64)) AS b) bb
      GROUP BY doc_id, b
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 AND b < 32
                         THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                AS BIGINT) AS lo,
           CAST(SUM(CASE WHEN s > 0 AND b >= 32
                         THEN (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END)
                AS BIGINT) AS hi
    FROM bits GROUP BY doc_id)
"""

# signed 64-bit value from the two halves (two's complement, no
# overflow in BIGINT: |hi_signed * 2^32| + lo <= 2^63 - 1)
_SQL_SIMHASH64 = (
    "(hi - CASE WHEN hi >= 2147483648 THEN 4294967296 ELSE 0 END)"
    " * 4294967296 + lo"
)


def simhash_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lo, hi): 64-bit SimHash as two unsigned 32-bit halves.

    Bit b of the fingerprint is the sign of Σ_tokens (±1 from bit b
    of the token's 64-bit md5-prefix hash). The halves keep all
    arithmetic inside signed-BIGINT range on both engines.
    """
    docs = load_table(spark, sf_dir, "documents", widen=True)
    toks = word_tokens_col()
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(toks)).alias("token")
    )
    th = tok.select(
        "doc_id",
        F.conv(F.substring(F.md5("token"), 1, 8), 16, 10)
        .cast("bigint")
        .alias("h_lo"),
        F.conv(F.substring(F.md5("token"), 9, 8), 16, 10)
        .cast("bigint")
        .alias("h_hi"),
    )
    bits_idx = spark.range(64).select(F.col("id").cast("int").alias("b"))
    bits = (
        th.crossJoin(F.broadcast(bits_idx))
        .select(
            "doc_id",
            "b",
            F.expr(
                "CASE WHEN (CASE WHEN b < 32 THEN shiftright(h_lo, b) "
                "ELSE shiftright(h_hi, b - 32) END) & CAST(1 AS BIGINT) = 1 "
                "THEN 1 ELSE -1 END"
            ).alias("contrib"),
        )
        .groupBy("doc_id", "b")
        .agg(F.sum("contrib").alias("s"))
    )
    return bits.groupBy("doc_id").agg(
        F.sum(
            F.expr(
                "CASE WHEN s > 0 AND b < 32 "
                "THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END"
            )
        )
        .cast("bigint")
        .alias("lo"),
        F.sum(
            F.expr(
                "CASE WHEN s > 0 AND b >= 32 "
                "THEN shiftleft(CAST(1 AS BIGINT), b - 32) "
                "ELSE CAST(0 AS BIGINT) END"
            )
        )
        .cast("bigint")
        .alias("hi"),
    )


@register(
    "dedup_simhash",
    oracle=f"""
    SELECT doc_id, CAST({_SQL_SIMHASH64} AS BIGINT) AS simhash
    FROM {_SQL_SIMHASH_HALVES} halves
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprint per document (distinct-token basis).

    With 4 bands the band key is 16 bits (65,536 values); near-dup pairing
    bands the fingerprint (pigeonhole: hamming ≤ 3 ⇒ one of 4 bands equal).
    See ``dedup_simhash_pairs``.
    """
    return simhash_halves(spark, sf_dir).select(
        "doc_id", F.expr(_SQL_SIMHASH64).cast("bigint").alias("simhash")
    )


# SimHash near-dup cutoff, interpolated into the oracle like every other
# twin-shared threshold. 4 bands guarantee recall for hamming <= 3
# (pigeonhole); <= 6 keeps high-but-not-total recall.
_SIMHASH_MAX_HAMMING = 6


def simhash_pairs(
    halves: DataFrame, max_bucket_size: int = _LSH_BUCKET_CAP
) -> DataFrame:
    """Near-dup pairs from (doc_id, lo, hi) fingerprint halves:
    4 bands × 16-bit keys, equi-join per band, verify hamming.

    ``max_bucket_size`` (default ``_LSH_BUCKET_CAP``) caps hot band
    buckets before pair expansion (see ``_LSH_BUCKET_CAP``)."""
    bands_idx = (
        halves.sparkSession.range(4)
        .select(F.col("id").cast("int").alias("band"))
    )
    bands = halves.crossJoin(F.broadcast(bands_idx)).select(
        "doc_id",
        "lo",
        "hi",
        "band",
        F.expr(
            "CASE WHEN band < 2 THEN shiftright(lo, band * 16) "
            "ELSE shiftright(hi, (band - 2) * 16) END "
            "& CAST(65535 AS BIGINT)"
        ).alias("bkey"),
    )
    bands = _cap_hot_buckets(bands, max_bucket_size)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.lo").alias("la"),
            F.col("a.hi").alias("ha"),
            F.col("b.lo").alias("lb"),
            F.col("b.hi").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("la").bitwiseXOR(F.col("lb"))) + F.bit_count(
        F.col("ha").bitwiseXOR(F.col("hb"))
    )
    return cand.select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= _SIMHASH_MAX_HAMMING)


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH fp AS (SELECT doc_id, lo, hi FROM {_SQL_SIMHASH_HALVES} h),
    bands AS (
      SELECT doc_id, lo, hi, band,
             (CASE WHEN band < 2 THEN (lo >> (band * 16))
                   ELSE (hi >> ((band - 2) * 16)) END) & 65535 AS bkey
      FROM fp CROSS JOIN (SELECT unnest(range(4)) AS band) bb
    ), ok AS (
      SELECT band, bkey FROM bands GROUP BY band, bkey
      HAVING COUNT(*) <= {_LSH_BUCKET_CAP}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.lo AS la, a.hi AS ha, b.lo AS lb, b.hi AS hb
      FROM bands a
      JOIN ok ON a.band = ok.band AND a.bkey = ok.bkey
      JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(la, lb)) + bit_count(xor(ha, hb))
                AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(la, lb)) + bit_count(xor(ha, hb))
          <= {_SIMHASH_MAX_HAMMING}
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit fingerprint into 4 16-bit
    keys, equi-join on (band, key), verify hamming ≤ 6.

    4 bands guarantee recall for hamming ≤ 3 (pigeonhole); ≤ 6 keeps
    high-but-not-total recall. The oracle applies the identical candidate
    rule, including the ``_LSH_BUCKET_CAP`` HAVING cap.
    """
    return simhash_pairs(simhash_halves(spark, sf_dir))


# --- prefix-filtered exact Jaccard (PPJoin-style) ---------------------------

_PJ_THRESHOLD = 0.5


def ranked_prefix(
    darr: DataFrame, freq_cap: int | None = None
) -> DataFrame:
    """Frequency-ordered prefix shingles (r ≤ n//2 + 1, ties on the
    shingle itself) with the per-doc size attached — the candidate
    generator shared by dedup_jaccard_prefix and dedup_containment
    (the two MUST rank identically or their oracles desynchronize).
    ``freq_cap`` additionally drops prefix shingles with global
    frequency above the cap (containment's k²-hazard guard).

    Takes the per-doc distinct shingle arrays (:func:`doc_shingle_arrays`),
    so per-doc size is ``size(arr)``. The distinct-array input is
    load-bearing: duplicates would inflate freq and sizes and occupy
    multiple prefix ranks, breaking the PPJoin recall guarantee against the
    DISTINCT-based oracles."""
    sh = darr.select(
        "doc_id", F.size("arr").alias("n"), F.explode("arr").alias("shingle")
    )
    freq = sh.groupBy("shingle").agg(F.count("*").alias("f"))
    w = Window.partitionBy("doc_id").orderBy("f", "shingle")
    ranked = sh.join(freq, "shingle").withColumn("r", F.row_number().over(w))
    cond = F.col("r") <= F.expr("n div 2") + 1
    if freq_cap is not None:
        cond = cond & (F.col("f") <= freq_cap)
    # r is kept: dedup_jaccard_prefix's positional filter needs each
    # prefix shingle's rank; dedup_containment ignores it
    return ranked.filter(cond).select("doc_id", "shingle", "n", "r")


@register(
    "dedup_jaccard_prefix",
    bench=True,
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    freq AS (SELECT shingle, COUNT(*) AS f FROM sh GROUP BY shingle),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    ranked AS (
      SELECT s.doc_id, s.shingle,
             ROW_NUMBER() OVER (PARTITION BY s.doc_id
                                ORDER BY f, s.shingle) AS r
      FROM sh s JOIN freq USING (shingle)
    ),
    prefix AS (
      SELECT r.doc_id, r.shingle
      FROM ranked r JOIN sz USING (doc_id)
      WHERE r.r <= sz.n // 2 + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM prefix a JOIN prefix b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE)
                 / (sa.n + sb.n - n_common) AS jaccard
    FROM common
    JOIN sz sa ON doc_a = sa.doc_id
    JOIN sz sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)
          >= {_PJ_THRESHOLD}
    """,
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ 0.5 pairs with PPJoin-style prefix filtering.

    ``dedup_ngram_jaccard`` joins on every shared shingle, so a stop
    shingle shared by k documents alone contributes k²/2 join rows. Prefix
    filtering orders each document's shingles by ascending global frequency
    (tie-break: the shingle itself, a total order both engines agree on)
    and generates candidates only from each document's first ⌊n/2⌋+1
    shingles: any pair with J ≥ t must share a prefix element (prefix
    length n − ⌈t·n⌉ + 1, here integer-exact as n//2 + 1), so recall is
    100% while frequent shingles drop out of candidate generation.
    Verification counts common shingles only for candidate pairs; tests pin
    prefix-vs-full equality on the real corpus.
    """
    # kept: ranking and both verification sides read darr
    darr = doc_shingle_arrays(spark, sf_dir).transform(stage_cut)
    prefix = ranked_prefix(darr)
    a = prefix.alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # PPJoin length filter, lossless at t=0.5: J >= t forces
            # min(n_a,n_b) >= t*max(n_a,n_b), so size-incompatible
            # pairs can never verify; drop them before the distinct
            # and the verification join.
            & (F.col("b.n") * 2 >= F.col("a.n"))
            & (F.col("a.n") * 2 >= F.col("b.n"))
            # PPJoin positional filter, lossless at t=0.5: a colliding
            # prefix shingle at ranks (r_a, r_b) bounds the overlap by
            # 1 + min(n_a - r_a, n_b - r_b), and J >= t needs overlap >=
            # ceil((n_a+n_b)/3); both sides rank in the same global
            # (f, shingle) order, so a true pair's first common prefix
            # shingle has the minimal ranks on both sides and always
            # passes. The integer form below is exact (no division).
            & (
                F.col("a.n") + F.col("b.n")
                <= 3
                + 3
                * F.least(
                    F.col("a.n") - F.col("a.r"),
                    F.col("b.n") - F.col("b.r"),
                )
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    j = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    # Raw double, no round: the ratio of identically-computed
    # integers is bit-identical on both engines, while round(x, 6)
    # breaks on non-dyadic 7-decimal midpoints (e.g. 321/640:
    # Spark HALF_UP on the shortest repr vs DuckDB on the binary
    # value).
    return (
        _verified_common(cand, darr)
        .filter(j >= _PJ_THRESHOLD)
        .select("doc_a", "doc_b", j.alias("jaccard"))
    )


# --- asymmetric containment (doc-inside-doc detection) ----------------------

_CT_THRESHOLD = 0.8
_CT_FREQ_CAP = 1000  # prefix shingles with global freq above this are skipped


@register(
    "dedup_containment",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    freq AS (SELECT shingle, COUNT(*) AS f FROM sh GROUP BY shingle),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    ranked AS (
      SELECT s.doc_id, s.shingle, f,
             ROW_NUMBER() OVER (PARTITION BY s.doc_id
                                ORDER BY f, s.shingle) AS r
      FROM sh s JOIN freq USING (shingle)),
    prefix AS (
      SELECT r.doc_id, r.shingle
      FROM ranked r JOIN sz USING (doc_id)
      WHERE r.r <= sz.n // 2 + 1 AND r.f <= {_CT_FREQ_CAP}),
    cand AS (
      SELECT DISTINCT least(p.doc_id, s.doc_id) AS doc_a,
             greatest(p.doc_id, s.doc_id) AS doc_b
      FROM prefix p JOIN sh s ON p.shingle = s.shingle
      WHERE p.doc_id <> s.doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b)
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE) / sa.n AS c_a_in_b,
           CAST(n_common AS DOUBLE) / sb.n AS c_b_in_a
    FROM common
    JOIN sz sa ON doc_a = sa.doc_id
    JOIN sz sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / sa.n >= {_CT_THRESHOLD}
       OR CAST(n_common AS DOUBLE) / sb.n >= {_CT_THRESHOLD}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: shingle containment C(A,B) = |A∩B|/|A| ≥ 0.8
    in either direction, which catches a short document embedded in a long
    one (a 10-shingle doc inside a 1000-shingle doc has J ≈ 0.01).

    Containment ≥ t guarantees any (1−t)·|A|+1-element prefix of A (in any
    global order) intersects B's full shingle set; the Jaccard prefix
    (n//2+1 ≥ 0.2n+1 at t=0.8) over-covers, so recall is complete except
    where the frequency cap bites: prefix shingles with global frequency >
    ``_CT_FREQ_CAP`` are skipped, in the oracle too. The probe joins doc
    prefixes against the full shingle table, then exact intersection counts
    verify only the candidates.
    """
    # kept: the prefixes, the probe side and verification read darr
    darr = doc_shingle_arrays(spark, sf_dir).transform(stage_cut)
    prefix = ranked_prefix(darr, freq_cap=_CT_FREQ_CAP)
    p = prefix.alias("p")
    # full shingle probe side: row-local explode of the cut arrays
    s = darr.select("doc_id", F.explode("arr").alias("shingle")).alias("s")
    # one probe pass: least/greatest normalizes the unordered pair
    cand = (
        p.join(s, F.col("p.shingle") == F.col("s.shingle"))
        .filter(F.col("p.doc_id") != F.col("s.doc_id"))
        .select(
            F.least(F.col("p.doc_id"), F.col("s.doc_id")).alias("doc_a"),
            F.greatest(F.col("p.doc_id"), F.col("s.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    ca = F.col("n_common").cast("double") / F.col("n_a")
    cb = F.col("n_common").cast("double") / F.col("n_b")
    # RAW doubles, no round — see dedup_jaccard_prefix
    return (
        _verified_common(cand, darr)
        .filter((ca >= _CT_THRESHOLD) | (cb >= _CT_THRESHOLD))
        .select(
            "doc_a",
            "doc_b",
            ca.alias("c_a_in_b"),
            cb.alias("c_b_in_a"),
        )
    )
