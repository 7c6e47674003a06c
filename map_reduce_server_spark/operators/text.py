"""Text-analysis operators over the ``documents`` table.

Generalizes the reference's two text workloads, wordcount
(``tests/testdata/exec/wc_map.sh:12`` + ``wc_reduce.sh:14``) and grep
(``tests/testdata/exec/grep_map.py:20-28``), into DataFrame plans, and adds
token statistics, quality scoring, language ID and fingerprinting. No Python
UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from map_reduce_server_spark.functions.exact import davg, sql_davg
from map_reduce_server_spark.functions.hashing import (
    md5_long,
    split_hash,
    sql_md5_long,
    sql_split_hash,
)
from map_reduce_server_spark.functions.tokens import (
    SQL_TOKS,
    distinct_ratio_col,
    sql_distinct_ratio,
    word_tokens_col,
)
from map_reduce_server_spark.operators.dedup import (
    _SQL_SHINGLES as _DEDUP_SQL_SHINGLES,
)
from map_reduce_server_spark.registry import register
from map_reduce_server_spark.stagecut import stage_cut
from map_reduce_server_spark.tables import load_table

_STOPWORDS = ("the", "a", "and", "of", "to")

# wordcount's tokenization contract: lowercase, split on single
# spaces, keep empty tokens (the reference's empty-string key is legal
# and aggregated — golden file `word_count_correct.txt` line 1 is the
# empty key; SURVEY.md §1.2). Every other query here uses the shared
# non-empty tokenizer (functions/tokens.py).
_SQL_TOKENS = "string_split(lower(text), ' ')"


@register(
    "wordcount",
    oracle=f"""
    SELECT word, COUNT(*) AS n
    FROM (SELECT unnest({_SQL_TOKENS}) AS word FROM documents) t
    GROUP BY word
    """,
    bench=True,
)
def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's canonical workload: tokenize → group → count
    (``wc_map.sh`` + ``wc_reduce.sh``). Empty tokens are kept.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = F.explode(F.split(F.lower(F.col("text")), " "))
    return (
        docs.select(words.alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


@register(
    "grep",
    oracle="""
    SELECT doc_id, text FROM documents
    WHERE contains(lower(text), 'join')
    """,
)
def grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring filter — the reference's grep query
    (``grep_map.py:27-28``: keep lines where query ∈ lower(line))."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.lower(F.col("text")).contains("join")).select(
        "doc_id", "text"
    )


@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len({SQL_TOKS}) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct({SQL_TOKS})) AS INTEGER) AS n_distinct,
           CAST(length(text) AS INTEGER) AS text_len,
           round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / greatest(len({SQL_TOKS}), 1), 6) AS avg_token_len
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer) + basic length stats."""
    docs = load_table(spark, sf_dir, "documents")
    toks = word_tokens_col()
    n_toks = F.size(toks)
    return docs.select(
        "doc_id",
        n_toks.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.length("text").alias("text_len"),
        F.round(
            F.length(F.regexp_replace("text", " ", "")).cast("double")
            / F.greatest(n_toks, F.lit(1)),
            6,
        ).alias("avg_token_len"),
    )


_SQL_STOPLIST = ", ".join(f"'{w}'" for w in _STOPWORDS)


@register(
    "text_quality",
    bench=True,
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {SQL_TOKS} AS toks, text FROM documents
    )
    SELECT doc_id,
           round(CAST(len(list_filter(toks, x -> x IN ({_SQL_STOPLIST})))
                      AS DOUBLE) / greatest(len(toks), 1), 6) AS stopword_ratio,
           {sql_distinct_ratio('toks')} AS distinct_ratio,
           round(CAST(length(regexp_replace(lower(text), '[a-z ]', '', 'g'))
                      AS DOUBLE) / greatest(length(text), 1), 6) AS nonalpha_ratio,
           CASE WHEN len(toks) BETWEEN 5 AND 10000
                 AND len(list_distinct(toks)) >= 3
                THEN 1 ELSE 0 END AS passes_quality
    FROM t
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality scoring: stopword / distinct / non-alpha
    ratios and a pass/fail gate."""
    docs = load_table(spark, sf_dir, "documents")
    toks = word_tokens_col()
    n = F.greatest(F.size(toks), F.lit(1))
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    n_dist = F.size(F.array_distinct(toks))
    return docs.select(
        "doc_id",
        F.round(n_stop.cast("double") / n, 6).alias("stopword_ratio"),
        distinct_ratio_col().alias("distinct_ratio"),
        F.round(
            # lower() first: uppercase letters are alphabetic, not
            # symbols
            F.length(
                F.regexp_replace(F.lower(F.col("text")), "[a-z ]", "")
            ).cast("double")
            / F.greatest(F.length("text"), F.lit(1)),
            6,
        ).alias("nonalpha_ratio"),
        F.when(
            F.size(toks).between(5, 10000) & (n_dist >= 3), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("passes_quality"),
    )


# Marker-word tables per language for the language-ID heuristic. The
# synthetic corpus is English vocabulary under every lang label, so the
# output is uniform; the query checks per-language scoring + argmax.
_LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "fr": ("le", "la", "et"),
    "es": ("el", "los", "y"),
    "de": ("der", "und", "die"),
}


def _sql_marker_count(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in _LANG_MARKERS[lang])
    return f"len(list_filter({SQL_TOKS}, x -> x IN ({lst})))"


@register(
    "text_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             {_sql_marker_count('en')} AS s_en,
             {_sql_marker_count('fr')} AS s_fr,
             {_sql_marker_count('es')} AS s_es,
             {_sql_marker_count('de')} AS s_de
      FROM documents
    )
    SELECT doc_id,
           CASE
             WHEN s_en = 0 AND s_fr = 0 AND s_es = 0 AND s_de = 0 THEN 'unknown'
             WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de THEN 'en'
             WHEN s_fr >= s_es AND s_fr >= s_de THEN 'fr'
             WHEN s_es >= s_de THEN 'es'
             ELSE 'de'
           END AS lang_guess
    FROM scored
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic with a deterministic argmax."""
    docs = load_table(spark, sf_dir, "documents")
    toks = word_tokens_col()

    def marker_count(lang: str) -> Column:
        arr = F.array(*[F.lit(w) for w in _LANG_MARKERS[lang]])
        return F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))

    scored = docs.select(
        "doc_id",
        marker_count("en").alias("s_en"),
        marker_count("fr").alias("s_fr"),
        marker_count("es").alias("s_es"),
        marker_count("de").alias("s_de"),
    )
    return scored.select(
        "doc_id",
        F.when(
            (F.col("s_en") == 0)
            & (F.col("s_fr") == 0)
            & (F.col("s_es") == 0)
            & (F.col("s_de") == 0),
            F.lit("unknown"),
        )
        .when(
            (F.col("s_en") >= F.col("s_fr"))
            & (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_de")),
            F.lit("en"),
        )
        .when(
            (F.col("s_fr") >= F.col("s_es")) & (F.col("s_fr") >= F.col("s_de")),
            F.lit("fr"),
        )
        .when(F.col("s_es") >= F.col("s_de"), F.lit("es"))
        .otherwise(F.lit("de"))
        .alias("lang_guess"),
    )


# One definition of the TF-IDF oracle pipeline (tok/tf/doclen/df/n CTEs and
# the scoring expression), shared by text_tfidf and text_keywords, whose
# Spark side calls text_tfidf().
_SQL_TFIDF_CTES = f"""
    WITH tok AS (
      SELECT doc_id, unnest({SQL_TOKS}) AS token FROM documents
    ),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS n_in_doc FROM tok
      GROUP BY doc_id, token
    ),
    doclen AS (
      SELECT doc_id, CAST(SUM(n_in_doc) AS BIGINT) AS doc_len FROM tf
      GROUP BY doc_id
    ),
    df AS (
      SELECT token, COUNT(*) AS n_docs_with FROM tf GROUP BY token
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
"""
_SQL_TFIDF_SCORE = """round((CAST(tf.n_in_doc AS DOUBLE) / doc_len)
                 * ln(CAST(n_docs AS DOUBLE) / n_docs_with), 6)"""


@register(
    "text_tfidf",
    oracle=f"""
    {_SQL_TFIDF_CTES}
    SELECT tf.doc_id, tf.token,
           {_SQL_TFIDF_SCORE} AS tfidf
    FROM tf
    JOIN doclen USING (doc_id)
    JOIN df USING (token)
    CROSS JOIN n
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based TF-IDF per (document, token): tf = count/doc_len,
    idf = ln(N/df). Written out rather than ml.feature's HashingTF, whose
    murmur-hash buckets are not comparable with another engine.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(word_tokens_col()).alias("token"),
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("n_in_doc"))
    doclen = tf.groupBy("doc_id").agg(F.sum("n_in_doc").alias("doc_len"))
    # The corpus size folds into the df side as a 1-row aggregate.
    n = docs.agg(F.count("*").alias("n_docs"))
    df = (
        tf.groupBy("token")
        .agg(F.count("*").alias("n_docs_with"))
        .crossJoin(F.broadcast(n))
    )
    return (
        tf.join(doclen, "doc_id")
        # no broadcast hint: the vocabulary is unbounded (Heaps' law)
        .join(df, "token")
        .select(
            "doc_id",
            "token",
            F.round(
                (F.col("n_in_doc").cast("double") / F.col("doc_len"))
                * F.log(
                    F.col("n_docs").cast("double") / F.col("n_docs_with")
                ),
                6,
            ).alias("tfidf"),
        )
    )


# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation
# marks — the RE2/Java-regex-portable core of a GPT-style pattern
# (no lookarounds, so Spark and the oracle agree byte for byte).
_BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@register(
    "text_bpe_tokens",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '{_BPE_PATTERN}'))
                AS INTEGER) AS n_bpe_tokens,
           CAST(len(list_distinct(regexp_extract_all(lower(text),
                '{_BPE_PATTERN}'))) AS INTEGER) AS n_distinct_bpe
    FROM documents
    """,
)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex (BPE-style) token counts per document."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_BPE_PATTERN), 0)
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_bpe"),
    )


@register(
    "text_train_test_split",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN {sql_split_hash("doc_id")} % 100 < 80
                THEN 'train' ELSE 'test' END AS split
    FROM documents
    """,
)
def text_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/20 train-test split by hashing the document id:
    the same on every run, engine and partitioning (unlike randomSplit),
    and a document never changes split as the corpus grows.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = split_hash(F.col("doc_id")) % 100
    return docs.select(
        "doc_id",
        F.when(bucket < 80, F.lit("train")).otherwise(F.lit("test")).alias(
            "split"
        ),
    )


# PII patterns, written in the RE2 ∩ Java-regex dialect (no
# lookarounds, no backrefs) so Spark and DuckDB match byte-for-byte.
_RE_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_RE_IPV4 = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

# The synthetic corpus contains no PII, so the query first appends
# deterministic synthetic contact strings (same expression in both engines).
_SQL_PII_AUG = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
    "'@example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'"
)


@register(
    "text_unigram_logprob",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({SQL_TOKS}) AS token FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token),
    tot AS (SELECT COUNT(*) AS total FROM tok),
    s AS (
      SELECT doc_id, round(-ln(CAST(n AS DOUBLE) / total), 9) AS surp
      FROM tok JOIN freq USING (token) CROSS JOIN tot
    )
    SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_tokens,
           {sql_davg('surp', scale=12)} AS avg_surprisal
    FROM s GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram-LM quality score: each document's mean token
    surprisal −ln p(token) under the corpus unigram distribution
    (outlier-high ⇒ gibberish, outlier-low ⇒ boilerplate).

    Per-token surprisal is rounded to 9 digits (libm ln differs by 1 ulp
    across engines) and averaged via exact decimal sums (functions/exact.py),
    so the score is bit-identical on any partitioning.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(word_tokens_col()).alias("token"),
    )
    freq = tok.groupBy("token").agg(F.count("*").alias("n"))
    # Total token count = sum over the vocabulary table, folded in as a
    # broadcast 1-row aggregate.
    total = freq.agg(F.sum("n").alias("total"))
    freqt = freq.crossJoin(F.broadcast(total))
    # unbounded vocabulary side — no hard hint (AQE decides)
    surp = tok.join(freqt, "token").select(
        "doc_id",
        F.round(
            -F.log(F.col("n").cast("double") / F.col("total").cast("double")),
            9,
        ).alias("surp"),
    )
    return surp.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_tokens"),
        davg("surp", scale=12).alias("avg_surprisal"),
    )


@register(
    "text_pii_scrub",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_SQL_PII_AUG} AS t FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_RE_EMAIL}')) AS INTEGER)
             AS n_emails,
           CAST(len(regexp_extract_all(t, '{_RE_IPV4}')) AS INTEGER)
             AS n_ipv4,
           regexp_replace(regexp_replace(t, '{_RE_EMAIL}', '<EMAIL>', 'g'),
                          '{_RE_IPV4}', '<IP>', 'g') AS scrubbed
    FROM aug
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (emails, IPv4) with regexp built-ins."""
    docs = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(aug, _RE_EMAIL, "<EMAIL>"), _RE_IPV4, "<IP>"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(aug, F.lit(_RE_EMAIL), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(aug, F.lit(_RE_IPV4), 0)).alias("n_ipv4"),
        scrubbed.alias("scrubbed"),
    )


def _sql_ngrams(n: int) -> str:
    parts = " || ' ' || ".join(
        f"{SQL_TOKS}[i + {j}]" if j else f"{SQL_TOKS}[i]"
        for j in range(n)
    )
    return (
        f"list_transform(range(1, greatest(len({SQL_TOKS}) "
        f"- {n - 2}, 1)), i -> {parts})"
    )


@register(
    "text_repetition",
    oracle=f"""
    WITH g AS (SELECT doc_id, {_sql_ngrams(3)} AS grams FROM documents)
    SELECT doc_id,
           CAST(len(grams) AS INTEGER) AS n_grams,
           CAST(len(list_distinct(grams)) AS INTEGER) AS n_distinct_grams,
           CASE WHEN len(grams) > 0
                THEN round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                           / len(grams), 6) END AS dup_fraction,
           CASE WHEN len(grams) > 0
                 AND 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                     / len(grams) > 0.1
                THEN 1 ELSE 0 END AS is_repetitive
    FROM g
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition scoring: the duplicate 3-gram fraction (Gopher-style).

    Tokens, the gram array and the two integer sizes are each projected once
    in their own step: higher-order functions run interpreted with no
    common-subexpression elimination, so one select would re-run the
    tokenizer inside every element_at of the gram lambda and the gram array
    once per consuming expression. CollapseProject keeps the boundaries
    because each intermediate is non-cheap and multiply referenced. The scan
    is widened so the narrow work parallelizes (tables.load_table)."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    toked = docs.select("doc_id", word_tokens_col().alias("ts"))
    cnt = F.size(F.col("ts"))
    gram_arr = F.when(
        cnt >= 3,
        F.transform(
            F.sequence(F.lit(1), cnt - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("ts"), i),
                F.element_at(F.col("ts"), i + 1),
                F.element_at(F.col("ts"), i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    with_g = toked.select("doc_id", gram_arr.alias("g"))
    sized = with_g.select(
        "doc_id",
        F.size("g").alias("n_grams"),
        F.size(F.array_distinct("g")).alias("n_distinct_grams"),
    )
    n = F.col("n_grams")
    n_dist = F.col("n_distinct_grams")
    return sized.select(
        "doc_id",
        "n_grams",
        "n_distinct_grams",
        # NULL, not 1.0, when the doc has no 3-grams: a 2-token doc
        # carries no repetition evidence (same convention as
        # text_novelty's no-shingle NULL)
        F.when(
            n > 0,
            F.round(F.lit(1.0) - n_dist.cast("double") / n, 6),
        ).alias("dup_fraction"),
        F.when(
            (n > 0) & (F.lit(1.0) - n_dist.cast("double") / n > 0.1),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_repetitive"),
    )


@register(
    "text_decontaminate",
    oracle=f"""
    WITH g AS (
      SELECT DISTINCT doc_id, unnest({_sql_ngrams(4)}) AS gram
      FROM documents
    ),
    eval_g AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 = 0),
    train_g AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0),
    hits AS (
      SELECT t.doc_id, COUNT(DISTINCT e.doc_id) AS n_eval_matches
      FROM train_g t JOIN eval_g e ON t.gram = e.gram
      GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(h.n_eval_matches, 0) AS INTEGER) AS n_eval_matches,
           CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id % 97 <> 0
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    4-gram with the eval set (here: every 97th document; 4 is the largest n
    with nonzero overlap on the synthetic corpus).

    Train and eval equi-join on the gram, never on document pairs. Only the
    eval side dedups, with ``array_distinct`` before its explode (a (doc,
    gram) duplicate cannot span documents); n_eval_matches counts distinct
    eval docs, which train-side duplicates cannot change. The per-doc 4-gram
    arrays are cut once and feed both sides.
    """
    docs = load_table(spark, sf_dir, "documents", widen=True)
    toked = docs.select("doc_id", word_tokens_col().alias("ts"))
    cnt = F.size(F.col("ts"))
    gram_arr = F.when(
        cnt >= 4,
        F.transform(
            F.sequence(F.lit(1), cnt - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("ts"), i),
                F.element_at(F.col("ts"), i + 1),
                F.element_at(F.col("ts"), i + 2),
                F.element_at(F.col("ts"), i + 3),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # kept: the eval and train sides both read darr; uncut the 4-gram
    # arrays are built twice
    darr = toked.select("doc_id", gram_arr.alias("g")).transform(stage_cut)
    is_eval = F.col("doc_id") % 97 == 0
    eval_g = darr.filter(is_eval).select(
        F.col("doc_id").alias("eval_id"),
        F.explode(F.array_distinct("g")).alias("gram"),
    )
    train_g = darr.filter(~is_eval).select(
        "doc_id", F.explode("g").alias("gram")
    )
    hits = (
        train_g.join(eval_g, "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("eval_id").alias("n_eval_matches"))
    )
    return (
        docs.filter(~is_eval)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_eval_matches", F.lit(0))
            .cast("int")
            .alias("n_eval_matches"),
            F.when(F.col("n_eval_matches").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_contaminated"),
        )
    )


@register(
    "q_stratified_sample",
    oracle=f"""
    SELECT doc_id, source, lang FROM documents
    WHERE {sql_md5_long("'sample:' || CAST(doc_id AS VARCHAR)")} % 100
          < CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0
                 THEN 80 ELSE 20 END
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified domain sampling: per-source keep rates (80% for
    even-numbered sources, 20% for odd) applied via a deterministic
    document-id hash. Unlike ``df.sample``, assignment is the same on every
    engine, run and partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = md5_long(
        F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))
    ) % 100
    # checked cast (same doctrine as functions/exact.py): the oracle's
    # CAST errors loudly on a malformed source suffix, so the Spark
    # side must raise too instead of silently NULLing into the 20%
    # branch. substr-to-end exactly like the oracle's substr(source,
    # 4) — a bounded length would silently truncate a long numeric
    # suffix in one engine only.
    suffix = F.expr("substr(source, 4)")
    src_no = F.when(F.col("source").isNull(), F.lit(None).cast("int")).otherwise(
        F.coalesce(
            suffix.cast("int"),
            F.raise_error(
                F.concat(
                    F.lit("q_stratified_sample: non-numeric source suffix: "),
                    F.col("source"),
                )
            ).cast("int"),
        )
    )
    rate = F.when(src_no % 2 == 0, F.lit(80)).otherwise(F.lit(20))
    return docs.filter(bucket < rate).select("doc_id", "source", "lang")


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           {sql_md5_long("regexp_replace(lower(trim(text)), ' +', ' ', 'g')")}
             AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: 60-bit hash of whitespace-normalized text, the
    exact-dedup key."""
    docs = load_table(spark, sf_dir, "documents")
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), " +", " ")
    return docs.select("doc_id", md5_long(normalized).alias("fingerprint"))


# --- Corpus-order n-gram novelty (incremental-crawl dedup signal) -----------


@register(
    "text_novelty",
    bench=True,
    # the shingle CTE comes verbatim from dedup._SQL_SHINGLES — the
    # Spark side imports dedup.shingles_df, so the two oracles MUST
    # shingle identically
    oracle=f"""
    WITH sh AS (SELECT * FROM {_DEDUP_SQL_SHINGLES}),
    first AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle)
    SELECT d.doc_id,
           CAST(COALESCE(COUNT(sh.shingle), 0) AS BIGINT) AS n_shingles,
           CAST(COALESCE(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END),
                         0) AS BIGINT) AS n_novel,
           round(CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(sh.shingle), 6) AS novelty
    FROM documents d
    LEFT JOIN sh ON d.doc_id = sh.doc_id
    LEFT JOIN first f ON sh.shingle = f.shingle
    GROUP BY d.doc_id
    """,
)
def text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty in corpus order: the fraction of a doc's
    distinct 3-gram shingles whose first occurrence (minimum doc_id anywhere
    in the corpus) is this document. A near-zero novelty doc is boilerplate
    of what came before.

    n_novel(d) is the number of first-occurrence rows whose minimum is d
    (first_doc = d implies the shingle is in d's set), and n_shingles(d) is
    the row-local ``size`` of d's distinct shingle array, so neither needs a
    join back to the shingle stream. Docs with fewer than 3 tokens have no
    shingles: n_shingles = 0, novelty NULL.
    """
    from map_reduce_server_spark.operators.dedup import (
        doc_shingle_arrays,
        shingles_df,
    )

    sh = shingles_df(spark, sf_dir, distinct=True)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = first.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count("*").alias("n_novel")
    )
    sizes = doc_shingle_arrays(spark, sf_dir).select(
        "doc_id", F.size("arr").cast("bigint").alias("n_shingles")
    )
    return sizes.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
        F.when(
            F.col("n_shingles") > 0,
            F.round(
                F.coalesce("n_novel", F.lit(0)).cast("double")
                / F.col("n_shingles"),
                6,
            ),
        ).alias("novelty"),
    )


# --- Out-of-vocabulary rate against the corpus top-K vocabulary -------------

_OOV_VOCAB_K = 1000


@register(
    "text_oov_rate",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({SQL_TOKS}) AS token FROM documents
    ),
    vocab AS (
      SELECT token FROM tok GROUP BY token
      ORDER BY COUNT(*) DESC, token LIMIT {_OOV_VOCAB_K}
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           round(CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS oov_rate
    FROM tok t LEFT JOIN vocab v USING (token)
    GROUP BY t.doc_id
    """,
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate: the corpus's top-K tokens by frequency form
    the vocabulary (total count DESC, token ASC, so the boundary tie is
    deterministic); each document reports how many of its token occurrences
    fall outside it. Zero-token documents are absent from the output.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(word_tokens_col()).alias("token"),
    )
    vocab = (
        tok.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(_OOV_VOCAB_K)
        .select("token", F.lit(True).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.col("in_vocab").isNull().cast("bigint")).alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            F.round(F.col("n_oov").cast("double") / F.col("n_tokens"), 6),
        )
    )


# --- Zipf rank-frequency fit ------------------------------------------------

_ZIPF_TOPK = 100


@register(
    "text_zipf_fit",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({SQL_TOKS}) AS token FROM documents),
    freq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n
             FROM tok GROUP BY token),
    top AS (SELECT token, n FROM freq
            ORDER BY n DESC, token LIMIT {_ZIPF_TOPK}),
    ranked AS (
      SELECT token, n,
             1 + (SELECT COUNT(*) FROM top b
                  WHERE b.n > a.n OR (b.n = a.n AND b.token < a.token))
               AS rnk
      FROM top a),
    pts AS (SELECT round(ln(CAST(rnk AS DOUBLE)), 9) AS x,
                   round(ln(CAST(n AS DOUBLE)), 9) AS y
            FROM ranked),
    s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k,
                 CAST(SUM(CAST(x AS DECIMAL(30,9))) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(y AS DECIMAL(30,9))) AS DOUBLE) AS sy,
                 CAST(SUM(CAST(round(x * y, 9) AS DECIMAL(30,9))) AS DOUBLE)
                   AS sxy,
                 CAST(SUM(CAST(round(x * x, 9) AS DECIMAL(30,9))) AS DOUBLE)
                   AS sxx
          FROM pts)
    SELECT CAST(k AS BIGINT) AS n_points,
           round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) + 0.0
             AS slope,
           round((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k,
                 6) + 0.0 AS intercept
    FROM s
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: OLS slope of ln(frequency) against ln(rank) over the
    top-100 tokens. Natural corpora fit slope ≈ −1; a deviation flags
    synthetic, templated or scrubbed text.

    The regression reduces to five exact-decimal power sums of 9-rounded
    logs, so the slope is deterministic on any partitioning.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(word_tokens_col()).alias("token"),
    )
    freq = tok.groupBy("token").agg(F.count("*").alias("n"))
    top = freq.orderBy(F.desc("n"), "token").limit(_ZIPF_TOPK)
    a, b = top.alias("a"), top.alias("b")
    better = (F.col("b.n") > F.col("a.n")) | (
        (F.col("b.n") == F.col("a.n")) & (F.col("b.token") < F.col("a.token"))
    )
    ranked = (
        a.join(F.broadcast(b), better, "left")
        .groupBy(F.col("a.token").alias("token"), F.col("a.n").alias("n"))
        .agg((F.count(F.col("b.token")) + 1).alias("rnk"))
    )
    pts = ranked.select(
        F.round(F.log(F.col("rnk").cast("double")), 9).alias("x"),
        F.round(F.log(F.col("n").cast("double")), 9).alias("y"),
    )
    s = pts.agg(
        F.count("*").cast("double").alias("k"),
        F.sum(F.col("x").cast("decimal(30,9)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(30,9)")).cast("double").alias("sy"),
        # products are pre-rounded to 9 so the scale-9 decimal cast is
        # exact in both engines: Spark casts via the shortest decimal repr
        # (HALF_UP) while DuckDB rounds the binary double, and on an
        # unrounded product the two can differ by 1e-9 per term
        F.sum(F.round(F.col("x") * F.col("y"), 9).cast("decimal(30,9)"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.round(F.col("x") * F.col("x"), 9).cast("decimal(30,9)"))
        .cast("double")
        .alias("sxx"),
    )
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    # + 0.0 maps a -0.0 (uniform-frequency corpora: the rounded per-term
    # errors can sum to -1e-11, which DuckDB's round keeps as -0.0 while
    # Spark gives +0.0) onto one sign in both twins.
    return s.select(
        F.col("k").cast("bigint").alias("n_points"),
        (F.round(slope, 6) + 0.0).alias("slope"),
        (
            F.round((F.col("sy") - slope * F.col("sx")) / F.col("k"), 6)
            + 0.0
        ).alias("intercept"),
    )


# --- bigram-LM quality score ------------------------------------------------


@register(
    "text_bigram_logprob",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {SQL_TOKS} AS ts FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(ts), 1)),
                    i -> ts[i] || ' ' || ts[i+1])) AS bigram,
             unnest(list_transform(range(1, greatest(len(ts), 1)),
                    i -> ts[i])) AS tok1
      FROM toks WHERE len(ts) >= 2),
    cb AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cab
           FROM bg GROUP BY bigram),
    cu AS (SELECT tok1 AS token, CAST(COUNT(*) AS BIGINT) AS ca
           FROM bg GROUP BY tok1),
    v AS (SELECT CAST(COUNT(DISTINCT tk) AS DOUBLE) AS vocab
          FROM (SELECT unnest({SQL_TOKS}) AS tk FROM documents) t),
    s AS (
      SELECT bg.doc_id,
             round(-ln((cab + 1.0) / (ca + vocab)), 9) AS surp
      FROM bg JOIN cb USING (bigram) JOIN cu ON bg.tok1 = cu.token
      CROSS JOIN v)
    SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_bigrams,
           {sql_davg('surp', scale=12)} AS avg_surprisal
    FROM s GROUP BY doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram-LM quality score with add-one smoothing: each
    document's mean -ln p(w_i | w_{i-1}) under the corpus bigram
    distribution.

    The conditioning-token counts derive from the same bigram stream, the
    vocabulary size folds in as a broadcast 1-row aggregate, and per-bigram
    surprisal is rounded to 9 before exact-decimal averaging (the unigram
    scorer's libm-portability contract).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", word_tokens_col().alias("ts")).filter(
        F.size("ts") >= 2
    )
    bg = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ts") - 1),
                lambda i: F.struct(
                    F.concat(
                        F.element_at("ts", i),
                        F.lit(" "),
                        F.element_at("ts", i + F.lit(1)),
                    ).alias("bigram"),
                    F.element_at("ts", i).alias("tok1"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.bigram").alias("bigram"), F.col("p.tok1").alias("tok1"))
    # kept: cb, cu and the scoring join read bg; uncut each rebuilds it
    # from a corpus scan, tokenize and explode
    bg = bg.transform(stage_cut)
    cb = bg.groupBy("bigram").agg(F.count("*").alias("cab"))
    cu = bg.groupBy("tok1").agg(F.count("*").alias("ca"))
    tok = docs.select(F.explode(word_tokens_col()).alias("t"))
    v = tok.agg(F.count_distinct("t").cast("double").alias("vocab"))
    s = (
        bg.join(cb, "bigram")
        .join(cu, "tok1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.round(
                -F.log((F.col("cab") + 1.0) / (F.col("ca") + F.col("vocab"))),
                9,
            ).alias("surp"),
        )
    )
    return s.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_bigrams"),
        davg("surp", scale=12).alias("avg_surprisal"),
    )


# --- per-document keyword extraction (top-k TF-IDF terms) -------------------

_KW_TOPK = 3


@register(
    "text_keywords",
    oracle=f"""
    {_SQL_TFIDF_CTES.rstrip()},
    scored AS (
      SELECT tf.doc_id, tf.token,
             {_SQL_TFIDF_SCORE} AS tfidf
      FROM tf
      JOIN doclen USING (doc_id)
      JOIN df USING (token)
      CROSS JOIN n),
    ranked AS (
      SELECT doc_id, token, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, token) AS rnk
      FROM scored)
    SELECT doc_id,
           string_agg(token, ',' ORDER BY rnk) AS keywords
    FROM ranked WHERE rnk <= {_KW_TOPK}
    GROUP BY doc_id
    """,
)
def text_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: the top-3 TF-IDF terms,
    rank-ordered and CSV-serialized. An ordered in-group fold (sort_array
    over (rnk, token) structs) builds the string, so no array column reaches
    the output.
    """
    scored = text_tfidf(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "token")
    ranked = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _KW_TOPK)
    )
    return ranked.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("rnk", "token"))),
                lambda s: s["token"],
            ),
            ",",
        ).alias("keywords")
    )


@register(
    "text_entropy",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({SQL_TOKS}) AS token FROM documents),
    tc AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2)
    SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           round(log2(CAST(SUM(c) AS DOUBLE))
                 - CAST(SUM(CAST(round(c * log2(CAST(c AS DOUBLE)), 9)
                                 AS DECIMAL(30,12))) AS DOUBLE) / SUM(c),
                 6) + 0.0 AS token_entropy_bits
    FROM tc GROUP BY doc_id
    """,
)
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (bits), via
    H = log2(N) − (Σ c·log2 c)/N over (doc, token) counts. The Σ c·log2 c
    term is decimal-cast, so it is partitioning-invariant, and log2 on
    identical integer counts is bit-identical across engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select(
            "doc_id",
            F.explode(word_tokens_col()).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    n = F.sum("c")
    # the trailing + 0.0 maps a -0.0 (single-type docs: H is a
    # -1e-11 rounding residue that DuckDB rounds to -0.0, Spark to
    # +0.0) onto one sign in both twins.
    return tc.groupBy("doc_id").agg(
        n.cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        (F.round(
            F.log2(n.cast("double"))
            # the c*log2(c) term is pre-rounded to 9 so the scale-12
            # decimal cast is exact in both engines (an unrounded
            # irrational term can cast-round differently: Spark uses
            # the shortest decimal repr, DuckDB the binary double)
            - F.sum(
                F.round(
                    F.col("c") * F.log2(F.col("c").cast("double")), 9
                ).cast("decimal(30,12)")
            ).cast("double")
            / n,
            6,
        ) + 0.0).alias("token_entropy_bits"),
    )


@register(
    "text_readability",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             greatest(len({SQL_TOKS}), 1) AS words,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
               AS sentences,
             greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
               AS syllables
      FROM documents)
    SELECT doc_id, CAST(words AS BIGINT) AS words,
           CAST(sentences AS BIGINT) AS sentences,
           CAST(syllables AS BIGINT) AS syllables,
           round(206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)
                 - 84.6 * (CAST(syllables AS DOUBLE) / words), 6)
             AS flesch_score
    FROM t
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document, with syllables approximated as
    vowel-group runs.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = F.greatest(F.size(word_tokens_col()), F.lit(1))
    sentences = F.greatest(
        F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1)
    )
    syllables = F.greatest(
        F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+")), F.lit(1)
    )
    return docs.select(
        "doc_id",
        words.cast("bigint").alias("words"),
        sentences.cast("bigint").alias("sentences"),
        syllables.cast("bigint").alias("syllables"),
        F.round(
            F.lit(206.835)
            - 1.015 * (words.cast("double") / sentences)
            - 84.6 * (syllables.cast("double") / words),
            6,
        ).alias("flesch_score"),
    )


_BPE_TOPK = 20


@register(
    "text_bpe_train",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({SQL_TOKS}) AS tok FROM documents),
    pairs AS (
      SELECT unnest(list_transform(range(1, length(tok)),
                                   i -> substr(tok, CAST(i AS INT), 2)))
               AS pair
      FROM tok WHERE length(tok) >= 2),
    counted AS (
      SELECT pair, CAST(COUNT(*) AS BIGINT) AS n FROM pairs GROUP BY pair)
    SELECT pair, n, CAST(rnk AS BIGINT) AS rnk FROM (
      SELECT pair, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rnk
      FROM counted) t
    WHERE rnk <= {_BPE_TOPK}
    """,
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One training round of byte-pair encoding: count every adjacent
    character pair inside every token across the corpus and rank the top-20
    merge candidates (count desc, pair asc: a total order, so the winner set
    is unique). Iterating this op is the BPE training loop; text_bpe_tokens
    applies merges.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(word_tokens_col()).alias("tok")).filter(
        F.length("tok") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.col("tok").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(F.count("*").cast("bigint").alias("n"))
    w = Window.orderBy(F.desc("n"), "pair")
    return (
        counted.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= _BPE_TOPK)
    )


# --- collocation mining (pointwise mutual information) -----------------------

_COLLOC_MIN_COUNT = 5

# Oracle for text_collocations below. All marginals derive from the one
# bigram count table, as on the Spark side.
_COLLOC_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {SQL_TOKS} AS ts FROM documents),
bg AS (
  SELECT unnest(list_transform(range(1, greatest(len(ts), 1)),
         i -> ts[i] || ' ' || ts[i+1])) AS bigram
  FROM toks WHERE len(ts) >= 2),
cab AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
        FROM bg GROUP BY bigram),
sp AS (SELECT bigram, n, string_split(bigram, ' ')[1] AS tok1,
              string_split(bigram, ' ')[2] AS tok2 FROM cab),
ca AS (SELECT tok1, CAST(SUM(n) AS BIGINT) AS c1 FROM sp GROUP BY tok1),
cb AS (SELECT tok2, CAST(SUM(n) AS BIGINT) AS c2 FROM sp GROUP BY tok2),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM cab)
SELECT sp.bigram, sp.n,
       round(ln((CAST(sp.n AS DOUBLE) * CAST(total AS DOUBLE))
                / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))), 9) AS pmi
FROM sp JOIN ca USING (tok1) JOIN cb USING (tok2) CROSS JOIN tot
WHERE sp.n >= {_COLLOC_MIN_COUNT}
"""


@register("text_collocations", oracle=_COLLOC_ORACLE)
def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: corpus bigrams scored by pointwise mutual
    information, ``PMI = ln(p(a,b) / (p(a·) p(·b)))``, with a minimum count
    threshold.

    Every marginal (first-token counts, second-token counts, grand total)
    derives from the bigram count table; tokens contain no spaces, so the
    bigram string splits back losslessly. PMI is the identical double
    expression on both engines, rounded to 9 (libm ln 1-ulp contract).
    """
    docs = load_table(spark, sf_dir, "documents")
    ts = docs.select(word_tokens_col().alias("ts")).filter(F.size("ts") >= 2)
    bg = ts.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ts") - 1),
                lambda i: F.concat(
                    F.element_at("ts", i),
                    F.lit(" "),
                    F.element_at("ts", i + F.lit(1)),
                ),
            )
        ).alias("bigram")
    )
    # kept: sp (rules and both marginals) and tot read cab; uncut the
    # bigram count runs four times
    cab = bg.groupBy("bigram").agg(
        F.count("*").cast("bigint").alias("n")
    ).transform(stage_cut)
    sp = cab.select(
        "bigram",
        "n",
        F.split_part("bigram", F.lit(" "), F.lit(1)).alias("tok1"),
        F.split_part("bigram", F.lit(" "), F.lit(2)).alias("tok2"),
    )
    ca = sp.groupBy("tok1").agg(F.sum("n").alias("c1"))
    cb = sp.groupBy("tok2").agg(F.sum("n").alias("c2"))
    tot = cab.agg(F.sum("n").alias("total"))
    return (
        sp.filter(F.col("n") >= _COLLOC_MIN_COUNT)
        .join(ca, "tok1")
        .join(cb, "tok2")
        .crossJoin(F.broadcast(tot))
        .select(
            "bigram",
            "n",
            F.round(
                F.log(
                    (F.col("n").cast("double") * F.col("total").cast("double"))
                    / (F.col("c1").cast("double") * F.col("c2").cast("double"))
                ),
                9,
            ).alias("pmi"),
        )
    )


# Oracle for text_inverted_index. Postings sort numerically before the
# string join on both sides; a lexicographic sort would order doc 10 before
# doc 9.
_INVERTED_INDEX_ORACLE = f"""
WITH pairs AS (
  SELECT doc_id, unnest({SQL_TOKS}) AS token FROM documents),
perdoc AS (
  SELECT token, doc_id, COUNT(*) AS tf FROM pairs GROUP BY 1, 2)
SELECT token,
       COUNT(*) AS df,
       CAST(SUM(tf) AS BIGINT) AS tf_total,
       array_to_string(list_sort(list(doc_id)), ',') AS postings
FROM perdoc GROUP BY token HAVING COUNT(*) >= 2
"""


@register("text_inverted_index", oracle=_INVERTED_INDEX_ORACLE)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: token -> (document frequency, corpus
    term frequency, sorted posting list) with hapax pruning (df >= 2),
    built from the per-(token, doc) term-frequency rows. The posting list
    sorts numerically before the string render (lexicographic '10' < '9'
    would diverge between engines)."""
    docs = load_table(spark, sf_dir, "documents")
    perdoc = (
        docs.select(
            "doc_id",
            F.explode(word_tokens_col()).alias("token"),
        )
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        perdoc.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("tf_total"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("df") >= 2)
    )
