"""Shared word tokenizer for the ``documents.text`` column.

One definition of "the tokens of a document" — non-empty tokens of
the lowercased text split on single spaces — used by the shingle /
SimHash dedup family, retrieval (BM25), curation, and the relational
text queries. Their DuckDB oracles all derive from the same
``SQL_TOKS`` expression, so every Spark side MUST tokenize
identically; before this module the expression was pasted in seven
places across five operator modules, held in sync only by
discipline.

CHARACTER ENVELOPE: the twins agree on any text whose lowercase
mapping is one-to-one and context-free — all ASCII, and verified
multi-byte cases like U+00DF. Two known exceptions, both pinned in
tests/test_engine_portability_pins.py: U+0130 (Turkish dotted
capital I — Java expands to 'i' + U+0307 combining dot, DuckDB maps
to plain 'i') and U+03A3 (capital sigma — Java applies the
CONTEXTUAL final-sigma rule, 'ÄΣ' -> 'äς', while DuckDB always
yields 'σ'; a bare 'Σ' probe falsely shows agreement). Token
equality, shingles, and fingerprints diverge on text containing
either; such corpora must be normalized (NFKC or casefold) upstream
of the tokenizer before oracle comparison is meaningful.
tests/test_differential_fuzz.py fuzzes the agreeing plane.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SQL_TOKS = "list_filter(string_split(lower(text), ' '), x -> x <> '')"


def word_tokens_col(col: Column | str = "text") -> Column:
    """Non-empty lowercase word tokens of a text column (default
    ``text``) — the Spark twin of :data:`SQL_TOKS`."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), " "), lambda x: x != "")


def distinct_ratio_col() -> Column:
    """Lexical diversity: distinct tokens / tokens as a RAW double
    (the cheap quality proxy shared by text_quality and
    q_quality_gate — one definition, or the twins drift). No round:
    the ratio of identically-computed integers is bit-identical on
    both engines, while round(x, 6) breaks on non-dyadic 7-decimal
    midpoints (41/640 rounds to ...63 in Spark, ...62 in DuckDB)."""
    toks = word_tokens_col()
    return F.size(F.array_distinct(toks)).cast("double") / F.greatest(
        F.size(toks), F.lit(1)
    )


def sql_distinct_ratio(toks: str = SQL_TOKS) -> str:
    """DuckDB twin of :func:`distinct_ratio_col`; pass a CTE-bound
    token-list alias to avoid recomputing the split."""
    return (
        f"CAST(len(list_distinct({toks})) AS DOUBLE)"
        f" / greatest(len({toks}), 1)"
    )
