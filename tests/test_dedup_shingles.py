"""Round-15 optimization pins: the shuffle-free distinct shingle set
and the widened-scan helper.

``shingles_df(distinct=True)`` replaced a corpus-wide ``.distinct()``
shuffle with a row-local ``array_distinct`` before the explode — valid
ONLY because a (doc_id, shingle) duplicate can never span documents.
These tests pin multiset equality against the former formulation so a
future tokenizer/shingler change that breaks the row-locality argument
fails loudly here instead of silently desynchronizing the oracles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_server_spark.functions.tokens import word_tokens_col
from map_reduce_server_spark.operators.dedup import shingles_df
from map_reduce_server_spark.tables import load_table


def _legacy_distinct_shingles(spark, sf_dir):
    """The pre-round-15 formulation: explode raw shingles, then a
    corpus-wide distinct() shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = word_tokens_col()
    with_toks = docs.select("doc_id", toks.alias("ts"))
    n = F.size(F.col("ts"))
    shingle_arr = F.when(
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
    out = with_toks.select("doc_id", F.explode(shingle_arr).alias("shingle"))
    return out.distinct()


def test_array_distinct_equals_distinct_shuffle(spark, sf_medium):
    new = shingles_df(spark, sf_medium)  # distinct=True default
    old = _legacy_distinct_shingles(spark, sf_medium)
    # multiset equality both directions (exceptAll keeps duplicates,
    # so it also proves the new form emits each pair exactly once)
    assert new.exceptAll(old).isEmpty()
    assert old.exceptAll(new).isEmpty()


def test_distinct_form_has_no_duplicate_pairs(spark, sf_small):
    sh = shingles_df(spark, sf_small)
    dup = (
        sh.groupBy("doc_id", "shingle")
        .count()
        .filter(F.col("count") > 1)
    )
    assert dup.isEmpty()


def test_non_distinct_keeps_multiplicity(spark, sf_small):
    raw = shingles_df(spark, sf_small, distinct=False)
    dedup = shingles_df(spark, sf_small)
    # raw must be a superset (with multiplicity) of the distinct set
    assert dedup.exceptAll(raw).isEmpty()
    # and the corpus genuinely contains within-doc repeats, so the
    # two forms are not accidentally identical
    assert raw.count() > dedup.count()


def test_load_table_widen_widens_and_preserves_rows(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    widened = load_table(spark, sf_small, "documents", widen=True)
    target = spark.sparkContext.defaultParallelism
    assert widened.rdd.getNumPartitions() == target
    assert widened.exceptAll(docs).isEmpty()
    assert docs.exceptAll(widened).isEmpty()


def test_load_table_widen_noop_when_scan_fills_parallelism(spark, sf_small):
    """A scan cut into many splits is no reason to skip widening: the
    one-file fixture has one row group, so at 256-byte splits it scans
    as hundreds of partitions of which only one holds rows. Widened,
    the rows spread over exactly ``defaultParallelism`` partitions."""
    session = spark.newSession()
    session.conf.set("spark.sql.files.maxPartitionBytes", "256")
    target = session.sparkContext.defaultParallelism
    docs = load_table(session, sf_small, "documents")
    assert docs.rdd.getNumPartitions() > target
    wide = load_table(session, sf_small, "documents", widen=True)
    sizes = wide.rdd.glom().map(len).collect()
    assert len(sizes) == target
    assert all(sizes)


def test_array_verified_common_counts_exact_intersection(spark):
    # round-15: _verified_common counts |A∩B| via array_intersect on
    # the distinct per-doc arrays — pin against hand-computed counts
    from pyspark.sql import functions as F

    from map_reduce_server_spark.operators.dedup import _verified_common

    darr = spark.createDataFrame(
        [
            (1, ["a b c", "b c d", "c d e"]),
            (2, ["b c d", "c d e", "x y z"]),
            (3, ["q r s"]),
        ],
        ["doc_id", "arr"],
    )
    cand = spark.createDataFrame([(1, 2), (1, 3)], ["doc_a", "doc_b"])
    got = {
        (r.doc_a, r.doc_b, r.n_common, r.n_a, r.n_b)
        for r in _verified_common(cand, darr).collect()
    }
    assert got == {(1, 2, 2, 3, 3), (1, 3, 0, 3, 1)}


def test_doc_shingle_arrays_matches_exploded_view(spark, sf_small):
    # the array table and the exploded view must stay the same set
    from pyspark.sql import functions as F

    from map_reduce_server_spark.operators.dedup import doc_shingle_arrays

    darr = doc_shingle_arrays(spark, sf_small)
    exploded = darr.select("doc_id", F.explode("arr").alias("shingle"))
    sh = shingles_df(spark, sf_small)
    assert exploded.exceptAll(sh).isEmpty()
    assert sh.exceptAll(exploded).isEmpty()


def test_positional_filter_is_lossless(spark, sf_medium):
    # round-15: the PPJoin positional filter must not change the
    # verified output — compare against the bound-free formulation
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from map_reduce_server_spark.operators.dedup import (
        _PJ_THRESHOLD,
        _verified_common,
        doc_shingle_arrays,
        ranked_prefix,
    )
    from map_reduce_server_spark.registry import QUERIES, load_all
    from map_reduce_server_spark.stagecut import stage_cut

    load_all()
    darr = doc_shingle_arrays(spark, sf_medium).transform(stage_cut)
    prefix = ranked_prefix(darr)
    a, b = prefix.alias("a"), prefix.alias("b")
    # bound-free candidates: prefix collision + length filter only
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n") * 2 >= F.col("a.n"))
            & (F.col("a.n") * 2 >= F.col("b.n")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    j = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    unfiltered = (
        _verified_common(cand, darr)
        .filter(j >= _PJ_THRESHOLD)
        .select("doc_a", "doc_b", j.alias("jaccard"))
    )
    filtered = QUERIES["dedup_jaccard_prefix"](spark, sf_medium)
    assert filtered.exceptAll(unfiltered).isEmpty()
    assert unfiltered.exceptAll(filtered).isEmpty()
