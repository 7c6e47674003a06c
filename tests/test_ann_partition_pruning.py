"""The ANN scale path made literal: write the corpus partitioned by
LSH bucket, and verify a bucket-filtered query prunes partitions at
the scan (reads 1/2^H of the data): the bucket ann_topk_lsh computes
on the fly, as a storage layout."""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_server_spark.operators.similarity import _bucket_col, _emb
from map_reduce_server_spark.plans import explain_str


def test_multiprobe_recall(spark, sf_medium):
    """Quantify the single-probe recall risk and the Hamming-1
    multi-probe fix: probing the H adjacent buckets must recover a
    large multiple of single-probe recall vs the exact baseline.
    (Absolute recall is data-limited here: the synthetic embeddings
    are near-orthogonal random vectors, the hardest case for
    hyperplane LSH — measured 0.075 single vs 0.525 multi at
    sf0.01.)"""
    from map_reduce_server_spark.operators.similarity import (
        ann_topk_bruteforce,
        ann_topk_lsh,
        ann_topk_lsh_multiprobe,
    )

    pairs = lambda df: {(r.query_id, r.neighbor_id) for r in df.collect()}
    exact = pairs(ann_topk_bruteforce(spark, sf_medium))
    single = pairs(ann_topk_lsh(spark, sf_medium))
    multi = pairs(ann_topk_lsh_multiprobe(spark, sf_medium))
    assert exact, "exact baseline must produce pairs"
    single_recall = len(single & exact) / len(exact)
    multi_recall = len(multi & exact) / len(exact)
    # (no superset assert on the OUTPUTS: top-k over the larger probe
    # candidate set can rank out a pair the bucket-only top-k kept)
    assert multi_recall >= single_recall
    assert multi_recall >= 0.4


def test_bucket_partitioned_ann_prunes(spark, sf_small, tmp_path):
    out = str(tmp_path / "emb_by_bucket")
    emb = _emb(spark, sf_small).withColumn("bucket", _bucket_col(F.col("vec")))
    emb.write.mode("overwrite").partitionBy("bucket").parquet(out)

    corpus = spark.read.parquet(out)
    one_bucket = corpus.filter(F.col("bucket") == 3)
    plan = explain_str(one_bucket)
    # partition pruning visible at the scan
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters")[1].split("\n")[0]
    # and the filtered read matches the computed bucket assignment
    expected = emb.filter(F.col("bucket") == 3).count()
    assert one_bucket.count() == expected > 0


def test_ivf_recall_and_broadcast(spark, sf_medium):
    """IVF with nprobe=2 of 8 cells scans 1/4 of a structure-free
    random corpus and must recover about that recall fraction vs the
    exact baseline (0.275 measured); centroid assignment must
    broadcast the K centroids, never shuffle corpus vectors."""
    from map_reduce_server_spark.operators.similarity import (
        ann_topk_bruteforce,
        ann_topk_ivf,
    )

    pairs = lambda df: {(r.query_id, r.neighbor_id) for r in df.collect()}
    exact = pairs(ann_topk_bruteforce(spark, sf_medium))
    ivf = pairs(ann_topk_ivf(spark, sf_medium))
    assert len(ivf & exact) / len(exact) >= 0.15
    plan = explain_str(ann_topk_ivf(spark, sf_medium))
    assert "Broadcast" in plan
