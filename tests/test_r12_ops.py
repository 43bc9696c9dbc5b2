"""Round-12 operator tests: the cluster-size downweight form, the
streaming decontamination gate, and the hardened kNN label audit
(null-label / zero-norm exclusion + the bucket-size bound)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from protarrow_spark.queries import all_queries


def test_cluster_sizes_consistent_with_per_doc_form(spark, sf_dir):
    """The cluster-level downweight table must be exactly the per-doc
    form's rollup: same clusters, same sizes, same weights, and the
    sizes must partition the document universe."""
    per_doc = all_queries()["sample_downweight_duplicates"](spark, sf_dir)
    per_cluster = all_queries()["sample_downweight_cluster_sizes"](
        spark, sf_dir
    )
    rolled = {
        (r["cluster_id"], r["cluster_size"], r["weight_ppm"])
        for r in per_doc.select(
            "cluster_id", "cluster_size", "weight_ppm"
        )
        .distinct()
        .collect()
    }
    got = {
        (r["cluster_id"], r["cluster_size"], r["weight_ppm"])
        for r in per_cluster.collect()
    }
    assert got == rolled
    n_docs = per_doc.count()
    assert sum(s for _, s, _ in got) == n_docs


def test_stream_decontaminate_totals_match_batch_gate(spark, sf_dir):
    """The streaming per-source rollup must agree with the batch
    text_decontaminate gate: summed contaminated-gram hits equal, and
    the streaming contaminated-doc count equals the batch gate's row
    count (text_decontaminate emits one row per contaminated doc)."""
    batch = all_queries()["text_decontaminate"](spark, sf_dir)
    stream = all_queries()["stream_decontaminate"](spark, sf_dir)
    batch_docs = batch.count()
    batch_grams = batch.agg(F.sum("n_contaminated_grams")).collect()[0][0]
    srow = stream.agg(
        F.sum("n_contaminated_docs").alias("d"),
        F.sum("n_contaminated_grams").alias("g"),
    ).collect()[0]
    assert srow["d"] == batch_docs
    assert srow["g"] == batch_grams


def _knn_frame(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )


def test_knn_label_audit_excludes_null_and_zero_norm(spark):
    from protarrow_spark.operators.similarity import knn_label_consistency

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.9, 0.1], 0),
        (3, [0.8, 0.2], 1),
        (4, [0.0, 0.0], 1),  # zero-norm: no cosine, excluded
        (5, [0.7, 0.3], None),  # unlabeled: not auditable, excluded
        (6, None, 1),  # null vector: excluded
    ]
    # n_components=1: every surviving vector has a positive first
    # component, so all land in ONE bucket and every survivor reports
    out = knn_label_consistency(
        _knn_frame(spark, rows), k=2, n_components=1
    ).collect()
    ids = {r["vec_id"] for r in out}
    assert ids == {1, 2, 3}
    by_id = {r["vec_id"]: r for r in out}
    # 1 and 2 share label 0 and are mutually nearest among {1,2,3}
    assert by_id[1]["n_same_label"] >= 1
    assert not by_id[1]["suspect"]
    # 3 is the only label-1 row left -> zero agreeing neighbors
    assert by_id[3]["n_same_label"] == 0
    assert by_id[3]["suspect"]


# r12's fail-stop on a hot bucket (ValueError above max_bucket_rows)
# was replaced in r13 by the block-pair split; the equivalence tests
# live in tests/test_r13_ops.py.

