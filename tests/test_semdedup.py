"""SemDeDup operator semantics: collapse-identical equivalence, the
max_cluster guard, and the keep-the-most-novel policy on a planted
duplicate clique."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from event_data_etl_gcs_spark.operators.clustering import (
    semdedup_keep,
    semdedup_pairs,
)
from event_data_etl_gcs_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_max_cluster_guard_raises(spark):
    emb = load_table(spark, SF, "embeddings")
    with pytest.raises(ValueError, match="max_cluster"):
        semdedup_pairs(emb, max_cluster=2)


def test_keep_policy_on_duplicate_clique(spark):
    """A clique of >=threshold members keeps exactly the argmin
    centroid_cos member (ties toward smaller id)."""
    emb = load_table(spark, SF, "embeddings")
    keep = semdedup_keep(emb).cache()
    pairs = semdedup_pairs(emb)
    ccos = {r["vec_id"]: r["centroid_cos"] for r in keep.collect()}
    kept = {r["vec_id"] for r in keep.collect() if r["kept"] == 1}
    sym = {}
    for r in pairs.collect():
        sym.setdefault(r["id_a"], set()).add(r["id_b"])
        sym.setdefault(r["id_b"], set()).add(r["id_a"])
    # domination rule, replayed in pure python
    for v, partners in sym.items():
        dominated = any(
            (ccos[u], u) < (ccos[v], v) for u in partners
        )
        assert (v not in kept) == dominated
    # vectors with no >=threshold partner are always kept
    for v in ccos:
        if v not in sym:
            assert v in kept
    keep.unpersist()


def test_keep_counts_consistent(spark):
    emb = load_table(spark, SF, "embeddings")
    keep = semdedup_keep(emb)
    n_vec = load_table(spark, SF, "embeddings").count()
    assert keep.count() == n_vec  # no zero-norm vectors in the fixture
    assert keep.filter(F.col("kept") == 1).count() >= 1


def test_numpy_candidate_path_matches_fold(spark, monkeypatch):
    """Force the at-scale cluster-local numpy candidate pass and pin its
    output (ids AND cosine doubles) to the fold path's: numpy only
    selects, the JVM fold re-scores, so the paths are bit-identical."""
    import event_data_etl_gcs_spark.operators.graph as g

    emb = load_table(spark, SF, "embeddings")
    cols = ["cluster_id", "id_a", "id_b", "cos_sim"]
    want = _rows(semdedup_pairs(emb), cols)
    monkeypatch.setattr(g, "SCORING_FOLD_MAX_N", 10)
    got = _rows(semdedup_pairs(emb), cols)
    assert got == want


def test_witness_keep_path_matches_fold(spark, monkeypatch):
    """Force the at-scale witness-scan keep path and pin its output
    (all four columns, centroid_cos doubles included) to the
    pairs-based fold path's — on the fixture corpus AND on a planted
    replica corpus where the identical-vector collapse and min-member
    tie-breaks are load-bearing."""
    import event_data_etl_gcs_spark.operators.graph as g

    cols = ["vec_id", "cluster_id", "centroid_cos", "kept"]

    emb = load_table(spark, SF, "embeddings")
    want = _rows(semdedup_keep(emb), cols)
    monkeypatch.setattr(g, "SCORING_FOLD_MAX_N", 10)
    got = _rows(semdedup_keep(emb), cols)
    assert got == want
    monkeypatch.undo()

    base = load_table(spark, SF, "embeddings").orderBy("vec_id").limit(5)
    planted = (
        base.crossJoin(spark.range(7).select(F.col("id").alias("rep")))
        .select(
            (F.col("vec_id") * 1000 + F.col("rep")).alias("vec_id"),
            "embedding",
        )
    )
    want_p = _rows(semdedup_keep(planted, threshold=0.9), cols)
    monkeypatch.setattr(g, "SCORING_FOLD_MAX_N", 2)
    got_p = _rows(semdedup_keep(planted, threshold=0.9), cols)
    assert got_p == want_p


def test_witness_keep_rejects_near_one_threshold(spark, monkeypatch):
    import event_data_etl_gcs_spark.operators.graph as g

    emb = load_table(spark, SF, "embeddings")
    monkeypatch.setattr(g, "SCORING_FOLD_MAX_N", 10)
    with pytest.raises(ValueError, match="threshold"):
        semdedup_keep(emb, threshold=1.0).collect()
