"""Round-6 cosine_dedup_pairs posture tests: the bounded hybrid default
must be output-identical to the naive quadratic build wherever caps don't
engage, collapse-identical must be a pure plan rewrite (same pairs, same
doubles) on duplicate-bearing corpora, and hot-bucket ring sampling must
keep duplicate recall (the SCALE_r5 lesson: exact copies sort adjacent
under the continuous projection). The collapse-rewrite pin runs in the
default tier, in test_pair_cascade.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from event_data_etl_gcs_spark.operators.similarity import cosine_dedup_pairs
from event_data_etl_gcs_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _pairs(df):
    return sorted((r["id_a"], r["id_b"], r["cos_sim"]) for r in df.collect())


def _dup_corpus(spark):
    """sf0.001 embeddings + 3 exact copies of every vector under shifted
    ids — every 16-plane bucket becomes duplicate-heavy."""
    emb = load_table(spark, SF, "embeddings")
    dup = emb
    for i in range(1, 4):
        dup = dup.unionByName(
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(10_000 * i))
        )
    return dup


def test_defaults_equal_naive_when_caps_idle(spark):
    """Zero-argument call (hybrid + collapse) == naive uncapped build on
    the real table: no bucket exceeds 512 and no vectors are identical,
    so the bounded posture must change NOTHING — including every double."""
    emb = load_table(spark, SF, "embeddings")
    # threshold 0.0 keeps every within-bucket pair (nonempty at sf0.001,
    # where no pair clears 0.9) — the identity must hold at any threshold
    got = _pairs(cosine_dedup_pairs(emb, threshold=0.0))
    want = _pairs(
        cosine_dedup_pairs(
            emb, threshold=0.0, max_bucket=None, ring_cap=None,
            collapse_identical=False,
        )
    )
    assert got == want and len(got) > 0


def test_hybrid_keeps_duplicate_recall(spark):
    """Default caps on the duplicate-heavy corpus: every original vector
    must still pair with all 3 of its copies (cos ~ 1.0) — collapse
    routes exact copies around the bucket join entirely, so caps cannot
    lose them."""
    dup = _dup_corpus(spark)
    n_orig = dup.count() // 4
    out = cosine_dedup_pairs(dup, threshold=0.9, max_bucket=16, ring_cap=8)
    near_one = out.filter(F.col("cos_sim") > 0.999999)
    # 4 copies per vector -> 6 intra-group pairs per original vector
    assert near_one.count() >= 6 * n_orig


def test_cap_argument_validation(spark):
    emb = load_table(spark, SF, "embeddings")
    with pytest.raises(ValueError, match="hybrid"):
        cosine_dedup_pairs(emb, max_bucket=16, ring_cap=None)
    with pytest.raises(ValueError, match="ring_cap"):
        cosine_dedup_pairs(
            emb, max_bucket=0, ring_cap=0
        ).collect()


def test_cosine_dedup_bucket_scoring_equals_fold(spark):
    """Round-6 scoring strategies for cosine_dedup_pairs: the
    bucket-local pass-1 (threshold pairs emitted straight from numpy
    batches) finds the SAME pair set as the oracle-mirrored fold path
    on a duplicate-rich corpus, for both the default geometry and a
    caps-engaged hybrid where hot buckets take the ring branch."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    vid = 0
    # 40 groups x 8 near-copies (cos >> 0.9 within a group) + 80 loners
    for g in range(40):
        center = rng.normal(0, 1, 16)
        for _ in range(8):
            v = center + rng.normal(0, 0.02, 16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(80):
        rows.append((vid, [float(x) for x in rng.normal(0, 1, 16)]))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def pair_map(scoring, **kwargs):
        out = cosine_dedup_pairs(df, threshold=0.9, scoring=scoring, **kwargs)
        return {(r["id_a"], r["id_b"]): r["cos_sim"] for r in out.collect()}

    for kwargs in ({}, {"band_bits": 4, "max_bucket": 12, "ring_cap": 6}):
        fold = pair_map("fold", **kwargs)
        bucket = pair_map("bucket", **kwargs)
        assert set(fold) == set(bucket), kwargs
        assert len(fold) >= 40 * 8 * 7 // 2  # every intra-group pair
        assert all(abs(fold[p] - bucket[p]) < 1e-12 for p in fold), kwargs

    with pytest.raises(ValueError, match="scoring"):
        cosine_dedup_pairs(df, scoring="numpy").collect()
