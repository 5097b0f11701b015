"""Distributed k-means building blocks over the embeddings table.

The reference has no clustering operator; this extends the engine's
similarity family (SURVEY.md Phase 4 north star: LLM-data-pipeline ops)
with the standard corpus-curation primitive — cluster embeddings, then
sample/balance/dedup per cluster.

Spark-first design:
  * Initial centroids are the k vectors with the smallest ids —
    deterministic, so every run (and the DuckDB oracle) sees the same
    seeds. At 100 TB you'd swap in k-means|| sampling; the operator shape
    (broadcast centroids, map-side assignment) is unchanged.
  * Assignment is a broadcast nested-loop over k centroid rows — the
    corpus NEVER shuffles for assignment; each row computes k squared
    distances with a native Catalyst lambda (left-to-right double sums,
    engine-exact) and keeps the argmin via a per-vector window.
  * The Lloyd recompute uses the ORDER-PINNED float-fold pattern
    (sort by member id inside each (cluster, dim) group before summing)
    so centroid doubles are bit-identical across engines and across
    shuffle-partition counts. At production scale the pin is dropped and
    a plain avg() suffices; the pinned fold is the oracle-exact variant.

Everything is DataFrame-native: one shuffle for the recompute groupBy,
zero Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .pairs import (
    collapse_to_reps,
    cosine_sql,
    cosine_verify,
    expand_members,
    self_cosine,
)

K_CLUSTERS = 8


def sqdist_sql(a: str, b: str) -> str:
    """Squared L2 distance, left-to-right double summation (portable)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def duck_sqdist(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, len({a}) + 1), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
        f"* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))), "
        f"(acc, v) -> acc + v)"
    )


# Round-6 portability device for ITERATED trainers (kmeans_iterate,
# train_ivf_centroids, train_codebook): component means over a group via
# POWER-OF-TWO integer quantization. q = floor(v * 2^20 + 0.5) is
# bit-portable (the multiply only shifts the exponent — exact in IEEE;
# +0.5 and floor are exact at these magnitudes; floor(x+0.5) is the
# round-half-up spelling both engines agree on, unlike round()), the
# int64 SUM is exact in ANY order — partitioning-independent with the
# same shuffle shape as a plain avg, none of the order-pinned fold's
# collect_list memory — and the final double division is one correctly-
# rounded IEEE op. Decimal(28,12) sums (the previous device) were
# partitioning-independent but NOT cross-engine portable: DuckDB rounds
# double->decimal half-way values differently than Java BigDecimal
# (measured: 6 of 192k embedding components disagree). Quantization
# error vs the true mean is < 2^-21 per component — noise relative to
# k-means convergence tolerance.
QMEAN_SCALE = float(1 << 20)


def quantized_mean(val) -> "F.Column":
    """Aggregate expression: quantized component mean of ``val`` (see
    QMEAN_SCALE note). Use inside groupBy().agg()."""
    q = F.floor(val.cast("double") * F.lit(QMEAN_SCALE) + F.lit(0.5)).cast("long")
    return F.sum(q).cast("double") / (F.lit(QMEAN_SCALE) * F.count("*"))


def duck_quantized_mean(val: str) -> str:
    """DuckDB mirror of :func:`quantized_mean` (aggregate expression)."""
    return (
        f"CAST(SUM(CAST(floor(CAST({val} AS DOUBLE) * {QMEAN_SCALE!r} + 0.5) "
        f"AS BIGINT)) AS DOUBLE) / ({QMEAN_SCALE!r} * COUNT(*))"
    )


def initial_centroids(
    emb: DataFrame, k: int = K_CLUSTERS, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(cid, cvec): the k smallest-id vectors as deterministic seeds."""
    return (
        emb.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        .orderBy("cid")
        .limit(k)
    )


def assign_clusters(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cluster_id, sqdist): nearest centroid per vector.

    Broadcast nested-loop join (centroids are k rows by contract); ties
    break toward the smallest centroid id so assignment is total-order
    deterministic.
    """
    cand = (
        emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
        .crossJoin(F.broadcast(centroids))
        .withColumn("sqdist", F.expr(sqdist_sql("v", "cvec")))
    )
    w = Window.partitionBy("vec_id").orderBy("sqdist", "cid")
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("vec_id", F.col("cid").alias("cluster_id"), "sqdist")
    )


def lloyd_recompute(
    emb: DataFrame,
    assignment: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cluster_id, pos, centroid_val, n_members): one Lloyd step's new
    centroids with order-pinned member folds (engine-exact doubles)."""
    joined = emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
    ).join(assignment.select("vec_id", "cluster_id"), "vec_id")
    exploded = joined.select(
        "cluster_id", "vec_id", F.posexplode("v").alias("pos", "val")
    ).select("cluster_id", "vec_id", "pos", F.col("val").cast("double").alias("val"))
    grouped = exploded.groupBy("cluster_id", "pos").agg(
        F.count("*").alias("n_members"),
        F.sort_array(F.collect_list(F.struct("vec_id", "val"))).alias("pairs"),
    )
    return grouped.select(
        "cluster_id",
        F.col("pos").cast("int").alias("pos"),
        (
            F.expr(
                "aggregate(transform(pairs, p -> p.val), "
                "CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
            )
            / F.col("n_members")
        ).alias("centroid_val"),
        "n_members",
    )


def kmeans_iterate(
    emb: DataFrame,
    k: int = K_CLUSTERS,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    return_centroids: bool = False,
) -> DataFrame:
    """Full Lloyd iterations (fixed count) — the production path.

    Each round: broadcast current centroids, map-side assignment, one
    groupBy recompute using the QUANTIZED component mean (see
    QMEAN_SCALE: exact int64 sums — partitioning-independent AND
    cross-engine portable at the same shuffle cost as a plain avg,
    without the order-pinned fold's collect_list memory). Centroids come
    back to the driver between rounds (k x dim doubles — tiny), exactly
    like MLlib's implementation. Returns the final (vec_id, cluster_id,
    sqdist) assignment — since round 6 oracle-exact (the DuckDB mirror
    replays all iterations; queries/clustering.py).
    """
    spark = emb.sparkSession
    cent = initial_centroids(emb, k, id_col, vec_col)
    cent_rows = [(r["cid"], r["cvec"]) for r in cent.collect()]
    for _ in range(n_iter):
        cent_df = spark.createDataFrame(cent_rows, "cid BIGINT, cvec ARRAY<FLOAT>")
        assign = assign_clusters(emb, cent_df, id_col, vec_col)
        new = (
            emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
            .join(assign.select("vec_id", "cluster_id"), "vec_id")
            .select("cluster_id", F.posexplode("v").alias("pos", "val"))
            .groupBy("cluster_id", "pos")
            .agg(quantized_mean(F.col("val")).alias("m"))
            .groupBy("cluster_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "cluster_id",
                F.expr("transform(pm, x -> CAST(x.m AS FLOAT))").alias("cvec"),
            )
        )
        cent_rows = [(r["cluster_id"], r["cvec"]) for r in new.collect()]
    cent_df = spark.createDataFrame(cent_rows, "cid BIGINT, cvec ARRAY<FLOAT>")
    assignment = assign_clusters(emb, cent_df, id_col, vec_col)
    if return_centroids:
        return assignment, cent_df
    return assignment


# =========================================================================
# SemDeDup — cluster-scoped semantic deduplication (Abbas et al. 2023,
# arXiv:2303.09540). Complements the LSH copy-dedup path
# (similarity.cosine_dedup_pairs): LSH banding targets the near-1.0
# cosine band (copies / near-copies); SemDeDup targets the SEMANTIC band
# (paraphrases, re-crawls, boilerplate variants) at much lower
# thresholds, where hyperplane-LSH keep probability collapses. The
# blocking structure is the k-means partition itself: pairwise cosines
# are computed only WITHIN a cluster, exactly as the paper prescribes,
# so cost is sum_c |c|^2, bounded by choosing k ~ n / target_cluster.
# =========================================================================

SEMDEDUP_THRESHOLD = 0.4
# At 100 TB, k scales with the corpus (paper: 50k-100k clusters for
# billions of docs) so |cluster| ~ TARGET stays flat; the loud guard
# below fires when a fixed k meets a grown corpus.
SEMDEDUP_TARGET_CLUSTER = 4_096
SEMDEDUP_MAX_CLUSTER = 20_000


def _semdedup_members(
    emb: DataFrame,
    k: int | None,
    id_col: str,
    vec_col: str,
    collapse_identical: bool,
    n_iter: int = 0,
):
    """Shared SemDeDup front end: norm-filtered base, deterministic seed
    centroids (k smallest-id nonzero vectors, WITH their norms), the
    identical-vector collapse, and the rep-level cluster assignment.

    ``n_iter > 0`` trains the centroids with that many Lloyd rounds over
    the reps first (quantized-mean recompute — deterministic), which is
    what balances cluster sizes on clustered real-world corpora; the
    registered conformance queries stay at n_iter=0 (seed assignment,
    the oracle-mirrored form).

    Returns (base, cent, reps, mem_ids, members, n_reps); ``mem_ids`` is
    None when the collapse is off. ``members`` — (id, cluster_id) for
    every rep — is cached via the graph module's build-cache registry
    (consumed by the size guard, the broadcast decision, and two lazy
    plan references; released at the next public ANN/dedup build).
    """
    from .graph import _track_ann_cache, release_ann_caches
    from .similarity import norm_sql

    release_ann_caches()
    base = (
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("nrm", F.expr(norm_sql("v")))
        # zero-norm vectors: cosine undefined, engines disagree on 0/0
        .filter(F.col("nrm") > 0)
        # localCheckpoint (round 12): base feeds the identical-collapse
        # window, the seed/centroid branch, the assignment join and —
        # through reps — half a dozen verify join-backs; without
        # truncation every reference re-executes the scan (and its
        # fan-out exchange) and re-plans the upstream tree. Same
        # "upstream runs ONCE" posture as the graph operators.
        # eager=False (ADVICE r12): merely CONSTRUCTING the frame
        # (explain/plan-capture/schema-only paths) must not execute the
        # upstream scan; the first consuming job materializes it once
        # with the same truncation benefit.
        .localCheckpoint(eager=False)
    )
    if collapse_identical:
        reps, mem_ids = collapse_to_reps(base, "v")
        _track_ann_cache(mem_ids)
    else:
        mem_ids = None
        reps = base
    if k is None:
        n_base = base.count()
        k = max(K_CLUSTERS, -(-n_base // SEMDEDUP_TARGET_CLUSTER))
    if n_iter > 0:
        from .similarity import norm_sql

        _, cent_df = kmeans_iterate(
            reps, k, n_iter, id_col="id", vec_col="v", return_centroids=True
        )
        cent = cent_df.select(
            "cid",
            "cvec",
            F.expr(norm_sql("cvec")).alias("cnrm"),
        )
    else:
        cent = (
            base.orderBy("id")
            .limit(k)
            .select(
                F.col("id").alias("cid"),
                F.col("v").alias("cvec"),
                F.col("nrm").alias("cnrm"),
            )
        )
    assign = assign_clusters(
        reps, cent.select("cid", "cvec"), id_col="id", vec_col="v"
    )
    members = _track_ann_cache(
        assign.select(F.col("vec_id").alias("id"), "cluster_id").cache()
    )
    n_reps = members.count()
    return base, cent, reps, mem_ids, members, n_reps


def semdedup_pairs(
    emb: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    k: int | None = K_CLUSTERS,
    *,
    max_cluster: int | None = SEMDEDUP_MAX_CLUSTER,
    collapse_identical: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iter: int = 0,
) -> DataFrame:
    """(cluster_id, id_a, id_b, cos_sim): within-cluster semantic-
    duplicate pairs (id_a < id_b, cos_sim >= threshold).

    Scale shape (the round-6 lessons, applied from day one):

    * Candidates are the SKINNY within-cluster self-join — (cluster_id,
      id) rows only; embeddings join back BY ID afterwards (broadcast
      under the pairs.join_back size bound), so float arrays never ride the
      cluster-join shuffle.
    * ``collapse_identical`` (default on): bit-identical vectors collapse
      to a min-id rep BEFORE the quadratic join — a 100x-replicated
      corpus pays the pair join on DISTINCT vectors (members inherit the
      rep's cluster: assignment is a pure function of v). Intra-group
      pairs carry the rep's self-cosine, cross-group pairs the rep-pair
      cosine — the same doubles the naive path computes, so output is
      identical (the cosine_dedup_pairs device, similarity.py:272).
    * ``max_cluster`` guard: sum_c |c|^2 is the operator's inherent cost,
      bounded by k; a cluster over the cap raises loudly with the
      prescription (k ~ n / SEMDEDUP_TARGET_CLUSTER; pass k=None to
      auto-derive) instead of silently running a quadratic join.
    """
    front = _semdedup_members(
        emb, k, id_col, vec_col, collapse_identical, n_iter=n_iter
    )
    return _semdedup_pairs_body(front, threshold, max_cluster)


def _cluster_local_candidate_pairs(
    mv: DataFrame, select_threshold: float, block: int = 512
) -> DataFrame:
    """(cluster_id, id_a, id_b): within-cluster pairs whose numpy cosine
    clears ``select_threshold`` — the at-scale SemDeDup candidate pass.

    One shuffle (vectors keyed by cluster_id — the guarded max_cluster
    bound keeps any one group's matrix small), then a blocked dense
    U @ U.T per cluster so peak memory is block x |cluster| doubles
    (512 x 20k x 8B = 82 MB at the guard limit), never |cluster|^2.
    Non-qualifying pairs never leave the numpy batch.
    """
    import numpy as np
    import pandas as pd

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        empty = pd.DataFrame(
            {
                "cluster_id": pd.Series(dtype="int64"),
                "id_a": pd.Series(dtype="int64"),
                "id_b": pd.Series(dtype="int64"),
            }
        )
        if m < 2:
            return empty
        cid = int(pdf["cluster_id"].iloc[0])
        ids = pdf["id"].to_numpy(np.int64)
        order = np.argsort(ids, kind="mergesort")
        ids = ids[order]
        U = np.stack(pdf["v"].to_numpy())[order].astype(np.float64)
        U /= pdf["nrm"].to_numpy(np.float64)[order][:, None]
        outs_a, outs_b = [], []
        for s in range(0, m, block):
            e = min(s + block, m)
            G = U[s:e] @ U.T  # (e-s) x m
            # upper triangle only: global column index > global row index
            rows, cols = np.nonzero(G >= select_threshold)
            keep = cols > (rows + s)
            if keep.any():
                outs_a.append(ids[rows[keep] + s])
                outs_b.append(ids[cols[keep]])
        if not outs_a:
            return empty
        a = np.concatenate(outs_a)
        b = np.concatenate(outs_b)
        return pd.DataFrame(
            {"cluster_id": np.full(len(a), cid, np.int64), "id_a": a, "id_b": b}
        )

    return mv.groupBy("cluster_id").applyInPandas(
        fn, schema="cluster_id long, id_a long, id_b long"
    )


def _guard_cluster_size(members: DataFrame, max_cluster: int | None) -> None:
    if max_cluster is None:
        return
    big = (
        members.groupBy("cluster_id")
        .count()
        .filter(F.col("count") > max_cluster)
        .limit(1)
        .collect()
    )
    if big:
        raise ValueError(
            f"semdedup: cluster {big[0]['cluster_id']} has "
            f"{big[0]['count']} members (> max_cluster={max_cluster}); "
            "the within-cluster work would be quadratic in it. "
            "Raise k (SemDeDup: k ~ n / target cluster size; pass "
            "k=None to auto-derive) or raise max_cluster explicitly."
        )


def _semdedup_pairs_body(
    front, threshold: float, max_cluster: int | None
) -> DataFrame:
    """Pair build over an already-constructed front end (so semdedup_keep
    can share one front end — and one build-cache generation — between
    the pair plan and the centroid-cosine plan)."""
    base, cent, reps, mem_ids, members, n_reps = front
    collapse_identical = mem_ids is not None
    _guard_cluster_size(members, max_cluster)
    from .graph import SCORING_FOLD_MAX_N

    if n_reps <= SCORING_FOLD_MAX_N:
        # Conformance scale: skinny within-cluster all-pairs, every
        # cosine from the JVM fold (bit-portable with the DuckDB mirror).
        a = members.select("cluster_id", F.col("id").alias("id_a"))
        b = members.select("cluster_id", F.col("id").alias("id_b"))
        cand = a.join(b, "cluster_id").filter(F.col("id_a") < F.col("id_b"))
    else:
        # At scale the candidate matrix per cluster is dense numpy
        # (blocked U @ U.T — the round-6 bucket-local lesson: interpreted
        # zip_with folds over hundreds of millions of candidate pairs are
        # the wall). numpy only SELECTS pairs, at threshold minus a slack
        # far above the fold-vs-matmul summation discrepancy; the exact
        # fold below re-scores and re-filters, so output doubles are
        # bit-identical to the fold path at every scale.
        mv = (
            members.alias("mm")
            .join(reps.alias("rr"), F.col("mm.id") == F.col("rr.id"))
            .select(
                F.col("mm.cluster_id").alias("cluster_id"),
                F.col("rr.id").alias("id"),
                F.col("rr.v").alias("v"),
                F.col("rr.nrm").alias("nrm"),
            )
        )
        cand = _cluster_local_candidate_pairs(mv, threshold - 1e-6)
    rep_pairs = cosine_verify(
        cand, reps, n_reps, keep=("cluster_id",), threshold=threshold
    )
    if not collapse_identical:
        return rep_pairs
    # Member pairs of an identical-vector group carry the rep's
    # self-cosine and the rep's cluster.
    intra, cross = expand_members(
        rep_pairs,
        mem_ids,
        "cos_sim",
        rep_joins=(
            self_cosine(reps, threshold),
            members.select(F.col("id").alias("rep_id"), "cluster_id"),
        ),
        keep=("cluster_id",),
    )
    return intra.unionByName(cross)


def _cluster_local_keep_witness(
    mvk: DataFrame, threshold: float, block: int = 512
) -> DataFrame:
    """Per-cluster witness scan for the keep decision (no pair output).

    Input rows: (cluster_id, id, v, nrm, ccos, mmin) — one per REP, with
    the JVM-fold centroid cosine and the rep's minimum member id (the
    member-level tie-break key). Emits, per rep, one summary row
    (other = -1, certain = 1 iff some partner with numpy cosine
    >= threshold + slack dominates it) plus one row per UNCERTAIN
    dominating partner (cosine within +-slack of the threshold, to be
    re-scored exactly by the caller). Domination compares the exact JVM
    doubles (ccos) and integer ids, so the only approximation is the
    cosine-vs-threshold test — confined to the slack band.
    """
    import numpy as np
    import pandas as pd

    thr_hi = threshold + 1e-6
    thr_lo = threshold - 1e-6

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        empty = pd.DataFrame(
            {
                "id": pd.Series(dtype="int64"),
                "other": pd.Series(dtype="int64"),
                "certain": pd.Series(dtype="int32"),
            }
        )
        if m == 0:
            return empty
        order = np.argsort(pdf["id"].to_numpy(np.int64), kind="mergesort")
        ids = pdf["id"].to_numpy(np.int64)[order]
        U = np.stack(pdf["v"].to_numpy())[order].astype(np.float64)
        U /= pdf["nrm"].to_numpy(np.float64)[order][:, None]
        c = pdf["ccos"].to_numpy(np.float64)[order]
        mm = pdf["mmin"].to_numpy(np.int64)[order]
        certain = np.zeros(m, np.int32)
        unc_i, unc_j = [], []
        for s in range(0, m, block):
            e = min(s + block, m)
            G = U[s:e] @ U.T
            # j dominates row r=(s+i) iff c[j] < c[r], or tie broken by
            # the smaller min-member id
            dom = (c[None, :] < c[s:e, None]) | (
                (c[None, :] == c[s:e, None]) & (mm[None, :] < mm[s:e, None])
            )
            hit = (G >= thr_hi) & dom
            certain[s:e] |= hit.any(axis=1).astype(np.int32)
            band = (G >= thr_lo) & (G < thr_hi) & dom
            rows, cols = np.nonzero(band)
            if len(rows):
                unc_i.append(ids[rows + s])
                unc_j.append(ids[cols])
        out = pd.DataFrame(
            {
                "id": ids,
                "other": np.full(m, -1, np.int64),
                "certain": certain,
            }
        )
        if unc_i:
            out = pd.concat(
                [
                    out,
                    pd.DataFrame(
                        {
                            "id": np.concatenate(unc_i),
                            "other": np.concatenate(unc_j),
                            "certain": np.zeros(
                                sum(len(a) for a in unc_i), np.int32
                            ),
                        }
                    ),
                ],
                ignore_index=True,
            )
        return out

    return mvk.groupBy("cluster_id").applyInPandas(
        fn, schema="id long, other long, certain int"
    )


def _semdedup_pruned_scale(
    front, rep_ccos: DataFrame, threshold: float, max_cluster: int | None
) -> DataFrame:
    """(vec_id, __pruned=1) rows via the witness scan — output-linear.

    Exactness argument (vs the pairs-based fold spelling):
      * the domination predicate uses the identical JVM-fold centroid
        cosines and integer tie-break ids the fold path uses;
      * the cosine-vs-threshold test is numpy only OUTSIDE the +-1e-6
        slack band (orders of magnitude wider than the fold-vs-matmul
        summation discrepancy); inside the band every dominating pair
        is re-scored by the exact JVM fold before counting;
      * member-level expansion: every non-minimum member of an
        identical-vector group is dominated by the group minimum
        (equal vector => equal centroid cosine, smaller id; the
        group's self-cosine is 1 up to one ulp, and the threshold gate
        below rejects thresholds within 1e-6 of 1 where that ulp could
        flip the qualification), and the minimum member is pruned iff
        its REP has a dominating partner with the min-member tie-break
        — which is precisely what the witness scan computes.
    Pinned bit-identical to the fold path by tests/test_semdedup.py.
    """
    base, cent, reps, mem_ids, members, n_reps = front
    _guard_cluster_size(members, max_cluster)
    if threshold >= 1 - 1e-6:
        raise ValueError(
            "semdedup_keep scale path requires threshold < 1 - 1e-6 "
            "(the intra-group self-cosine qualification is only "
            "ulp-safe below that); use k large enough to stay under "
            "the fold gate for near-1 thresholds"
        )
    if mem_ids is not None:
        mmin = mem_ids.groupBy("rep_id").agg(F.min("id").alias("mmin"))
    else:
        mmin = reps.select(F.col("id").alias("rep_id"), F.col("id").alias("mmin"))
    mvk = (
        members.alias("mm")
        .join(reps.alias("rr"), F.col("mm.id") == F.col("rr.id"))
        .join(rep_ccos.select("rep_id", "centroid_cos"),
              F.col("mm.id") == F.col("rep_id"))
        .join(mmin.withColumnRenamed("rep_id", "rep_id2"),
              F.col("mm.id") == F.col("rep_id2"))
        .select(
            F.col("mm.cluster_id").alias("cluster_id"),
            F.col("rr.id").alias("id"),
            F.col("rr.v").alias("v"),
            F.col("rr.nrm").alias("nrm"),
            F.col("centroid_cos").alias("ccos"),
            F.col("mmin").alias("mmin"),
        )
    )
    ker = _cluster_local_keep_witness(mvk, threshold)
    ker = ker.localCheckpoint(eager=True)
    certain = ker.filter(
        (F.col("other") == -1) & (F.col("certain") == 1)
    ).select(F.col("id").alias("rep_id"))
    unc = ker.filter(F.col("other") >= 0).select("id", "other")
    confirmed = cosine_verify(
        unc, reps, ids=("id", "other"), threshold=threshold
    ).select(F.col("id").alias("rep_id"))
    rep_pruned = certain.unionByName(confirmed).distinct()
    if mem_ids is not None:
        mem = mem_ids.select("rep_id", "id")
    else:
        mem = reps.select(F.col("id").alias("rep_id"), "id")
    flagged = (
        mem.join(mmin, "rep_id")
        .join(rep_pruned.withColumn("__rp", F.lit(1)), "rep_id", "left")
        .filter((F.col("id") != F.col("mmin")) | (F.col("__rp") == 1))
        .select(F.col("id").alias("vec_id"))
        .withColumn("__pruned", F.lit(1))
    )
    return flagged


def semdedup_keep(
    emb: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    k: int | None = K_CLUSTERS,
    *,
    max_cluster: int | None = SEMDEDUP_MAX_CLUSTER,
    collapse_identical: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iter: int = 0,
) -> DataFrame:
    """(vec_id, cluster_id, centroid_cos, kept): the SemDeDup keep
    decision for every nonzero-norm vector.

    Paper policy: within each semantic-duplicate group keep the member
    with the LOWEST cosine to its cluster centroid (the most "novel"
    exemplar). Spelled as pairwise domination so it is exactly SQL-
    mirrorable without a transitive closure: v is pruned iff some
    partner u with cos(v, u) >= threshold has strictly lower
    centroid_cos (ties break toward the smaller id). For a clique of
    duplicates this keeps exactly the argmin-centroid_cos member — the
    paper's rule; for chains it is the conservative superset (every
    pruned doc has a surviving near-duplicate witness).

    centroid_cos is computed ONCE PER DISTINCT VECTOR (reps), members
    inherit it (equal v => equal cosine); the corpus never shuffles —
    the only join keys are ids and the k-row broadcast centroid table.
    """
    front = _semdedup_members(
        emb, k, id_col, vec_col, collapse_identical, n_iter=n_iter
    )
    base, cent, reps, mem_ids, members, n_reps = front
    rep_ccos = (
        reps.join(members.withColumnRenamed("id", "rid"),
                  F.col("id") == F.col("rid"))
        .join(F.broadcast(cent), F.col("cluster_id") == F.col("cid"))
        .select(
            F.col("id").alias("rep_id"),
            "cluster_id",
            cosine_sql("v", "cvec", "nrm", "cnrm").alias("centroid_cos"),
        )
    )
    if collapse_identical:
        ccos = mem_ids.join(rep_ccos, "rep_id").select(
            F.col("id").alias("vec_id"), "cluster_id", "centroid_cos"
        )
    else:
        ccos = rep_ccos.select(
            F.col("rep_id").alias("vec_id"), "cluster_id", "centroid_cos"
        )
    from .graph import SCORING_FOLD_MAX_N

    if n_reps <= SCORING_FOLD_MAX_N:
        # Conformance scale: the pairs-based spelling, exactly the
        # DuckDB oracle's shape (member-level pairs -> domination).
        pairs = _semdedup_pairs_body(front, threshold, max_cluster)
        sym = pairs.select(
            F.col("id_a").alias("vid"), F.col("id_b").alias("other")
        ).unionByName(
            pairs.select(F.col("id_b").alias("vid"), F.col("id_a").alias("other"))
        )
        cx = ccos.select(
            F.col("vec_id").alias("vid"), F.col("centroid_cos").alias("c_v")
        )
        co = ccos.select(
            F.col("vec_id").alias("other"), F.col("centroid_cos").alias("c_o")
        )
        pruned = (
            sym.join(cx, "vid")
            .join(co, "other")
            .filter(
                (F.col("c_o") < F.col("c_v"))
                | ((F.col("c_o") == F.col("c_v")) & (F.col("other") < F.col("vid")))
            )
            .select(F.col("vid").alias("vec_id"))
            .distinct()
            .withColumn("__pruned", F.lit(1))
        )
    else:
        # At scale the pair set is the wall, not the plan: the probe
        # corpus (200k Gaussian, k=n/4096, threshold 0.4) qualifies
        # ~0.5B pairs — but the KEEP decision only needs, per vector,
        # the EXISTENCE of a dominating partner. The witness scan
        # computes that existence cluster-locally in numpy without ever
        # materializing qualifying pairs; output is one row per rep.
        pruned = _semdedup_pruned_scale(front, rep_ccos, threshold, max_cluster)
    return ccos.join(pruned, "vec_id", "left").select(
        "vec_id",
        "cluster_id",
        "centroid_cos",
        F.when(F.col("__pruned").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("kept"),
    )
