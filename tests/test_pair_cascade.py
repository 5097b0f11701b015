"""Semantic pins of the shared candidate-pair cascade
(operators/pairs.py) and of the PageRank size switches, in the default
test tier: each optimization (collapse identical inputs to a
representative, bounded bucket caps, bucket-local scoring, incremental
probes, the one-task PageRank) must leave the output — every pair and
every double — exactly as the plain build computes it. Two cosine-dedup
pins that take over 20 s (default caps vs the naive build, bucket vs
fold scoring) stay in the slow-tier tests/test_similarity.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from event_data_etl_gcs_spark.operators.clustering import semdedup_pairs
from event_data_etl_gcs_spark.operators.dedup import (
    containment_incremental_pairs,
    containment_pairs,
    minhash_incremental_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
)
from event_data_etl_gcs_spark.operators.graph import pagerank_quantized
from event_data_etl_gcs_spark.operators.similarity import cosine_dedup_pairs
from event_data_etl_gcs_spark.queries.graph import _edges
from event_data_etl_gcs_spark.sources.catalog import load_table

from .conftest import SF_SMOKE as SF


def _pairs(df):
    return sorted((r["id_a"], r["id_b"], r["cos_sim"]) for r in df.collect())


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


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


# --- cosine_dedup_pairs (similarity.py) -------------------------------------

def test_collapse_is_pure_rewrite_on_duplicates(spark):
    """On a corpus with exact-duplicate vectors, collapse-identical-first
    must reproduce the naive pair set exactly: intra-group pairs carry
    the self-cosine double, cross-group pairs the rep-pair double."""
    dup = _dup_corpus(spark)
    got = _pairs(
        cosine_dedup_pairs(
            dup, threshold=0.5, max_bucket=None, ring_cap=None,
            collapse_identical=True,
        )
    )
    want = _pairs(
        cosine_dedup_pairs(
            dup, threshold=0.5, max_bucket=None, ring_cap=None,
            collapse_identical=False,
        )
    )
    assert got == want and len(got) > 0


# --- SemDeDup (clustering.py) -----------------------------------------------


def test_collapse_identical_is_plan_only_on_distinct_corpus(spark):
    emb = load_table(spark, SF, "embeddings")
    on = semdedup_pairs(emb, collapse_identical=True)
    off = semdedup_pairs(emb, collapse_identical=False)
    cols = ["cluster_id", "id_a", "id_b", "cos_sim"]
    assert _rows(on, cols) == _rows(off, cols)


def test_collapse_expansion_on_planted_replicas(spark):
    """100 replicas of each of 3 base vectors: the pair join must run on
    3 distinct vectors but the output must equal the naive all-member
    result — intra-group pairs carry the self-cosine, cross-group pairs
    the rep-pair cosine."""
    base = load_table(spark, SF, "embeddings").orderBy("vec_id").limit(3)
    planted = (
        base.crossJoin(spark.range(100).select(F.col("id").alias("rep")))
        .select(
            (F.col("vec_id") * 1000 + F.col("rep")).alias("vec_id"),
            "embedding",
        )
    )
    cols = ["cluster_id", "id_a", "id_b", "cos_sim"]
    on = semdedup_pairs(planted, threshold=0.2, k=2)
    off = semdedup_pairs(planted, threshold=0.2, k=2, collapse_identical=False)
    got, want = _rows(on, cols), _rows(off, cols)
    assert got == want
    # every replica group contributes its C(100,2) intra pairs
    assert len(got) >= 3 * (100 * 99) // 2


# --- MinHash and containment (dedup.py) -------------------------------------


def test_incremental_minhash_matches_full_rebuild(spark, tmp_path):
    """Persisted-signature incremental indexing: write the existing
    corpus' signature table to parquet, reload it, check a new batch
    against it — the incremental pairs must equal the from-scratch
    full-corpus pairs restricted to pairs touching a new doc, and
    appending new_sig must leave the table ready for the next batch."""
    docs = load_table(spark, SF, "documents")
    existing = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)

    sig_path = str(tmp_path / "sig_table")
    minhash_signatures(existing).filter(F.expr("size(sh_hashes) > 0")).write.parquet(sig_path)
    persisted = spark.read.parquet(sig_path)

    inc_pairs, new_sig = minhash_incremental_pairs(new, persisted, threshold=0.5)
    got = {(r.id_a, r.id_b): r.jaccard for r in inc_pairs.collect()}

    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
        if r.id_a % 5 == 0 or r.id_b % 5 == 0
    }
    assert got == full

    # append contract: table now covers the whole corpus
    new_sig.write.mode("append").parquet(sig_path)
    appended = spark.read.parquet(sig_path)
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    no_shingle = all_ids - {r.id for r in appended.select("id").collect()}
    # only docs with no shingles (< 3 tokens) may be absent
    expected_absent = {
        r.id
        for r in minhash_signatures(docs).filter(F.expr("size(sh_hashes) = 0")).select("id").collect()
    }
    assert no_shingle == expected_absent


def test_containment_collapse_identical_is_plan_only(spark):
    """collapse_identical must not change the output on a corpus heavy
    with exact duplicates (within-group pairs at exactly 1.0, cross
    pairs inheriting the rep division verbatim)."""
    base = [
        (0, "a b c d e f g"),
        (1, "a b c d e f g"),      # exact dup of 0
        (2, "a b c d e f g"),      # exact dup of 0
        (3, "a b c d e f zzz yyy xxx"),  # contains most of 0
        (4, "q w e r t y u"),
        (5, "u y t r e w q"),      # same tokens, different shingles
    ]
    df = spark.createDataFrame(base, "doc_id long, text string")

    def rows(collapse):
        return sorted(
            (r["id_a"], r["id_b"], r["containment"])
            for r in containment_pairs(
                df, collapse_identical=collapse
            ).collect()
        )

    on, off = rows(True), rows(False)
    assert on == off and len(on) >= 8  # 3-dup group alone yields 6 pairs


def test_containment_incremental_union_equals_batch(spark):
    """Union of incremental containment emissions over ANY batch split
    equals the full-corpus build — exactness holds with frozen
    at-arrival prefixes (prefix filtering is correct for any
    valid-size subset, so the probe prefix never needs recomputing as
    the corpus grows)."""
    docs = load_table(spark, SF, "documents")
    want = sorted(
        (r["id_a"], r["id_b"], r["containment"])
        for r in containment_pairs(docs).collect()
    )
    assert want

    sets = spark.createDataFrame([], "id LONG, s ARRAY<BIGINT>")
    prefix = spark.createDataFrame([], "id LONG, h BIGINT")
    got = []
    for m in range(3):
        batch = docs.filter(F.col("doc_id") % 3 == m)
        pairs, new_sets, new_prefix = containment_incremental_pairs(
            batch, sets, prefix
        )
        got.extend(
            (r["id_a"], r["id_b"], r["containment"]) for r in pairs.collect()
        )
        # the caller's state append, materialized (in the streaming
        # loop these are parquet appends)
        sets = sets.unionByName(new_sets).localCheckpoint(eager=True)
        prefix = prefix.unionByName(new_prefix).localCheckpoint(eager=True)

    assert sorted(got) == want
    assert len(got) == len(set(got)), "each ordered pair emitted once"


# --- PageRank size switches (graph.py) --------------------------------------


def test_pagerank_quantized_local_parity(spark):
    """The one-task numpy iteration (PR_LOCAL_MAX_NODES small-graph
    strategy) must be BIT-IDENTICAL to the distributed shuffle
    loop — same integer floor arithmetic, different physical plan. Also
    pins that an odd iteration count and iterations=0 agree (the final
    eager checkpoint and the init path)."""
    edges = _edges(spark, SF).select("u", "v").localCheckpoint(eager=True)
    for iters in (0, 3, 10):
        local = {
            r["node"]: (r["pr_scaled"], r["pagerank"])
            for r in pagerank_quantized(
                edges, iterations=iters, local_max_nodes=10**9
            ).collect()
        }
        dist = {
            r["node"]: (r["pr_scaled"], r["pagerank"])
            for r in pagerank_quantized(
                edges, iterations=iters, local_max_nodes=0
            ).collect()
        }
        assert local == dist, f"iterations={iters}"


def test_pagerank_dense_graph_over_edge_bound_runs_distributed(spark, monkeypatch):
    """The one-task path is guarded on edges as well as nodes: a small
    but dense graph (few nodes, many edges) over PR_LOCAL_MAX_EDGES takes
    the distributed loop — with the same pr_scaled as the one-task
    path."""
    from event_data_etl_gcs_spark.operators import graph

    calls = []
    local = graph._pagerank_quantized_local

    def spy(*args):
        calls.append(args[1])
        return local(*args)

    monkeypatch.setattr(graph, "_pagerank_quantized_local", spy)
    # K_24: 24 nodes (far under the node bound), 552 directed edges
    k = [(a, b) for a in range(24) for b in range(a + 1, 24)]
    k += [(a, 100 + a) for a in range(5)]  # pendants break the symmetry
    edges = spark.createDataFrame(k, "u long, v long")

    def ranks():
        return {
            r["node"]: r["pr_scaled"]
            for r in pagerank_quantized(edges, iterations=4).collect()
        }

    one_task = ranks()
    assert calls == [29]
    monkeypatch.setattr(graph, "PR_LOCAL_MAX_EDGES", 100)
    assert ranks() == one_task
    assert calls == [29], "over the edge bound the one-task path must not run"
