"""Deduplication operators (SURVEY.md Phase 4 north star): exact,
MinHash+LSH, SimHash, n-gram Jaccard.

Spark-first design:
  * Exact dedup = hash groupBy (one shuffle on the content key, map-side
    partial aggregation).
  * MinHash signatures and SimHash are map-only column expressions over
    the portable polynomial hashes in operators.text. Each signature is
    built as ONE let-bound expression (see text.let_sql) so Catalyst's
    projection collapse cannot re-evaluate the hash chain per consumer,
    and the signature frame is cached as the materialization barrier
    before its two consumers (band join + Jaccard verify). At cluster
    scale the same barrier is a persisted signature table.
  * LSH candidate generation = self-equi-join on (band_id, band_key):
    Catalyst plans a shuffle/broadcast hash join on the band key — exactly
    the "bucket join" an LSH index does at scale; band keys spread
    uniformly so skew is bounded. The quadratic step never touches the
    full corpus.
  * Verification (exact Jaccard on shingle-hash sets) joins the arrays
    back by doc id for candidate pairs only, instead of shipping the
    arrays through the 4x-exploded band shuffle.

All integer arithmetic -> every operator has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pairs import band_join, collapse_to_reps, expand_members, join_back
from .text import (
    HASH_P,
    duck_let,
    duck_shingle_hash_set,
    duck_token_hashes,
    duck_tokens,
    let_sql,
    shingle_hash_set_sql,
    token_hashes_sql,
    tokens_sql,
)

# Fixed MinHash parameters: h_j(x) = (A[j] * x + B[j]) mod HASH_P.
# Constants are arbitrary odd numbers < HASH_P, pinned for reproducibility.
MINHASH_A = (452930477, 949121103, 260933191, 577932821, 383339053, 823987307, 144066163, 674525495)
MINHASH_B = (83173903, 274582805, 592314181, 430183029, 721549031, 131159933, 936523877, 357151253)
N_HASHES = 8
N_BANDS = 4  # 2 rows per band -> candidate if any band matches
ROWS_PER_BAND = N_HASHES // N_BANDS


def _minhash_params_array_sql() -> str:
    structs = ", ".join(
        f"named_struct('a', {a}L, 'b', {b}L)" for a, b in zip(MINHASH_A, MINHASH_B)
    )
    return f"array({structs})"


def minhash_signature_struct_sql(text_col: str) -> str:
    """ONE Spark expression producing struct(sh_hashes, mhs):
    distinct shingle hashes + the N_HASHES MinHash values. Empty shingle
    set -> sentinel HASH_P (never collides with a real hash)."""
    mhs = (
        f"transform({_minhash_params_array_sql()}, p -> "
        f"CASE WHEN size(sh) = 0 THEN {HASH_P}L ELSE "
        f"array_min(transform(sh, h -> (h * p.a + p.b) % {HASH_P})) END)"
    )
    return let_sql(
        shingle_hash_set_sql(text_col),
        "sh",
        f"named_struct('sh_hashes', sh, 'mhs', {mhs})",
    )


def duck_minhash_signature_cols() -> str:
    """DuckDB: mh_0..mh_{N-1} select-list items from an `sh_hashes` column."""
    items = []
    for j, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B)):
        items.append(
            f"CASE WHEN len(sh_hashes) = 0 THEN CAST({HASH_P} AS BIGINT) ELSE "
            f"list_min(list_transform(sh_hashes, h -> (h * {a} + {b}) % {HASH_P})) END"
            f" AS mh_{j}"
        )
    return ", ".join(items)


def minhash_signatures(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, sh_hashes, mhs) — cached: this is the materialization barrier
    both LSH banding and Jaccard verification read from."""
    spark = df.sparkSession
    nparts = spark.sparkContext.defaultParallelism
    sig = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
        # spread the CPU-heavy hashing across all cores even when the
        # input is one small parquet file
        .repartition(nparts)
        .select("id", F.expr(minhash_signature_struct_sql("text")).alias("sig"))
        .select("id", F.col("sig.sh_hashes").alias("sh_hashes"), F.col("sig.mhs").alias("mhs"))
    )
    # Tracked in the shared build-cache registry (ADVICE r6): sessions
    # running many dedup builds — or the streaming corpus-ingest loop —
    # previously accumulated one signature cache per call for the
    # session lifetime. release_ann_caches() bounds that at one build.
    from .graph import _track_ann_cache

    return _track_ann_cache(sig.cache())


def with_minhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds mh_0..mh_{N-1} MinHash signature columns (map-only)."""
    out = df.withColumn("__sig", F.expr(minhash_signature_struct_sql(text_col)))
    for j in range(N_HASHES):
        out = out.withColumn(f"mh_{j}", F.col("__sig.mhs")[j])
    return out.withColumn("sh_hashes", F.col("__sig.sh_hashes")).drop("__sig")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    collapse_identical: bool = True,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact Jaccard verify.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.

    ``collapse_identical`` (default on) runs exact dedup FIRST: identical
    texts are collapsed to a min-id representative, banding + Jaccard
    verification run over distinct texts only, and member pairs are
    expanded back afterwards (intra-group pairs get jaccard 1.0 without
    touching the shingle arrays; cross-group pairs inherit the rep-pair
    jaccard). Without this, a group of c identical documents lands
    c*(c-1)/2 candidate pairs in the verify join and each pair pays the
    full array_intersect — the measured 32x blow-up at 100x replication
    (SCALE_100x.md). With it, the verify cost depends only on the number
    of DISTINCT texts; the group expansion is a cheap integer join. The
    output is identical either way (identical texts share every band, so
    the naive path also emits all intra-group pairs at jaccard 1.0).
    Pass False only when the input is already exact-deduped.
    """
    if not collapse_identical:
        sig = minhash_signatures(df, id_col, text_col).filter(
            # docs with no shingles (<3 tokens) all share the sentinel
            # signature and would cross-collide; they can't be near-dups.
            F.expr("size(sh_hashes) > 0")
        )
        return _lsh_pairs_from_sig(sig, threshold)

    # Exact-dedup-first (pairs.collapse_to_reps). The (id, rep_id)
    # member map stays an untracked cache: it is tiny (two longs a row).
    reps, mem_ids = collapse_to_reps(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")), "text"
    )
    sig = minhash_signatures(reps, "id", "text").filter(
        F.expr("size(sh_hashes) > 0")
    )
    rep_pairs = _lsh_pairs_from_sig(sig, threshold)
    # Intra-group pairs are jaccard 1.0 — but only for groups whose text
    # has shingles (the no-shingle filter must apply to members exactly
    # as it does to reps).
    intra, cross = expand_members(
        rep_pairs,
        mem_ids,
        "jaccard",
        intra_value=F.lit(1.0),
        rep_joins=(sig.select(F.col("id").alias("rep_id")),),
    )
    return intra.unionByName(cross)


def _minhash_bands(sig: DataFrame) -> DataFrame:
    """(id, band_id, k0..) — one row per (doc, band) of a signature frame."""
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            *[F.col("mhs")[b * ROWS_PER_BAND + r].alias(f"k{r}") for r in range(ROWS_PER_BAND)],
        )
        for b in range(N_BANDS)
    ]
    return sig.select("id", F.explode(F.array(*band_structs)).alias("band")).select(
        "id", "band.*"
    )


_BAND_KEYS = ["band_id", *[f"k{r}" for r in range(ROWS_PER_BAND)]]


def _jaccard_verify(cand: DataFrame, sig: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard on the shingle-hash sets, joined back by id for the
    candidate pairs only."""
    jac = (
        join_back(cand, sig, {"sh_hashes": "h"})
        .withColumn("n_int", F.expr("size(array_intersect(ha, hb))"))
        .withColumn("n_uni", F.expr("size(array_union(ha, hb))"))
        .withColumn(
            "jaccard",
            F.when(F.col("n_uni") == 0, F.lit(0.0)).otherwise(
                F.col("n_int").cast("double") / F.col("n_uni")
            ),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def _lsh_pairs_from_sig(sig: DataFrame, threshold: float) -> DataFrame:
    """Banding + candidate join + exact Jaccard verify over a cached
    (id, sh_hashes, mhs) signature frame."""
    cand = band_join(_minhash_bands(sig), _BAND_KEYS).distinct()
    return _jaccard_verify(cand, sig, threshold)


def duck_minhash_lsh_ctes(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    prefix: str = "",
) -> str:
    """DuckDB CTE fragments computing `{prefix}mh_pairs(id_a, id_b,
    jaccard)` from `table` — composable into larger WITH statements (same
    constants and math as minhash_lsh_pairs). `prefix` namespaces every
    CTE so two instances (e.g. over the raw corpus and over a deduped
    stage) can coexist in one query."""
    p = prefix
    band_rows = " UNION ALL ".join(
        "SELECT id, {b} AS band_id, [{keys}] AS key FROM {p}sig".format(
            b=b,
            p=p,
            keys=", ".join(f"mh_{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)),
        )
        for b in range(N_BANDS)
    )
    return f"""{p}hashed AS (
  SELECT {id_col} AS id, {duck_shingle_hash_set(text_col)} AS sh_hashes
  FROM {table}
), {p}sig AS (
  SELECT id, sh_hashes, {duck_minhash_signature_cols()}
  FROM {p}hashed WHERE len(sh_hashes) > 0
), {p}bands AS (
  {band_rows}
), {p}cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM {p}bands a JOIN {p}bands b
    ON a.band_id = b.band_id AND a.key = b.key AND a.id < b.id
), {p}jac AS (
  SELECT id_a, id_b,
    CASE WHEN len(list_distinct(list_concat(sa.sh_hashes, sb.sh_hashes))) = 0 THEN 0.0
         ELSE CAST(len(list_intersect(sa.sh_hashes, sb.sh_hashes)) AS DOUBLE)
              / len(list_distinct(list_concat(sa.sh_hashes, sb.sh_hashes))) END AS jaccard
  FROM {p}cand
  JOIN {p}sig sa ON sa.id = {p}cand.id_a
  JOIN {p}sig sb ON sb.id = {p}cand.id_b
), {p}mh_pairs AS (
  SELECT id_a, id_b, jaccard FROM {p}jac WHERE jaccard >= {threshold}
)"""


def duck_minhash_lsh_pairs_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> str:
    """DuckDB oracle for minhash_lsh_pairs — same constants, same math."""
    ctes = duck_minhash_lsh_ctes(table, id_col, text_col, threshold)
    return f"WITH {ctes} SELECT id_a, id_b, jaccard FROM mh_pairs"


def minhash_incremental_pairs(
    new_docs: DataFrame,
    existing_sig: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dedup: check NEW documents against an already-
    indexed corpus without re-hashing it.

    ``existing_sig`` is a persisted signature table in the
    ``minhash_signatures`` schema (id, sh_hashes, mhs) — in production a
    parquet table appended to per batch; rebuilding signatures for 100 TB
    of already-seen text per increment is the cost this avoids. Returns
    ``(pairs, new_sig)``:

      * ``pairs`` — (id_a, id_b, jaccard) with id_a < id_b, every pair
        involving >= 1 new doc (new-vs-existing AND new-vs-new; pairs
        wholly inside the existing corpus were already reported when
        those docs were new).
      * ``new_sig`` — signatures of the new docs, for the caller to
        append to the persisted table before the next increment.

    Scale shape: the banding join is (new bands) x (all bands) on the
    band key — the small new side streams against the indexed corpus,
    Jaccard verification touches candidates only, and nothing recomputes
    the existing corpus' hashes. Ids must be globally unique across
    existing + new (same contract as any index append).
    """
    sig_new = minhash_signatures(new_docs, id_col, text_col).filter(
        F.expr("size(sh_hashes) > 0")
    )
    sig_all = existing_sig.select("id", "sh_hashes", "mhs").unionByName(sig_new)
    cand = band_join(
        _minhash_bands(sig_all), _BAND_KEYS, probe=_minhash_bands(sig_new)
    ).distinct()
    pairs = _jaccard_verify(cand, sig_all, threshold)
    return pairs, sig_new


# --- SimHash ---------------------------------------------------------------

SIMHASH_BITS = 32


def simhash_struct_sql(text_col: str) -> str:
    """ONE Spark expression: 32-bit SimHash of a text column via portable
    token hashes. bit b set iff sum over tokens of (+1 if bit b of token
    hash else -1) > 0."""
    bits = (
        f"aggregate(transform(sequence(0, {SIMHASH_BITS - 1}), b -> "
        f"CASE WHEN aggregate(th, 0L, "
        f"(acc, h) -> acc + CASE WHEN (h div shiftleft(1L, b)) % 2 = 1 "
        f"THEN 1 ELSE -1 END) > 0 THEN shiftleft(1L, b) ELSE 0L END), "
        f"0L, (acc, x) -> acc + x)"
    )
    tok_hashes = let_sql(tokens_sql(text_col), "tk", token_hashes_sql("tk"))
    return let_sql(tok_hashes, "th", bits)


def duck_simhash_expr(text_col: str) -> str:
    bits = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(0, {SIMHASH_BITS}), b -> "
        f"CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), th), "
        f"(acc, h) -> acc + CASE WHEN (h // (CAST(1 AS BIGINT) << b)) % 2 = 1 "
        f"THEN 1 ELSE -1 END) > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)), "
        f"(acc, x) -> acc + x)"
    )
    tok_hashes = duck_let(duck_tokens(text_col), "tk", duck_token_hashes("tk"))
    return duck_let(tok_hashes, "th", bits)


def with_simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds simhash + two 16-bit half-band columns (candidate blocking
    keys: near-dups at small hamming distance usually share a half)."""
    return (
        df.withColumn("simhash", F.expr(simhash_struct_sql(text_col)))
        .withColumn("band_lo", F.expr("simhash % 65536").cast("long"))
        .withColumn("band_hi", F.expr("simhash div 65536").cast("long"))
    )


def fuzzy_pairs_levenshtein(
    df: DataFrame,
    key_col: str,
    block_cols: list[str],
    max_dist: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Edit-distance fuzzy-match pairs: (id_a, id_b, dist <= max_dist).

    The O(len^2)-per-pair Levenshtein only runs on candidates from a
    blocking equi-join (same ``block_cols``) pre-filtered by the length
    bound |len(a) - len(b)| <= max_dist (a true lower bound on edit
    distance, so no matches are lost). Spark's thresholded
    ``levenshtein(a, b, t)`` early-exits DP rows once the running minimum
    exceeds t — the verify step is O(len * t), not O(len^2), on
    non-matches. Same candidate/verify topology as MinHash LSH: never
    all-pairs, cost bounded by block sizes.
    """
    sel = [
        F.col(id_col).alias("id"),
        F.col(key_col).alias("key"),
        F.length(key_col).alias("klen"),
        *[F.col(c) for c in block_cols],
    ]
    side = df.select(*sel)
    a, b = side.alias("a"), side.alias("b")
    cond = (F.col("a.id") < F.col("b.id")) & (
        F.abs(F.col("a.klen") - F.col("b.klen")) <= max_dist
    )
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return (
        a.join(b, cond)
        .withColumn(
            "dist",
            F.expr(f"levenshtein(a.key, b.key, {max_dist})"),
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("dist").cast("int").alias("dist"),
        )
    )


def containment_pairs(
    docs: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    collapse_identical: bool = True,
    return_sizes: bool = False,
):
    """Asymmetric shingle-CONTAINMENT pairs: (id_a, id_b, containment)
    with containment = |S_a ∩ S_b| / |S_a| >= threshold — the
    doc-within-doc duplication signal symmetric Jaccard misses (a short
    document quoted inside a long one has high containment but LOW
    Jaccard, so MinHash-LSH's band collisions — tuned for Jaccard —
    systematically under-sample exactly these pairs).

    Candidates come from PREFIX FILTERING (the SSJoin/PPJoin family,
    Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08): order each doc's
    shingles by ascending global document frequency (rarest first) and
    emit only its first ``n_a - ceil(t * n_a) + 1`` as probe keys; a
    container sharing >= ceil(t * n_a) of A's shingles CANNOT miss all
    of them (pigeonhole), so the filter is EXACT — zero false
    negatives, which is why the registered query's oracle is the plain
    all-pairs form. The threshold is carried as a RATIONAL
    (threshold_num / threshold_den) so the required-overlap count is
    exact integer arithmetic — ``ceil(0.8 * n)`` in floating point can
    round up past the true bound and silently drop true pairs.

    Scale shape: one explode of the distinct shingle sets (skinny
    (id, h) rows — the arrays never ride the probe join), one doc-freq
    aggregate on h, one per-doc window for the prefix ranks, the
    prefix-probe equi-join on h, then an id-join verify over candidate
    pairs only. Probe postings are biased short by construction (each
    doc probes with its RAREST shingles); a corpus whose documents are
    built entirely from ubiquitous shingles degrades toward the
    blocked quadratic — the same hot-bucket shape as LSH, with the
    same remedy (raise k / cap postings at a measured recall cost).
    """
    from .graph import _track_ann_cache

    sets = docs.select(
        F.col(id_col).alias("id"),
        F.expr(shingle_hash_set_sql(text_col)).alias("s"),
    ).filter(F.size("s") > 0)
    # consumed by the posting explode AND both verify join-backs;
    # tracked in the shared build-cache registry (ADVICE r6 bounding)
    sets = _track_ann_cache(sets.cache())
    # (id, n_sh) off the SAME cached frame — callers needing sizes
    # (keep policies) must not pay a second shingle computation
    sizes = sets.select("id", F.size("s").alias("n_sh"))

    def _ret(pairs_df):
        return (pairs_df, sizes) if return_sizes else pairs_df

    if collapse_identical:
        # The r2 minhash lesson, containment edition: exact-duplicate
        # documents (the dominant shape in uncleaned crawl corpora)
        # share a shingle SET — so every duplicate probes identical
        # prefixes and the probe join degrades quadratically in the
        # dup-group size. Collapse identical sets (keyed by the sorted
        # array) to a min-id representative first: prefix filtering
        # runs over DISTINCT sets, and member pairs expand back
        # afterwards with exact values (identical sets ⇒ within-group
        # containment is n/n = 1.0 exactly; cross-group pairs inherit
        # the rep pair's division verbatim). Output identical to the
        # uncollapsed build (pytest-pinned).
        reps, mem_ids = collapse_to_reps(sets, F.sort_array("s"))
        _track_ann_cache(mem_ids)
    else:
        reps = sets

    post = reps.select("id", F.explode("s").alias("h"))
    cand = _prefix_probe(_probe_prefix(post, threshold_num, threshold_den), post)
    thr = threshold_num / threshold_den
    rep_pairs = _containment_verify(cand.distinct(), reps, thr)
    if not collapse_identical:
        return _ret(rep_pairs)

    # Ordered pairs: containment is asymmetric. Within a group
    # |S∩S| / |S| = 1.0 exactly (n/n is an exact IEEE division for any
    # n), the same double the uncollapsed verify computes — qualifying
    # whenever the threshold is <= 1.
    intra, cross = expand_members(
        rep_pairs, mem_ids, "containment", intra_value=F.lit(1.0), ordered=True
    )
    if thr > 1.0:
        return _ret(cross)
    return _ret(cross.unionByName(intra))


def _probe_prefix(post: DataFrame, threshold_num: int, threshold_den: int) -> DataFrame:
    """(id, h): each doc's first ``n - ceil(t * n) + 1`` shingles in
    ascending (doc-freq within ``post``, h) order — its prefix-filter
    probe keys. The required overlap ceil(num * n / den) is exact
    integer arithmetic."""
    from pyspark.sql import Window

    freq = post.groupBy("h").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy("df", "h")
    return (
        post.join(freq, "h")
        .withColumn("n_a", F.count("*").over(Window.partitionBy("id")))
        .withColumn("rn", F.row_number().over(w))
        .filter(
            F.col("rn")
            <= F.expr(
                f"n_a - (({threshold_num} * n_a + {threshold_den} - 1) "
                f"DIV {threshold_den}) + 1"
            )
        )
        .select("id", "h")
    )


def _prefix_probe(prefix: DataFrame, post: DataFrame) -> DataFrame:
    """Candidate (id_a, id_b): probe-prefix rows of a joined to posting
    rows of b on the shingle hash (not deduplicated)."""
    return (
        prefix.alias("a")
        .join(post.alias("b"), "h")
        .filter(F.col("a.id") != F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )


def _containment_verify(cand: DataFrame, sets: DataFrame, thr: float) -> DataFrame:
    """Exact containment |S_a ∩ S_b| / |S_a| >= thr over candidates,
    shingle sets joined back by id."""
    return (
        join_back(cand, sets, {"s": "s"})
        .select(
            "id_a",
            "id_b",
            (
                F.expr("size(array_intersect(sa, sb))").cast("double")
                / F.expr("size(sa)")
            ).alias("containment"),
        )
        .filter(F.col("containment") >= F.lit(thr))
    )


def containment_keep(
    docs: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_shingles): keep-the-container dedup — a doc whose
    shingle set is >= threshold contained in a STRICTLY LARGER set is
    dropped (ties keep the smaller id). Sizes come off the SAME cached
    shingle frame the pair build uses, so the policy costs zero extra
    shingle computations (previously both the registered keep query and
    the v4 pipeline re-shingled the corpus just to rank sizes)."""
    pairs, sizes = containment_pairs(
        docs,
        threshold_num=threshold_num,
        threshold_den=threshold_den,
        id_col=id_col,
        text_col=text_col,
        return_sizes=True,
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"))
    losers = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            (F.col("nb") > F.col("na"))
            | ((F.col("nb") == F.col("na")) & (F.col("id_b") < F.col("id_a")))
        )
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return (
        sizes.select(F.col("id").alias(id_col), "n_sh")
        .join(losers, id_col, "left_anti")
        .select(id_col, F.col("n_sh").cast("long").alias("n_shingles"))
    )


def containment_incremental_pairs(
    new_docs: DataFrame,
    existing_sets: DataFrame,
    existing_prefix: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Incremental containment check: NEW documents vs an already-indexed
    corpus, without re-scanning it — the containment sibling of
    ``minhash_incremental_pairs`` (and of the IVF/PQ/kNN ingests).

    Why this can be EXACT without recomputing history: prefix filtering
    is correct for ANY ``n - ceil(t*n) + 1``-sized subset of a doc's
    shingles (pigeonhole — the ordering only tunes efficiency), so each
    doc's probe prefix can be FROZEN at its arrival batch. The state is
    two skinny tables:

    * ``existing_sets`` — (id, s): full distinct-shingle-hash arrays,
      joined back by id for verification only.
    * ``existing_prefix`` — (id, h): each indexed doc's frozen probe
      prefix rows.

    Candidates per increment (all hash equi-joins, increment-sized
    probe sides):

    * new-contained-in-anything: new prefixes x (existing ∪ new)
      postings;
    * old-contained-in-new: existing FROZEN prefixes x new postings —
      this is the direction a symmetric index would miss, and the
      frozen-prefix trick is what makes it exact.

    Every ordered pair (x contained-in y) is emitted exactly once —
    in the batch where its LATER member arrives (pytest-pinned: the
    union over any batch split equals the full-corpus
    :func:`containment_pairs` build). No collapse-identical here:
    collapse keys depend on full-corpus membership and would make the
    emission batch-dependent (the knn_topk_append_batch reasoning).

    Returns ``(pairs, new_sets, new_prefix)``; the caller appends the
    last two to the persisted state. Ids must be globally unique.
    """
    new_sets = new_docs.select(
        F.col(id_col).alias("id"),
        F.expr(shingle_hash_set_sql(text_col)).alias("s"),
    ).filter(F.size("s") > 0)
    from .graph import _track_ann_cache

    new_sets = _track_ann_cache(new_sets.cache())

    new_post = new_sets.select("id", F.explode("s").alias("h"))
    # Prefix ordering from batch-local doc-freq (+ h tie-break): any
    # ordering is exact; batch-local df is the cheapest useful bias
    # (no history scan).
    new_prefix = _probe_prefix(new_post, threshold_num, threshold_den)

    exist_post = existing_sets.select("id", F.explode("s").alias("h"))
    post_all = exist_post.unionByName(new_post)
    cand = (
        _prefix_probe(new_prefix, post_all)
        .unionByName(_prefix_probe(existing_prefix, new_post))
        .distinct()
    )
    pairs = _containment_verify(
        cand, existing_sets.unionByName(new_sets), threshold_num / threshold_den
    )
    return pairs, new_sets, new_prefix
