"""The candidate-pair cascade shared by the near-duplicate and
nearest-neighbour operators (dedup, similarity, graph, clustering):

    collapse identical inputs -> band / bucket -> candidate join
    -> join back by id and verify -> expand back to members

Each step is one function here, and the operators differ only in the
arguments they pass: the band keys, the verify expression, the value a
duplicate group's own pairs carry. This is the filter-then-verify split
of one framework serving every similarity join ("Highly Efficient
String Similarity Search and Join over Compressed Indexes", ICDE'22).

Every function is plan-only: it builds a lazy DataFrame and runs no job.
Caching is the caller's posture — :func:`collapse_to_reps` caches the
member map, and the caller decides whether to track it for release.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Join back by id broadcasts the row table when it has at most this many
# rows (~64 MB of float32 at 64 dims): the pairs-sized candidate table
# then never shuffles. A billion-row corpus exceeds the bound and keeps
# the correct shuffle join. Plan-only: the output is unchanged.
JOINBACK_BROADCAST_MAX_ROWS = 250_000

ID_PAIR = ("id_a", "id_b")


def collapse_to_reps(df: DataFrame, key) -> tuple[DataFrame, DataFrame]:
    """Collapse rows with an identical ``key`` to their min-id
    representative: ``(reps, mem_ids)``.

    ``df`` has an ``id`` column. ``reps`` is ``df`` restricted to the
    representatives (same columns); ``mem_ids`` — (id, rep_id) for every
    row, one hash window, no join back — is cached, because both halves
    of :func:`expand_members` read it.

    Why: a group of c identical inputs lands c*(c-1)/2 candidate pairs in
    the verify join, and each pair pays the full verify expression — the
    measured 32x blow-up at 100x replication (SCALE_100x.md). Verifying
    representatives only makes the cost depend on DISTINCT inputs; the
    member expansion is a cheap integer join."""
    mem = df.withColumn("rep_id", F.min("id").over(Window.partitionBy(key)))
    mem_ids = mem.select("id", "rep_id").cache()
    reps = mem.filter(F.col("id") == F.col("rep_id")).select(*df.columns)
    return reps, mem_ids


def expand_members(
    rep_pairs: DataFrame,
    mem_ids: DataFrame,
    value: str,
    intra_value: Column | None = None,
    rep_joins: tuple[DataFrame, ...] = (),
    ordered: bool = False,
    keep: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """Expand representative pairs back to member pairs:
    ``(intra, cross)``, both (*keep, id_a, id_b, value).

    * ``cross`` — a member pair of two different groups inherits its
      representatives' ``value`` verbatim (members equal their reps).
    * ``intra`` — every member pair inside one group. Its value is
      ``intra_value`` (aliased to ``value``), or, when None, the
      ``value`` column of one of ``rep_joins``: frames keyed by
      ``rep_id`` that are inner-joined onto the group, in order — so a
      join doubles as a filter on which groups qualify.

    ``ordered`` emits both (a, b) and (b, a) (asymmetric measures);
    otherwise pairs are id_a < id_b."""
    x, y = mem_ids.alias("x"), mem_ids.alias("y")
    pair = F.col("x.id") != F.col("y.id") if ordered else F.col("x.id") < F.col("y.id")
    intra = x.join(y, (F.col("x.rep_id") == F.col("y.rep_id")) & pair)
    for i, r in enumerate(rep_joins):
        intra = intra.join(r.alias(f"r{i}"), F.col("x.rep_id") == F.col(f"r{i}.rep_id"))
    intra = intra.select(
        *keep,
        F.col("x.id").alias("id_a"),
        F.col("y.id").alias("id_b"),
        value if intra_value is None else intra_value.alias(value),
    )
    ma = mem_ids.select(F.col("rep_id").alias("id_a"), F.col("id").alias("m_a"))
    mb = mem_ids.select(F.col("rep_id").alias("id_b"), F.col("id").alias("m_b"))
    a, b = (
        (F.col("m_a"), F.col("m_b"))
        if ordered
        else (F.least("m_a", "m_b"), F.greatest("m_a", "m_b"))
    )
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(*keep, a.alias("id_a"), b.alias("id_b"), value)
    )
    return intra, cross


def band_join(
    bands: DataFrame,
    keys: list[str],
    ids: tuple[str, str] = ID_PAIR,
    probe: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs of rows that agree on every ``keys`` column —
    the LSH "bucket join", an equi-join on the band key, so the quadratic
    step is confined to one bucket.

    Without ``probe`` this is the self-join of ``bands`` with a.id <
    b.id. With ``probe`` (the new rows of an incremental build) each
    probe row joins every ``bands`` row with a different id, and the
    pair is emitted as (least, greatest). Not deduplicated: a pair that
    shares several bands appears once per band."""
    a, b = (bands if probe is None else probe).alias("a"), bands.alias("b")
    cond = F.col(f"a.{keys[0]}") == F.col(f"b.{keys[0]}")
    for k in keys[1:]:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    if probe is None:
        return a.join(b, cond & (F.col("a.id") < F.col("b.id"))).select(
            F.col("a.id").alias(ids[0]), F.col("b.id").alias(ids[1])
        )
    return a.join(b, cond & (F.col("a.id") != F.col("b.id"))).select(
        F.least("a.id", "b.id").alias(ids[0]),
        F.greatest("a.id", "b.id").alias(ids[1]),
    )


def join_back(
    pairs: DataFrame,
    rows: DataFrame,
    cols: dict[str, str],
    ids: tuple[str, str] = ID_PAIR,
    n_rows: int | None = None,
) -> DataFrame:
    """Attach each side's row of ``rows`` (keyed by ``id``) to a pair
    table: column ``c`` arrives as ``cols[c] + "a"`` and ``+ "b"``.

    Candidates carry ids only, so wide columns (shingle arrays, float
    vectors) never ride the band shuffle. With ``n_rows`` (the row
    count of ``rows``) at most JOINBACK_BROADCAST_MAX_ROWS, both sides
    broadcast; ``n_rows=None`` keeps the shuffle join."""
    bcast = n_rows is not None and n_rows <= JOINBACK_BROADCAST_MAX_ROWS
    out = pairs
    for side, key in zip("ab", ids):
        t = rows.select(
            F.col("id").alias(key),
            *[F.col(c).alias(p + side) for c, p in cols.items()],
        )
        out = out.join(F.broadcast(t) if bcast else t, key)
    return out


def cosine_sql(a: str, b: str, na: str, nb: str) -> Column:
    """Cosine of two vector columns from their JVM-fold dot product and
    precomputed norms — bit-portable with the DuckDB mirrors."""
    from .similarity import dot_sql

    return F.expr(dot_sql(a, b)) / (F.col(na) * F.col(nb))


def cosine_verify(
    pairs: DataFrame,
    vecs: DataFrame,
    n_rows: int | None = None,
    ids: tuple[str, str] = ID_PAIR,
    vec: tuple[str, str] = ("v", "v"),
    keep: tuple[str, ...] = (),
    threshold: float | None = None,
) -> DataFrame:
    """Join back by id and score: (*keep, id_a, id_b, cos_sim).

    ``vecs`` has (id, <vector>, nrm); ``vec`` names the vector column and
    the prefix its two sides take. With ``threshold``, only pairs with
    cos_sim >= threshold are kept."""
    col, p = vec
    scored = join_back(pairs, vecs, {col: p, "nrm": "n"}, ids, n_rows).select(
        *keep, *ids, cosine_sql(p + "a", p + "b", "na", "nb").alias("cos_sim")
    )
    return scored if threshold is None else scored.filter(F.col("cos_sim") >= threshold)


def self_cosine(reps: DataFrame, threshold: float) -> DataFrame:
    """(rep_id, cos_sim): each representative's cosine with itself, for
    the intra-group pairs of :func:`expand_members`. It is ~1.0 but not
    the literal 1.0 (dot(v, v) != sqrt(dot)^2 in IEEE), and it is the
    same double the uncollapsed verify computes for two equal members.
    Groups below ``threshold`` drop out, as in the uncollapsed path."""
    return reps.select(
        F.col("id").alias("rep_id"),
        cosine_sql("v", "v", "nrm", "nrm").alias("cos_sim"),
    ).filter(F.col("cos_sim") >= threshold)
