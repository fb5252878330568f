"""Similarity search over embedding columns.

Scale-extension operators (SURVEY §2.2 "Extensions"):

- ``cosine_topk`` — brute-force exact top-k: broadcast the (small)
  query set against the corpus, one pass, no shuffle on the corpus
  side. The baseline every ANN variant is measured against.
- ``ann_lsh_topk`` — random-hyperplane LSH: sign-bit signatures bucket
  the corpus; candidates come from an equi-join on bucket id (shuffle
  on a short key instead of a cross join), then exact re-ranking.
  The 100 TB path: candidate generation touches only hash buckets.
- ``ann_ivf_topk`` — IVF-style: corpus assigned to nearest of m
  deterministic seed centroids; queries probe ``n_probe`` nearest
  centroids only.

Design for scale: the corpus is never collected; hyperplanes/centroids
are tiny literal arrays (broadcast by Catalyst); candidate joins are
equi-joins Catalyst can plan as broadcast or shuffled-hash; exact
re-rank windows only over per-query candidate sets.
"""

from __future__ import annotations

import json
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity_expr, dot_expr
from ..sources.store import Store, _exclude_batch_filter, compact_partitioned
from .dedup import _spread

__all__ = [
    "cosine_topk",
    "hard_negatives",
    "semantic_contamination",
    "semantic_contamination_expr",
    "ann_lsh_topk",
    "binary_hamming_topk",
    "ann_ivf_topk",
    "ann_recall_vs_exact",
    "train_ivf_centroids",
    "ivf_assign",
    "hyperplanes",
    "lsh_bucket_expr",
    "lsh_buckets_expr",
    "train_pq_codebooks",
    "pq_encode",
    "pq_topk",
    "ann_ivfpq_topk",
    "semantic_dedup",
    "write_semantic_store",
    "append_semantic_store",
    "compact_semantic_store",
    "read_semantic_store_meta",
    "semantic_dedup_incremental",
    "write_ivf_store",
    "append_ivf_store",
    "read_ivf_store_meta",
    "ann_ivf_store_topk",
    "compact_ivf_store",
]


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    query_vec_col: str | None = None,
    exclude_self: bool | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Output: ``query_id, neighbor_id, cosine (double), rank`` — rank is
    deterministic (cosine desc, neighbor id asc tie-break).

    The query side is broadcast: the corpus streams through one
    projection + per-query window. Self-matches (same id) are excluded
    only when both sides share the id space (``query_id_col`` is None);
    with a separate query table, a corpus id that coincidentally equals
    a query id is a legitimate neighbor. ``exclude_self`` overrides the
    auto rule either way.
    """
    qid = query_id_col or id_col
    qvec = query_vec_col or vec_col
    if exclude_self is None:
        exclude_self = query_id_col is None
    q = queries.select(
        F.col(qid).alias("query_id"), F.col(qvec).alias("__qvec")
    )
    # per-(row × query) cosine is compute-heavy: a small single-file
    # corpus scan must not serialize the whole score matrix on one core
    c = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    )
    joined = c.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.where(F.col("neighbor_id") != F.col("query_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        cosine_similarity_expr("__qvec", "__cvec").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def semantic_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str | None = None,
    bench_vec_col: str | None = None,
    threshold: float = 0.95,
) -> DataFrame:
    """SEMANTIC eval-set decontamination screen (the Llama/Gemma-report
    recipe, the embedding-space complement of ``ngram_contamination``):
    for every benchmark item, the single most-similar training-corpus
    item by exact cosine, plus the leak verdict ``contaminated =
    (max_cosine >= threshold)``. An n-gram screen misses paraphrases; a
    0.95-cosine match is the same content re-worded.

    Output: ``bench_id, match_id, max_cosine (ROUND 6), contaminated``
    — one row per benchmark item, ties to the lowest corpus id
    (deterministic). Rounding happens BEFORE the argmax so the ranking
    is engine-portable (the ``semantic_dedup`` convention).

    Scale shape (inherits ``cosine_topk``'s): the BENCHMARK side is
    broadcast (eval sets are small by construction); the corpus
    streams through one projection + a per-bench-item max window —
    cost is one corpus pass regardless of corpus size, no corpus
    shuffle. Identical ids across the two relations are treated as
    legitimate matches (cross-set semantics, ``exclude_self=False``)
    unless the benchmark IS a corpus slice sharing the id space — pass
    the same column names and filter upstream if self-pairs must drop.
    """
    bid = bench_id_col or id_col
    bvec = bench_vec_col or vec_col
    b = F.broadcast(
        benchmark.select(F.col(bid).alias("bench_id"), F.col(bvec).alias("__bv"))
    )
    c = _spread(corpus).select(
        F.col(id_col).alias("match_id"), F.col(vec_col).alias("__cv")
    )
    scored = c.crossJoin(b).select(
        "bench_id",
        "match_id",
        F.round(cosine_similarity_expr("__bv", "__cv"), 6).alias("max_cosine"),
    )
    w = Window.partitionBy("bench_id").orderBy(
        F.col("max_cosine").desc(), F.col("match_id").asc()
    )
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") == 1)
        .select(
            "bench_id",
            "match_id",
            "max_cosine",
            (F.col("max_cosine") >= F.lit(threshold)).alias("contaminated"),
        )
    )


def semantic_contamination_expr(
    vec_col: Column | str,
    bench: list[dict],
    threshold: float = 0.95,
) -> Column:
    """In-row twin of ``semantic_contamination`` against a FROZEN
    benchmark embedding list — the ``frozen_logprob_expr`` deployment
    pattern: the (small, by construction) eval set is an offline
    artifact embedded as one constant-folded literal, so the screen is
    a pure map-only projection usable in batch AND as a stateless
    streaming stage (no state store, no shuffle, replay-identical).

    ``bench``: ``[{"id": int, "vec": [floats]}, ...]`` (e.g. from
    ``benchmark.collect()``). The fold visits bench items in ascending
    id with a strict ``>`` comparison on the ROUND-6 cosine, so ties go
    to the lowest id — identical semantics to the distributed argmax.
    Returns ``struct(match_id long, max_cosine double, contaminated
    boolean)``; an empty bench yields (NULL, NULL, false). A NULL/zero
    input vector (cosine NULL against every bench item) yields the
    LOWEST bench id with NULL cosine and NULL contaminated — exactly
    what the distributed window emits (NULLs sort last under DESC, id
    tie-break picks the first item).
    """
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    items = sorted(
        ({"id": int(b["id"]), "vec": [float(x) for x in b["vec"]]} for b in bench),
        key=lambda b: b["id"],
    )
    bench_lit = F.from_json(
        F.lit(json.dumps(items)),
        "array<struct<id: long, vec: array<double>>>",
    )
    # let-bind: ONE cosine per bench item per row (referencing the
    # expression twice inside the fold would double the dominant
    # dot-product cost of the streaming hot path)
    scored = F.transform(
        bench_lit,
        lambda b: F.struct(
            b["id"].alias("match_id"),
            F.round(cosine_similarity_expr(v, b["vec"]), 6).alias("max_cosine"),
        ),
    )
    init = F.struct(
        F.lit(None).cast("long").alias("match_id"),
        F.lit(None).cast("double").alias("max_cosine"),
    )
    acc = F.aggregate(
        scored,
        init,
        # replace iff: first item (install the lowest id even when its
        # cosine is NULL — the distributed tie-break), or a NON-NULL
        # cosine beating a NULL/lower accumulator. A NULL cosine never
        # overwrites an installed accumulator.
        lambda a, b: F.when(
            a["match_id"].isNull()
            | (
                b["max_cosine"].isNotNull()
                & (a["max_cosine"].isNull() | (b["max_cosine"] > a["max_cosine"]))
            ),
            b,
        ).otherwise(a),
    )
    return F.struct(
        acc["match_id"].alias("match_id"),
        acc["max_cosine"].alias("max_cosine"),
        # empty bench -> false (documented); NULL cosine -> NULL,
        # matching the distributed op's `max_cosine >= t` semantics
        F.when(acc["match_id"].isNull(), F.lit(False))
        .otherwise(acc["max_cosine"] >= F.lit(threshold))
        .alias("contaminated"),
    )


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    positives: DataFrame | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    anchor_id_col: str | None = None,
    anchor_vec_col: str | None = None,
    positive_anchor_col: str = "anchor_id",
    positive_id_col: str = "positive_id",
    positive_attr: tuple[str, str] | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training: for
    each anchor, the ``k`` most-cosine-similar corpus items that are
    NOT known positives of that anchor (and not the anchor itself) —
    the "confusable but wrong" examples that make in-batch negatives
    actually informative (DPR / SimCSE-style training data prep).

    Positives come in two forms (at least one required, composable):

    - ``positives``: an explicit (anchor_id, positive_id) pair
      relation — BOUNDED BY THE TRAINING BATCH (it is broadcast; do
      not materialize "every same-class corpus item" here);
    - ``positive_attr = (anchor_col, corpus_col)``: positives DEFINED
      by attribute equality (same label / same source / same near-dup
      cluster id). The anchor's attribute rides the broadcast anchor
      relation and exclusion is an in-row null-safe inequality — the
      corpus-proportional positive set is never materialized at all.

    Either way the exclusion applies BEFORE the top-k window, so the
    output holds up to k TRUE negatives per anchor (never
    k-minus-however-many-positives-ranked-high; an anchor with fewer
    than k eligible non-positive corpus items returns fewer rows).

    Scale shape (inherits ``cosine_topk``'s): everything broadcast is
    batch-sized; the corpus streams through one projection + a
    per-anchor window. Output: ``anchor_id, negative_id, cosine
    (ROUND 6), rank`` — rank deterministic (cosine DESC, id ASC).
    """
    if positives is None and positive_attr is None:
        raise ValueError(
            "hard_negatives: pass positives pairs and/or positive_attr"
        )
    aid = anchor_id_col or id_col
    avec = anchor_vec_col or vec_col
    a_cols = [F.col(aid).alias("anchor_id"), F.col(avec).alias("__avec")]
    if positive_attr is not None:
        a_cols.append(F.col(positive_attr[0]).alias("__aattr"))
    a = anchors.select(*a_cols)
    c_cols = [
        F.col(id_col).alias("negative_id"),
        F.col(vec_col).alias("__cvec"),
    ]
    if positive_attr is not None:
        c_cols.append(F.col(positive_attr[1]).alias("__cattr"))
    c = _spread(corpus).select(*c_cols)
    scored = c.crossJoin(F.broadcast(a)).where(
        F.col("negative_id") != F.col("anchor_id")
    )
    if positive_attr is not None:
        # null-safe: a NULL-attributed candidate only matches a
        # NULL-attributed anchor (same unknown group = positive)
        scored = scored.where(
            ~F.col("__cattr").eqNullSafe(F.col("__aattr"))
        )
    if positives is not None:
        pos = positives.select(
            F.col(positive_anchor_col).alias("anchor_id"),
            F.col(positive_id_col).alias("negative_id"),
        ).distinct()
        scored = scored.join(
            F.broadcast(pos), on=["anchor_id", "negative_id"], how="left_anti"
        )
    scored = scored.select(
        "anchor_id",
        "negative_id",
        F.round(cosine_similarity_expr("__avec", "__cvec"), 6).alias("cosine"),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("negative_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= int(k))
    )


def ann_recall_vs_exact(
    approx: DataFrame,
    exact: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Annotate an ANN result with its per-query recall@k against the
    exact top-k: every ``approx`` row gains a ``recall_at_k`` column =
    |approx ∩ exact| / k for its query (rounded to 6 dp; 0.0 when no
    overlap). Both inputs use the ``cosine_topk`` output contract
    (``query_id, neighbor_id, ...``).

    Used by the driver-facing ANN queries so approximation quality is
    visible in the hard correctness signal, not only in unit-test
    recall gates (hyperplanes/centroids are seed-deterministic, so the
    column is stable).

    Plan shape: ``approx`` is referenced exactly ONCE — a hit flag
    comes from a broadcast left join against the (tiny) exact set, and
    the per-query hit count is a window sum over ``query_id``, which
    reuses the partitioning the top-k rank window already established
    (no new Exchange, and no double evaluation of the ANN pipeline — a
    two-branch aggregate-then-rejoin shape measurably re-ran the whole
    candidate generation).

    Denominator = ``min(k, per-query exact rows)``: when the corpus is
    smaller than k the exact side yields fewer than k neighbors and a
    fixed /k could never reach 1.0. The exact side is also deduped on
    (query_id, neighbor_id) first so duplicate exact rows can't fan out
    approx rows through the left join. A query with NO exact rows gets
    recall 0.0 either way: no hits can join, and the NULL ``__exn``
    makes ``least`` fall back to k as the denominator (Spark's
    ``least`` skips NULLs), so 0 hits / k = 0.0.
    """
    ex = exact.select("query_id", "neighbor_id").dropDuplicates(
        ["query_id", "neighbor_id"]
    )
    ex_w = Window.partitionBy("query_id")
    ex = ex.select(
        "query_id",
        "neighbor_id",
        F.lit(1).cast("long").alias("__hit"),
        F.count("*").over(ex_w).alias("__exn"),
    )
    joined = approx.join(F.broadcast(ex), on=["query_id", "neighbor_id"], how="left")
    w = Window.partitionBy("query_id")
    denom = F.greatest(
        F.least(F.lit(float(k)), F.max(F.col("__exn")).over(w).cast("double")),
        F.lit(1.0),
    )
    return (
        joined.withColumn(
            "recall_at_k",
            F.round(F.sum(F.coalesce("__hit", F.lit(0))).over(w) / denom, 6),
        )
        .drop("__hit", "__exn")
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes (driver-side
    constants; tiny — ``n_planes x dim`` floats)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_buckets_expr(
    vec_col: Column | str, all_planes: list[list[list[float]]]
) -> Column:
    """Per-table sign-bit bucket ids as ``array<long>`` (one element per
    table).

    The plane constants enter the plan as ONE ``from_json`` over a
    single string literal, which Catalyst constant-folds into a literal
    array before execution (verified: no ``from_json`` in the optimized
    plan). The previous shape — nested ``F.array``/``F.lit`` per float —
    was semantically identical but built n_tables × n_planes × dim
    Column objects through py4j: for 12×4×64 planes, ~5 s of DRIVER
    time per query just constructing the expression, which dominated
    every LSH query's wall clock. JSON round-trips doubles exactly
    (repr-based), so bucket ids are unchanged. Per-plane weights come
    from the transform index (``shiftleft(1, i)``), not stored structs.
    """
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    tables_lit = F.from_json(
        F.lit(json.dumps([[list(map(float, p)) for p in t] for t in all_planes])),
        "array<array<array<double>>>",
    )
    zero = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    return F.transform(
        tables_lit,
        lambda planes: F.aggregate(
            F.transform(
                planes,
                lambda plane, i: F.when(
                    F.aggregate(
                        F.zip_with(v, plane, lambda x, y: x.cast("double") * y),
                        F.lit(0.0),
                        lambda s, x: s + x,
                    )
                    >= 0,
                    F.call_function("shiftleft", one, i),
                ).otherwise(zero),
            ),
            zero,
            lambda acc, w: acc + w,
        ),
    )


def lsh_bucket_expr(vec_col: Column | str, planes: list[list[float]]) -> Column:
    """Single-table sign-bit bucket id (long)."""
    return F.element_at(lsh_buckets_expr(vec_col, [planes]), 1)


def binary_hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 64,
    seed: int = 707,
    rerank_factor: int = 16,
    dim: int | None = None,
    exclude_self: bool | None = None,
) -> DataFrame:
    """Compressed-domain ANN: sign-random-projection binary codes
    (Charikar 2002 — Hamming distance between sign codes approximates
    angular distance), Hamming-ranked, then exact-cosine re-ranked.

    The scale story is MEMORY/BANDWIDTH: after the in-row projection,
    the corpus moves as ONE 64-bit code per vector — 32x smaller than
    64 float64 dims — so the Hamming scan streams the whole corpus
    against the broadcast query codes without ever shuffling a vector.
    Only the ``rerank_factor * k`` Hamming survivors PER QUERY rejoin
    the corpus vectors (a short id-keyed join bounded by queries x
    rerank_factor x k rows) for the exact top-k.

    Deterministic end-to-end: seeded plane literals, Hamming ties to
    lowest id, cosine ROUND-6-before-rank with id ties — so a SQL
    oracle restates every stage. Output: ``query_id, neighbor_id,
    hamming (long), cosine (ROUND 6), rank``.

    ``rerank_factor`` is the recall lever: measured on the 500-vector
    near-random test embeddings (distance concentration — the WORST
    case for sign codes) recall@5 vs exact is 0.55 / 0.775 / 0.80 at
    factor 8 / 16 / 25; clustered real-text embeddings separate far
    better. Planted near-duplicates (the dedup workload) retrieve at
    rank 1 even at small factors — strong signals survive
    binarization.
    """
    if n_bits < 1 or n_bits > 64:
        raise ValueError(f"n_bits must be in [1, 64], got {n_bits}")
    if dim is None:
        # NO data probe here: an earlier draft ran corpus.first() to
        # discover the dimension, which launched a hidden Spark job at
        # PLAN-BUILD time (invisible to plan gates, surprising for
        # library callers composing lazily). Spark's ArrayType carries
        # no length, so the dimension must come from the caller.
        raise ValueError(
            "dim is required: pass the embedding dimensionality explicitly "
            "(ArrayType schemas don't carry a length, and probing the data "
            "would launch a job at plan-build time)"
        )
    planes = hyperplanes(dim, n_bits, seed=seed)
    code = lambda c: lsh_bucket_expr(c, planes)  # noqa: E731 — 1 table = the full code
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            code(F.col(vec_col)).alias("__qcode"),
        )
    )
    c = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        code(F.col(vec_col)).alias("__ccode"),
    )
    ham = F.bit_count(F.col("__qcode").bitwiseXOR(F.col("__ccode")))
    # cosine_topk's auto rule: exclude self-matches only when queries
    # share the corpus id space (they do here — same id_col on both
    # sides); pass exclude_self=False when a SEPARATE query table's id
    # coincidentally equals a corpus id and the match is legitimate
    if exclude_self is None:
        exclude_self = True
    cand = c.crossJoin(q)
    if exclude_self:
        cand = cand.where(F.col("neighbor_id") != F.col("query_id"))
    cand = cand.select(
        "query_id", "neighbor_id", ham.cast("long").alias("hamming")
    )
    wh = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    short = (
        cand.withColumn("__hr", F.row_number().over(wh))
        .where(F.col("__hr") <= rerank_factor * k)
        .drop("__hr")
    )
    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    qvecs = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    )
    scored = (
        short.join(vecs, on="neighbor_id")
        .join(qvecs, on="query_id")
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            F.round(cosine_similarity_expr("__qv", "__cv"), 6).alias("cosine"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wc))
        .where(F.col("rank") <= k)
    )


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    n_tables: int = 12,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH.

    Each of ``n_tables`` independent plane sets maps every vector to a
    bucket; query/corpus pairs colliding in ANY table become
    candidates (union + distinct), then exact cosine re-ranks them.
    Recall grows with n_tables; candidate cost with n_planes^-1.
    Tuning: per-table neighbor collision is ~(1 - θ/π)^n_planes, so a
    few planes + many tables beats the reverse — the 4×12 defaults
    measure recall@5 ≈ 0.78-0.90 on the 64-dim test embeddings
    (6×4 scored only 0.33); the recall floor is gated in
    tests/test_dedup_similarity.py.
    """
    if dim is None:
        # same contract as binary_hamming_topk: NO data probe — an
        # earlier draft ran corpus.first() to discover the dimension,
        # which launched a hidden Spark job at PLAN-BUILD time
        # (invisible to plan gates, surprising for library callers
        # composing lazily)
        raise ValueError(
            "dim is required: pass the embedding dimensionality explicitly "
            "(ArrayType schemas don't carry a length, and probing the data "
            "would launch a job at plan-build time)"
        )
    all_planes = [
        hyperplanes(dim, n_planes, seed=seed + 1000 * t) for t in range(n_tables)
    ]
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec"))

    # All tables in ONE posexplode + ONE equi-join on (table, bucket) —
    # not n_tables joins + union: same candidate set, 1/n_tables the
    # planning and shuffle stages. Vectors are NOT carried through the
    # bucket join/dedup (they'd be replicated n_tables× through two
    # shuffles); the deduped id pairs re-join them once.
    c_b = c.select(
        "neighbor_id",
        F.posexplode(lsh_buckets_expr("__cvec", all_planes)).alias(
            "__table", "__bucket"
        ),
    )
    q_b = q.select(
        "query_id",
        F.posexplode(lsh_buckets_expr("__qvec", all_planes)).alias(
            "__table", "__bucket"
        ),
    )
    # Partition by query_id BEFORE the pair-distinct: hashpartitioning
    # on a SUBSET of the dedup keys satisfies the aggregate's required
    # distribution, and the same partitioning feeds the rank window —
    # one Exchange where dedup-then-window previously took two
    # ((query_id, neighbor_id) then (query_id) again over the full
    # candidate set). Per-partition candidate volume is the same skew
    # the rank window already had.
    cand_ids = (
        q_b.join(c_b, on=["__table", "__bucket"])
        .select("query_id", "neighbor_id")
        .repartition("query_id")
        .dropDuplicates(["query_id", "neighbor_id"])
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    candidates = cand_ids.join(c, on="neighbor_id").join(
        F.broadcast(q), on="query_id"
    )

    scored = candidates.select(
        "query_id",
        "neighbor_id",
        cosine_similarity_expr("__qvec", "__cvec").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _centroid_exprs(cents: list[dict]) -> Column:
    """Constant-folded centroid literal (see lsh_buckets_expr rationale);
    integer-id centroids ride one from_json string, others fall back to
    per-value literals."""
    if all(isinstance(c["cid"], int) and not isinstance(c["cid"], bool) for c in cents):
        return F.from_json(
            F.lit(json.dumps(cents)),
            "array<struct<cid:bigint,cent:array<double>>>",
        )
    return F.array(
        *[
            F.struct(
                F.lit(c["cid"]).alias("cid"),
                F.array(*[F.lit(x) for x in c["cent"]]).alias("cent"),
            )
            for c in cents
        ]
    )


def _unit_vec(vec) -> list[float]:
    xs = [float(x) for x in vec]
    n = sum(x * x for x in xs) ** 0.5 or 1.0
    return [x / n for x in xs]


def _scored_cids_expr(cents_lit: Column, vec: Column) -> Column:
    """(negated dot, cid) structs per centroid; each dot evaluated once."""
    return F.transform(
        cents_lit,
        lambda cent: F.struct(
            (-dot_expr(vec, cent["cent"])).alias("negdot"),
            cent["cid"].alias("cid"),
        ),
    )


def _argmax_cid_expr(cents_lit: Column, vec: Column) -> Column:
    """Nearest-centroid id as an O(m) in-row min-fold (no sort, no
    shuffle). Init is +inf so the placeholder cid never survives a
    non-empty centroid list; strict ``<`` keeps the first (lowest-cid)
    winner on ties, matching array_sort's (negdot, cid) ordering."""
    init = F.struct(
        F.lit(float("inf")).alias("negdot"),
        F.element_at(cents_lit, 1)["cid"].alias("cid"),
    )
    best = F.aggregate(
        _scored_cids_expr(cents_lit, vec),
        init,
        lambda acc, s: F.when(s["negdot"] < acc["negdot"], s).otherwise(acc),
    )
    return best["cid"]


def _seed_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, n: int
) -> list[dict]:
    """Deterministic seed quantizer: the first ``n`` corpus rows by id
    (bounded collect — n rows of one vector each), unit-normalized.
    Shared by ann_ivf_topk and write_ivf_store so the in-memory and
    persisted index paths can never drift apart."""
    rows = (
        corpus.orderBy(F.col(id_col))
        .limit(n)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cent"))
        .collect()
    )
    # cid keeps the id column's own type (the trained path at
    # train_ivf_centroids does the same): int() would crash on string
    # ids and silently truncate float ids — _centroid_exprs already
    # handles non-integer cids via its per-value-literal fallback
    return [{"cid": r["cid"], "cent": _unit_vec(r["cent"])} for r in rows]


def _probe_cids_expr(cents_lit: Column, vec: Column, n_probe: int) -> Column:
    """The ``n_probe`` nearest list ids for a query vector, as an
    explode-ready expression (ascending sort of (negdot, cid) structs
    == similarity desc with cid tie-break). Shared by the in-memory
    and persisted probe paths."""
    return F.explode(
        F.transform(
            F.slice(F.array_sort(_scored_cids_expr(cents_lit, vec)), 1, n_probe),
            lambda s: s["cid"],
        )
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: list[dict],
    vec_col: str = "embedding",
    cid_col: str = "cid",
) -> DataFrame:
    """Tag every corpus row with its inverted-list (nearest-centroid)
    id — the IVF build step as a standalone operator, so list sizes /
    balance are inspectable and the assigned corpus can be written
    bucketed-by-centroid for partition-pruned probes at scale.

    ``centroids`` is the ``train_ivf_centroids`` output (unit vectors).
    Assignment is a pure in-row column expression against the
    constant-folded centroid literal: ZERO shuffles, corpus never
    replicated. Output = input schema + ``cid_col``.
    """
    if not centroids:
        raise ValueError("ivf_assign requires a non-empty centroid list")
    cents_lit = _centroid_exprs(centroids)
    return corpus.withColumn(
        cid_col, _argmax_cid_expr(cents_lit, F.col(vec_col))
    )


def train_ivf_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    n_iter: int = 2,
    deterministic: bool = False,
    sample_fraction: float | None = None,
) -> list[dict]:
    """Lloyd's k-means refinement of the IVF centroids (spherical:
    centroids re-unit-normalized each round, so assignment stays a pure
    dot-product argmax).

    ``sample_fraction`` makes the 100 TB training cost EXPLICIT and
    bounded: when set, every training scan (seed init + all ``n_iter``
    assignment/mean passes) runs over a deterministic md5-bucket sample
    of the corpus (``functions.sampling.hash_sample`` — the SAME keys
    on every run/engine, fraction quantized to k/256), so training a
    quantizer over a petabyte corpus reads ``fraction`` of it, not all
    of it. Quantizer quality degrades gracefully at a FIXED ``n_probe``
    (measured on the 500-vector test embeddings: recall@5 0.825 at
    fraction=0.75/n_probe=6 vs 0.875-0.90 full-corpus-trained at
    n_probe=4; raising n_probe buys the recall back). The FULL corpus
    is still assigned/probed downstream — only training reads the
    sample.

    ``deterministic=True`` replaces each per-(cid, dim) ``avg`` with a
    fold over the cluster's values in ascending ``id_col`` order —
    float summation order becomes FIXED, so the trained centroids are
    bit-reproducible across partitionings, runs, AND engines (a
    sequential fold any SQL engine can restate; this is what lets the
    ``ivf_train_centroids`` driver query carry a full DuckDB oracle).
    The cost: the aggregation buffers each (cid, dim) group's values,
    so reserve it for training-sized corpora / verification — the
    default streaming ``avg`` is the 100 TB path (its 1-ulp
    nondeterminism moves an assignment only when two centroid dots tie
    within float noise, which the recall/balance gates tolerate).

    Init is the deterministic "first ``n_centroids`` rows by id" seed
    (reproducible across runs/partitionings); each iteration assigns
    every corpus vector in-row against the constant-folded centroid
    literal (zero assignment shuffles), then recomputes means with ONE
    ``(cid, dim-pos)`` aggregate shuffle and a bounded
    ``n_centroids × dim``-row collect. Empty clusters keep their
    previous centroid. Cost: ``n_iter`` passes over the corpus —
    training is a build-once step; persist/reuse the returned list for
    repeated probes.

    Returns ``[{"cid": int, "cent": [unit floats]}, ...]`` (cids keep
    their seed-row ids; list ordered by cid).

    When to train (measured on the 64-dim test embeddings): Lloyd's
    rounds BALANCE the inverted lists — the throughput lever at scale
    (bounded per-list candidate counts) — but at a fixed ``n_probe``
    they did NOT raise recall vs the seed centroids (0.875-0.90 trained
    vs 0.925 seed at n_probe=4/16; balanced lists put more true
    neighbors on probe boundaries). Train for list-size discipline on
    skewed corpora; keep seed centroids when recall at small n_probe is
    the only metric.
    """
    if sample_fraction is not None:
        from ..functions.sampling import hash_sample

        corpus = hash_sample(corpus, id_col, sample_fraction)
    cent_rows = (
        corpus.orderBy(F.col(id_col))
        .limit(n_centroids)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cent"))
        .collect()
    )
    cents = [{"cid": r["cid"], "cent": _unit_vec(r["cent"])} for r in cent_rows]
    if not cents:
        return cents
    for _ in range(max(0, n_iter)):
        cents_lit = _centroid_exprs(cents)
        # NOTE: the generator (posexplode) must live in its OWN select —
        # combining it with the lambda-struct extract trips Spark's
        # ExtractGenerator rewrite, which re-plans the aggregate lambda
        # and loses struct field aliases (FIELD_NOT_FOUND on `negdot`).
        assigned = (
            corpus.select(
                F.col(id_col).alias("__id"),
                F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
            )
            .select(
                "__id",
                _argmax_cid_expr(cents_lit, F.col("__v")).alias("__cid"),
                F.col("__v"),
            )
            .select("__id", "__cid", F.posexplode("__v").alias("__pos", "__x"))
        )
        if deterministic:
            # fixed-order fold: sort the group by id, then left-fold —
            # the sum every engine reproduces bit-for-bit
            mean_agg = (
                F.aggregate(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("__id").alias("i"), F.col("__x").alias("x")
                            )
                        )
                    ),
                    F.lit(0.0),
                    lambda acc, s: acc + s["x"],
                )
                / F.count("*")
            ).alias("__m")
        else:
            mean_agg = F.avg("__x").alias("__m")
        mean_rows = (
            assigned.groupBy("__cid", "__pos").agg(mean_agg).collect()
        )
        by_cid: dict = {}
        for r in mean_rows:
            by_cid.setdefault(r["__cid"], {})[r["__pos"]] = r["__m"]
        new_cents = []
        for c in cents:
            dims = by_cid.get(c["cid"])
            if dims:
                vec = [dims[i] for i in sorted(dims)]
                new_cents.append({"cid": c["cid"], "cent": _unit_vec(vec)})
            else:  # empty cluster: keep previous centroid
                new_cents.append(c)
        cents = new_cents
    return cents


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    train_iters: int = 0,
    centroids: list[dict] | None = None,
) -> DataFrame:
    """IVF-style ANN: deterministic sample of ``n_centroids`` corpus
    vectors act as centroids; every corpus vector is assigned to its
    nearest centroid's inverted list; queries probe the ``n_probe``
    nearest lists and re-rank exactly.

    Centroid assignment is computed IN-ROW: the centroids are collected
    once (bounded driver collect — n_centroids rows, same class of
    bounded metadata pull as the snapshot bucket ids) and folded into a
    literal array, so the nearest-centroid argmax is a pure column
    expression. The corpus is never replicated ×n_centroids and never
    shuffled for assignment — candidate generation is one broadcast
    join of the (tiny) probe set against the assigned corpus, and the
    only shuffle in the whole plan is the final per-query top-k window
    over candidates. At 100 TB the inverted lists would additionally be
    written bucketed-by-centroid so probe queries prune partitions.

    Centroids: ``centroids`` (from ``train_ivf_centroids``, reusable
    across queries) > ``train_iters`` Lloyd's rounds computed here > the
    deterministic "first n_centroids rows by id" seed. Centroids are
    UNIT-normalized on the driver: per row, ranking by cosine across
    centroids equals ranking by plain dot product against unit
    centroids (the row's own norm is a constant positive factor), so
    the hot per-row expression needs no norm at all.
    """
    if centroids is None:
        if train_iters > 0:
            centroids = train_ivf_centroids(
                corpus, vec_col, id_col, n_centroids, train_iters
            )
        else:
            centroids = _seed_centroids(corpus, id_col, vec_col, n_centroids)
    cents = centroids
    # the in-row centroid argmax is compute-heavy per row: make sure a
    # small single-file scan doesn't serialize it onto one core
    c = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    if not cents:
        # Empty corpus: schema-correct empty result.
        scored = (
            q.crossJoin(c)
            .where(F.lit(False))
            .select(
                "query_id",
                "neighbor_id",
                cosine_similarity_expr("__qvec", "__cvec").alias("cosine"),
            )
        )
        return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)

    # Centroids enter the plan as ONE constant-folded from_json literal
    # (same driver-side build-cost rationale as lsh_buckets_expr);
    # non-integer centroid ids fall back to the per-value literal shape.
    cents_lit = _centroid_exprs(cents)

    # Corpus assignment needs only the argmax (O(m) min-fold, module
    # helper shared with ivf_assign); only the query probe side needs
    # the full ranking (sorted ascending == similarity desc, cid asc
    # tie-break).
    c_assigned = c.withColumn(
        "__cid", _argmax_cid_expr(cents_lit, F.col("__cvec"))
    )
    q_probes = q.select(
        "query_id",
        "__qvec",
        _probe_cids_expr(cents_lit, F.col("__qvec"), n_probe).alias("__cid"),
    )

    # Each corpus vector lives in exactly one inverted list, so a
    # (query, neighbor) pair appears at most once — no dedup shuffle.
    candidates = c_assigned.join(F.broadcast(q_probes), on="__cid").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = candidates.select(
        "query_id",
        "neighbor_id",
        cosine_similarity_expr("__qvec", "__cvec").alias("cosine"),
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# Product quantization (Jégou/Douze/Schmid, TPAMI 2011): the memory-
# compression scale path for billion-vector ANN
# ---------------------------------------------------------------------------


def _pq_books_lit(codebooks: list[list[list[float]]]) -> Column:
    """Constant-folded codebook literal: ``m`` subspaces × ``k``
    centroids × ``dim/m`` floats as ONE from_json string (the
    lsh_buckets_expr rationale — thousands of lit() round-trips cost
    seconds of driver time; Catalyst folds this to a single value)."""
    return F.from_json(
        F.lit(json.dumps(codebooks)), "array<array<array<double>>>"
    )


def _sub_dist2(sub: Column, cent: Column) -> Column:
    """Squared L2 distance between a subvector and a centroid."""
    return F.aggregate(
        F.zip_with(sub, cent, lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_codes_expr(books_lit: Column, vec: Column, m: int, sub: int) -> Column:
    """Per-row PQ code: for each subspace j, the 0-based index of the
    nearest codebook centroid to ``vec[j*sub : (j+1)*sub]`` — an O(k)
    in-row min-fold per subspace, zero shuffles. Leaves of every lambda
    are attributes/literals, so there is no HOF re-evaluation blowup
    (the winnowing lesson)."""
    def best_code(j: Column) -> Column:
        subv = F.slice(vec, j * sub + 1, sub)
        cands = F.transform(
            F.element_at(books_lit, j + 1),
            lambda cent: _sub_dist2(subv, cent),
        )
        init = F.struct(
            F.lit(float("inf")).alias("d"), F.lit(0).cast("int").alias("c")
        )
        best = F.aggregate(
            F.zip_with(
                cands,
                F.sequence(F.lit(0), F.size(cands) - 1),
                lambda d, i: F.struct(d.alias("d"), i.cast("int").alias("c")),
            ),
            init,
            lambda acc, s: F.when(s["d"] < acc["d"], s).otherwise(acc),
        )
        return best["c"]

    return F.transform(F.sequence(F.lit(0), F.lit(m - 1)), best_code)


def train_pq_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k: int = 16,
    n_iter: int = 2,
    seeds: list | None = None,
    deterministic: bool = False,
    sample_fraction: float | None = None,
) -> list[list[list[float]]]:
    """Train PQ codebooks: split the vector into ``m`` subspaces and
    k-means each (ALL subspaces in the same corpus pass per Lloyd's
    iteration, not m separate trainings).

    Init is the deterministic "first ``k`` rows by id" seed; each
    iteration encodes every vector in-row against the constant-folded
    codebook literal (zero assignment shuffles), then recomputes means
    with ONE ``(subspace, code, subpos)`` aggregate shuffle and a
    bounded ``k × dim``-row collect. Empty cells keep their previous
    centroid. Returns ``codebooks[j][c] = centroid floats`` —
    persist/reuse for encode + search (training is a build-once step).

    ``deterministic=True`` replaces each cell's streaming ``avg`` with
    a fold over the cell's values in ascending ``id_col`` order (the
    ``train_ivf_centroids`` arrangement): float summation order is
    FIXED, so trained codebooks are bit-reproducible across
    partitionings, runs, and engines — what lets the ``ann_ivf_topk``
    driver query's ``ivfpq`` leg carry a full DuckDB oracle. The cost
    (each (subspace, code, subpos) cell buffers its values) reserves
    it for training-sized corpora; the default streaming ``avg`` is
    the 100 TB path.

    ``sample_fraction`` bounds the training read at corpus scale the
    same way as ``train_ivf_centroids``: seed init and every Lloyd's
    pass run over a deterministic md5-bucket ``hash_sample`` of the
    corpus (same keys every run/engine); encode/search still cover the
    full corpus.

    Requires ``dim % m == 0`` (standard PQ subspace split).
    """
    if sample_fraction is not None:
        from ..functions.sampling import hash_sample

        corpus = hash_sample(corpus, id_col, sample_fraction)
    # one job for seeds AND dim (a separate dim probe costs a full
    # scheduler round trip per training call); callers that already
    # hold the first-k vectors (e.g. sharing them with the IVF coarse
    # quantizer seed) pass them via ``seeds`` and skip the job entirely
    if seeds is not None:
        seed_vecs = [list(s) for s in seeds[:k]]
    else:
        seed_vecs = [
            r["v"]
            for r in corpus.orderBy(F.col(id_col))
            .limit(k)
            .select(F.col(vec_col).alias("v"))
            .collect()
        ]
    if not seed_vecs:
        return []
    dim = len(seed_vecs[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = [
        [[float(x) for x in v[j * sub : (j + 1) * sub]] for v in seed_vecs]
        for j in range(m)
    ]

    corpus = _spread(corpus)  # in-row encode must not run on one core
    for _ in range(max(0, n_iter)):
        books_lit = _pq_books_lit(books)
        dbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        enc = corpus.select(
            F.col(id_col).alias("__id"),
            _pq_codes_expr(books_lit, dbl, m, sub).alias("__codes"),
            dbl.alias("__v"),
        )
        jj = F.floor(F.col("__pos") / sub).cast("int")
        if deterministic:
            # fixed-order fold: sort the cell by id, then left-fold —
            # the sum every engine reproduces bit-for-bit (the
            # train_ivf_centroids deterministic-mode shape)
            mean_agg = (
                F.aggregate(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("__id").alias("i"), F.col("__x").alias("x")
                            )
                        )
                    ),
                    F.lit(0.0),
                    lambda acc, s: acc + s["x"],
                )
                / F.count("*")
            ).alias("__mean")
        else:
            mean_agg = F.avg("__x").alias("__mean")
        rows = (
            enc.select(
                "__id", F.posexplode("__v").alias("__pos", "__x"), "__codes"
            )
            .select(
                "__id",
                jj.alias("__j"),
                F.element_at("__codes", jj + 1).alias("__c"),
                (F.col("__pos") % sub).alias("__sp"),
                "__x",
            )
            .groupBy("__j", "__c", "__sp")
            .agg(mean_agg)
            .collect()
        )
        means: dict[tuple[int, int], list[float | None]] = {}
        for r in rows:
            cell = means.setdefault((r["__j"], r["__c"]), [None] * sub)
            cell[r["__sp"]] = r["__mean"]
        for (j, c), cell in means.items():
            if all(x is not None for x in cell):
                books[j][c] = [float(x) for x in cell]
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode vectors to PQ codes: ``(id, codes array<int> of length
    m)`` — ``m`` bytes of information per vector instead of ``dim``
    floats (32x compression at m=8/dim=64). Map-only; the codes
    relation is what a 100 TB deployment persists and scans."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    books_lit = _pq_books_lit(codebooks)
    dbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # deliberately NOT _spread: this is the relation a deployment
    # persists, and its plan must stay map-only (zero exchanges) so the
    # write pipelines with the scan; spread the INPUT if parallelism is
    # needed at encode time
    return corpus.select(
        F.col(id_col).alias("id"),
        _pq_codes_expr(books_lit, dbl, m, sub).alias("codes"),
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codes: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query,
    precompute the ``m × k`` lookup table of squared distances from the
    query's subvectors to every codebook centroid ONCE, then score each
    corpus code with ``m`` table lookups — O(m) per (query, vector)
    pair instead of O(dim), on a corpus that never materializes full
    vectors (pass a persisted ``codes`` relation to skip re-encoding).

    Output: ``query_id, neighbor_id, adc_dist (6 dp), rank`` — rank
    ascending by distance, ties by neighbor_id. Distances are
    quantization approximations; recall is gated in pytest against the
    exact baseline (compose with IVF list pruning at full scale so the
    ADC scan touches one inverted list per probe, not the corpus).
    """
    m = len(codebooks)
    sub = len(codebooks[0][0])
    books_lit = _pq_books_lit(codebooks)
    if codes is None:
        codes = pq_encode(corpus, codebooks, vec_col, id_col)
    cdf = codes.select(F.col("id").alias("neighbor_id"), "codes")

    qdbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    lut = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.transform(
            F.element_at(books_lit, j + 1),
            lambda cent: _sub_dist2(F.slice(qdbl, j * sub + 1, sub), cent),
        ),
    )
    q = queries.select(F.col(id_col).alias("query_id"), lut.alias("__lut"))

    score = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.element_at("__lut", j + 1), F.element_at("codes", j + 1) + 1
        ),
    )
    scored = (
        cdf.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(score, 6).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def ann_ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: list[dict] | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF + PQ composition (the FAISS ``IVFx,PQy`` index shape): the
    coarse quantizer prunes the corpus to ``n_probe`` inverted lists
    per query, and the ADC lookup table scores only those lists' PQ
    codes — per query, work is O(probed-list sizes × m) table reads
    over a corpus that persists as (id, centroid id, m-byte code), not
    vectors.

    ``codes``/``centroids`` accept pre-built relations (the persisted
    deployment shape; at full scale the code relation is additionally
    written bucketed-by-``cid`` so probes prune partitions); both are
    derived here when absent. Output matches ``pq_topk``:
    ``query_id, neighbor_id, adc_dist (6 dp), rank``.
    """
    m = len(codebooks)
    sub = len(codebooks[0][0])
    if centroids is None:
        cent_rows = (
            corpus.orderBy(F.col(id_col))
            .limit(n_centroids)
            .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cent"))
            .collect()
        )
        centroids = [
            {"cid": r["cid"], "cent": _unit_vec(r["cent"])} for r in cent_rows
        ]
    if not centroids:
        return pq_topk(corpus, queries, codebooks, k, vec_col, id_col)
    cents_lit = _centroid_exprs(centroids)
    books_lit = _pq_books_lit(codebooks)

    dblc = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    m_expr = _pq_codes_expr(books_lit, dblc, m, sub)
    if codes is None:
        # derive cid AND codes in ONE map pass over the (spread)
        # corpus — deriving codes separately and equi-joining back on
        # id would be a corpus self-join shuffle for data the same row
        # already holds
        assigned = _spread(corpus).select(
            F.col(id_col).alias("id"),
            _argmax_cid_expr(cents_lit, dblc).alias("__cid"),
            m_expr.alias("codes"),
        )
    else:
        assigned = _spread(corpus).select(
            F.col(id_col).alias("id"),
            _argmax_cid_expr(cents_lit, dblc).alias("__cid"),
        ).join(codes, on="id")

    qdbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    lut = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.transform(
            F.element_at(books_lit, j + 1),
            lambda cent: _sub_dist2(F.slice(qdbl, j * sub + 1, sub), cent),
        ),
    )
    n_probe_eff = max(1, min(n_probe, len(centroids)))
    probes = F.transform(
        F.slice(F.array_sort(_scored_cids_expr(cents_lit, qdbl)), 1, n_probe_eff),
        lambda s: s["cid"],
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        lut.alias("__lut"),
        F.explode(probes).alias("__cid"),
    )

    score = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.element_at("__lut", j + 1), F.element_at("codes", j + 1) + 1
        ),
    )
    # each corpus code lives in exactly one list -> a (query, neighbor)
    # pair appears at most once; candidates come from one broadcast
    # equi-join on the probed centroid id
    scored = (
        assigned.join(F.broadcast(q), on="__cid")
        .where(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.round(score, 6).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def _cos_expr(a: Column, b: Column) -> Column:
    """Cosine of two double arrays, all in-row HOF arithmetic."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    return dot / (na * nb)


def _semantic_assign(
    corpus: DataFrame,
    centroids: list[dict],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The semantic-dedup assignment relation ``(id, __v, cid)``:
    in-row argmin over a constant-folded centroid literal, ranking by
    ROUND(cosine, 6) DESC with ties to the lowest centroid id — the
    determinism contract the driver oracle replicates. ``_spread``
    keeps the per-row work off a single core on small scans."""
    cents_lit = F.from_json(
        F.lit(json.dumps([c["cent"] for c in centroids])),
        "array<array<double>>",
    )
    cids_lit = F.from_json(
        F.lit(json.dumps([int(c["cid"]) for c in centroids])), "array<bigint>"
    )
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cand = F.transform(
        F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
        lambda i: F.struct(
            F.round(-_cos_expr(v, F.element_at(cents_lit, i + 1)), 6).alias(
                "negcos"
            ),
            F.element_at(cids_lit, i + 1).alias("cid"),
        ),
    )
    return _spread(corpus).select(
        F.col(id_col).alias("id"),
        v.alias("__v"),
        F.array_min(cand)["cid"].alias("cid"),
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[dict] | None = None,
    n_clusters: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space with a coarse quantizer, compute pairwise cosine
    ONLY within clusters, and drop every vector that has a
    higher-priority (lower-id) near-duplicate (cosine >= ``threshold``)
    in its cluster — the semantic complement to MinHash (which only
    sees lexical overlap). Output is TOTAL: one row per input vector,
    ``(id_col, cid, keep, max_dup_cosine)`` where ``max_dup_cosine``
    is the strongest lower-id cluster-mate similarity (NULL when none
    reaches the threshold).

    Determinism contract (what makes the driver's oracle able to
    replicate it): centroids default to the first ``n_clusters`` rows
    by id; assignment ranks centroids by ROUND(cosine, 6) DESC with
    ties to the lowest centroid id — the rounding runs BEFORE ranking
    on both engines, so near-tie assignments can't diverge on
    floating-point summation order.

    Scale shape: assignment is one in-row argmin over a
    constant-folded centroid literal (zero shuffles, ``_spread``
    parallelism floor); the quadratic cosine work is confined to
    within-cluster pairs by a self-equi-join on the centroid id (the
    whole point of SemDeDup — O(sum of cluster sizes squared), not
    O(n^2)); the drop set aggregates per duplicate id. At 100 TB,
    grow ``n_clusters`` with the corpus (the paper uses ~100k) so
    clusters stay bounded, and persist the accepted set as a cluster
    store (``write_semantic_store``: parquet partitioned by ``cid``
    with the quantizer frozen in meta; ``semantic_dedup_incremental``
    then prunes each batch's candidate scan to its own cluster dirs) —
    cluster skew is then the only hazard, and AQE skew-join splitting
    handles hot clusters.
    No reference counterpart (extension op).
    """
    if centroids is None:
        rows = (
            corpus.orderBy(F.col(id_col))
            .limit(n_clusters)
            .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cent"))
            .collect()
        )
        centroids = [
            {"cid": r["cid"], "cent": [float(x) for x in r["cent"]]}
            for r in rows
        ]
    if not centroids:
        return corpus.select(
            F.col(id_col),
            F.lit(None).cast("long").alias("cid"),
            F.lit(True).alias("keep"),
            F.lit(None).cast("double").alias("max_dup_cosine"),
        )
    assigned = _semantic_assign(corpus, centroids, id_col, vec_col)
    # alias-qualified self-join: rename-then-join of two selects over
    # the same (spread) subtree trips Spark's attribute dedup on
    # LocalRelation inputs ([INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND] on the
    # lambda-bound vector column); DataFrame.alias resolves cleanly
    aa = assigned.alias("a")
    bb = assigned.alias("b")
    pairs = (
        aa.join(bb, F.col("a.cid") == F.col("b.cid"))
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("b.id").alias("id_b"),
            F.round(_cos_expr(F.col("a.__v"), F.col("b.__v")), 6).alias("__cos"),
        )
    )
    drops = (
        pairs.where(F.col("__cos") >= float(threshold))
        .groupBy(F.col("id_b").alias("id"))
        .agg(F.max("__cos").alias("max_dup_cosine"))
    )
    return (
        assigned.join(drops, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            "cid",
            F.col("max_dup_cosine").isNull().alias("keep"),
            "max_dup_cosine",
        )
    )


_SEM_DATA_DIR = "clusters"


def write_semantic_store(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[dict] | None = None,
    n_clusters: int = 16,
    mode: str = "overwrite",
    with_batch_col: bool = False,
) -> None:
    """Persist a semantic-dedup cluster store — the layout
    ``semantic_dedup``'s docstring prescribes for full scale: the
    accepted corpus' ``(id, vector)`` rows written parquet-partitioned
    by their coarse-quantizer cluster id, with the centroids FROZEN
    into ``<path>/store_meta.json`` so every later batch assigns
    identically (mismatched centroids make cluster-confined candidate
    generation meaningless — the signature store freezes its banding
    for the same reason).

    Store layout: ``<path>/clusters/cid=<k>/*.parquet`` (id, v) +
    ``<path>/store_meta.json`` {centroids, schema}, on the
    ``sources/store.py`` protocol (an overwrite of an existing store
    publishes a new version). Single-writer. ``with_batch_col=True``
    freezes a ``batch_id`` provenance column into the schema (seed
    rows get -1): the
    streaming wrapper stamps every append with its micro-batch id so
    crash-replays can exclude their own earlier append.
    """
    spark = corpus.sparkSession
    if centroids is None:
        rows = (
            corpus.orderBy(F.col(id_col))
            .limit(n_clusters)
            .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cent"))
            .collect()
        )
        centroids = [
            {"cid": int(r["cid"]), "cent": [float(x) for x in r["cent"]]}
            for r in rows
        ]
    if not centroids:
        raise ValueError(
            "write_semantic_store: empty corpus and no centroids — an "
            "empty store must still freeze its quantizer"
        )
    assigned = _semantic_assign(corpus, centroids, id_col, vec_col)
    if with_batch_col:
        assigned = assigned.withColumn("batch_id", F.lit(-1).cast("long"))
    meta = {
        "centroids": centroids,
        # frozen read schema: empty/partial stores must open without
        # footer inference
        "schema": json.loads(assigned.schema.json()),
    }

    def write(dst: str, mode: str) -> None:
        assigned.write.mode(mode).partitionBy("cid").parquet(dst)

    store = Store(path, _SEM_DATA_DIR)
    store.publish(spark, meta, write, store.read_meta(spark), mode)


def read_semantic_store_meta(spark, path: str) -> dict:
    """Centroids, frozen schema and data version of the cluster store."""
    return Store(path, _SEM_DATA_DIR).require_meta(spark)


def append_semantic_store(assigned: DataFrame, path: str) -> None:
    """Append accepted-batch ``(id, __v, cid)`` rows (from
    ``semantic_dedup_incremental``'s second return) — dynamic partition
    append: new part files land only in the cluster dirs the rows
    belong to. ``assigned`` must carry every frozen store column
    (appending a narrower relation would silently null provenance
    columns later replay-exclusion reads depend on)."""
    meta = read_semantic_store_meta(assigned.sparkSession, path)
    cols = [f["name"] for f in meta["schema"]["fields"]]
    missing = [c for c in cols if c not in assigned.columns]
    if missing:
        raise ValueError(
            f"append_semantic_store: assigned lacks frozen store columns {missing}"
        )
    assigned.write.mode("append").partitionBy("cid").parquet(
        Store(path, _SEM_DATA_DIR).data_path(meta)
    )


def compact_semantic_store(spark, path: str) -> None:
    """Rewrite the cluster store as one part file per cid dir with
    full-row duplicates (a crash-window double append) and stale
    replay markers dropped, published as a new version. Run between
    batches."""
    compact_partitioned(spark, Store(path, _SEM_DATA_DIR), "cid")


def semantic_dedup_incremental(
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    exclude_batch_id: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental SemDeDup against the cluster store: the batch is
    assigned with the STORE'S frozen centroids, and its vectors die if
    a semantic near-duplicate (cosine >= ``threshold``) exists either
    in the store (store always wins — it holds already-accepted data)
    or on a lower-id batch row in the same cluster.

    Returns ``(verdict, new_assigned)``: ``verdict`` is TOTAL — one
    row per batch vector ``(id_col, cid, keep, max_dup_cosine)``;
    ``new_assigned`` holds the kept rows in store shape for
    ``append_semantic_store``.

    Scale shape: the batch names its clusters (a <= n_clusters-int
    driver collect) and the store scan is PARTITION-PRUNED to exactly
    those cluster dirs — per-batch cost is the batch plus its touched
    clusters, never the whole store (the signature store's bucketed
    contract, for the semantic half). ``exclude_batch_id`` ignores
    store rows stamped with that batch id (crash-replay idempotency
    for the streaming wrapper; requires a store written with
    ``with_batch_col=True``).
    """
    from pyspark.sql.types import StructType

    spark = batch.sparkSession
    meta = read_semantic_store_meta(spark, path)
    cents = meta["centroids"]
    assigned = _semantic_assign(batch, cents, id_col, vec_col).localCheckpoint(
        eager=True
    )
    batch_cids = [r[0] for r in assigned.select("cid").distinct().collect()]
    schema = StructType.fromJson(meta["schema"])
    store = (
        spark.read.schema(schema)
        .parquet(Store(path, _SEM_DATA_DIR).data_path(meta))
        .where(F.col("cid").isin(batch_cids))
    )
    store = _exclude_batch_filter(store, schema, exclude_batch_id)
    cross = (
        assigned.alias("b")
        .join(store.alias("s"), F.col("b.cid") == F.col("s.cid"))
        .select(
            F.col("b.id").alias("id"),
            F.round(_cos_expr(F.col("b.__v"), F.col("s.__v")), 6).alias("__cos"),
        )
        .where(F.col("__cos") >= float(threshold))
    )
    aa = assigned.alias("a")
    bb = assigned.alias("b")
    within = (
        aa.join(bb, F.col("a.cid") == F.col("b.cid"))
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("b.id").alias("id"),
            F.round(_cos_expr(F.col("a.__v"), F.col("b.__v")), 6).alias("__cos"),
        )
        .where(F.col("__cos") >= float(threshold))
    )
    drops = (
        cross.unionByName(within)
        .groupBy("id")
        .agg(F.max("__cos").alias("max_dup_cosine"))
    )
    verdict = (
        assigned.join(drops, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            "cid",
            F.col("max_dup_cosine").isNull().alias("keep"),
            "max_dup_cosine",
        )
    )
    kept_ids = verdict.where(F.col("keep")).select(
        F.col(id_col).alias("id")
    )
    new_assigned = assigned.join(kept_ids, on="id")
    return verdict, new_assigned


# ---------------------------------------------------------------------------
# Persisted IVF index store: build the inverted lists ONCE, probe many —
# the "index once, query many" layout ann_ivf_topk's docstring
# prescribes for full scale (written bucketed-by-centroid so probe
# queries prune partitions instead of scanning the corpus per query).
# ---------------------------------------------------------------------------

_IVF_DATA_DIR = "lists"


def write_ivf_store(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[dict] | None = None,
    n_centroids: int = 16,
    train_iters: int = 0,
    mode: str = "overwrite",
) -> None:
    """Persist the corpus as an IVF index: ``(id, v)`` rows written
    parquet-partitioned by nearest-centroid list id, centroids FROZEN
    into ``<path>/store_meta.json`` so every later append and probe
    assigns identically (the signature/semantic-store freezing rule).
    Centroid precedence: explicit ``centroids`` > ``train_iters``
    Lloyd's rounds > deterministic first-``n_centroids``-rows seed.
    Layout: ``<path>/lists/cid=<k>/*.parquet`` + meta, on the
    ``sources/store.py`` protocol (an overwrite of an existing index
    publishes a new version). Single-writer."""
    spark = corpus.sparkSession
    if centroids is None:
        if train_iters > 0:
            centroids = train_ivf_centroids(
                corpus, vec_col, id_col, n_centroids, train_iters
            )
        else:
            centroids = _seed_centroids(corpus, id_col, vec_col, n_centroids)
    if not centroids:
        raise ValueError(
            "write_ivf_store: empty corpus and no centroids — an empty "
            "index must still freeze its quantizer"
        )
    assigned = _ivf_store_rows(corpus, centroids, id_col, vec_col)
    meta = {
        "centroids": centroids,
        # frozen read schema: empty/partial stores open without footer
        # inference
        "schema": json.loads(assigned.schema.json()),
    }

    def write(dst: str, mode: str) -> None:
        # repartition ON cid: ~1 file/list instead of tasks x lists tiny
        # files — a probe's pruned scan opens nprobe files, not thousands
        assigned.repartition(len(centroids), "cid").write.mode(
            mode
        ).partitionBy("cid").parquet(dst)

    store = Store(path, _IVF_DATA_DIR)
    store.publish(spark, meta, write, store.read_meta(spark), mode)


def _ivf_store_rows(
    corpus: DataFrame, centroids: list[dict], id_col: str, vec_col: str
) -> DataFrame:
    cents_lit = _centroid_exprs(centroids)
    return _spread(corpus).select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).withColumn("cid", _argmax_cid_expr(cents_lit, F.col("v")))


def read_ivf_store_meta(spark, path: str) -> dict:
    """Centroids, frozen schema and data version of the IVF index."""
    return Store(path, _IVF_DATA_DIR).require_meta(spark)


def append_ivf_store(
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append new vectors, assigned with the STORE'S frozen centroids
    (dynamic partition append: part files land only in the list dirs
    the batch's vectors hash to). The centroids are never retrained
    here — recall drifts as the corpus distribution moves, so rebuild
    (``write_ivf_store``) when list balance degrades."""
    meta = read_ivf_store_meta(batch.sparkSession, path)
    rows = _ivf_store_rows(batch, meta["centroids"], id_col, vec_col)
    rows.write.mode("append").partitionBy("cid").parquet(
        Store(path, _IVF_DATA_DIR).data_path(meta)
    )


def ann_ivf_store_topk(
    queries: DataFrame,
    path: str,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the persisted index: queries rank the frozen centroids
    IN-ROW, their ``n_probe`` nearest list ids form a bounded driver
    collect (<= n_centroids ints), the store scan is PARTITION-PRUNED
    to exactly those list dirs, and the (tiny) query-probe relation
    broadcasts into the candidate equi-join — per-query cost ∝ probed
    lists, never corpus size. Output: ``(query_id, neighbor_id,
    cosine, rank)``, exact re-rank within candidates (identical to
    ``ann_ivf_topk`` with the same centroids)."""
    from pyspark.sql.types import StructType

    spark = queries.sparkSession
    meta = read_ivf_store_meta(spark, path)
    cents_lit = _centroid_exprs(meta["centroids"])
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__qvec"),
    )
    q_probes = q.select(
        "query_id",
        "__qvec",
        _probe_cids_expr(cents_lit, F.col("__qvec"), n_probe).alias("cid"),
    ).localCheckpoint(eager=True)  # query-sized; feeds probe list + join
    probes = [r[0] for r in q_probes.select("cid").distinct().collect()]
    store = (
        spark.read.schema(StructType.fromJson(meta["schema"]))
        .parquet(Store(path, _IVF_DATA_DIR).data_path(meta))
        # partition-pruned scan: only the probed list dirs are read
        .where(F.col("cid").isin(probes))
    )
    candidates = store.join(F.broadcast(q_probes), on="cid").where(
        F.col("query_id") != F.col("id")
    )
    scored = candidates.select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        cosine_similarity_expr("__qvec", "v").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def compact_ivf_store(spark, path: str) -> None:
    """Rewrite the index as one part file per list dir with full-row
    duplicates (a crash-window double append) dropped, published as a
    new version."""
    compact_partitioned(spark, Store(path, _IVF_DATA_DIR), "cid")
