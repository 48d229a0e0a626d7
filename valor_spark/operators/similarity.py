"""Similarity search over embedding columns (``array<float>``).

* brute-force cosine top-k — the exact baseline: query set x corpus via a
  broadcast join, dot/norms with F.zip_with + F.aggregate (JVM-side), window
  top-k.  Exact but O(|Q| * N) — fine when the query set is small/broadcast.
* LSH-bucketed cosine      — the scale path: random-hyperplane signatures
  (deterministic pseudo-planes derived from dimension index) bucket the
  corpus; queries only compare within their bucket.  Approximate, near-linear.
* LSH bucket self-joins    — :func:`knn_graph` and
  ``dedup.embedding_near_dup_pairs`` score every bucket with one
  mapInArrow Gram-matrix kernel (:func:`_bucket_cosine_pairs`).

Scale notes: the corpus side never collects; broadcasting the (small) query
set keeps the big side shuffle-free.  For 100 TB of embeddings the
LSH variant shuffles once on the bucket key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


class EmbeddingShapeError(ValueError):
    """Vectors that cannot be scored against each other: different lengths
    in one bucket, or a NULL element.  DuckDB's ``list_cosine_similarity``
    rejects unequal lengths too."""


def _f64(col: Column) -> Column:
    """Cast array<float> -> array<double> so both engines (and the oracle)
    compute in the same precision."""
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product as a strict LEFT FOLD: ((0.0 + a0*b0) + a1*b1) + ...

    Higher-order functions are CodegenFallback (interpreted per element):
    fine per ROW or against a small broadcast query set, too slow once per
    CANDIDATE PAIR of a self-join — those score in
    :func:`_bucket_cosine_arrow`, which folds in the same order and gives
    the same bits."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity with a zero-norm guard: a zero vector has no
    direction, so its similarity to anything is 0.0 — without the guard,
    Spark 4 ANSI mode aborts the whole job with DIVIDE_BY_ZERO, and with
    ANSI off the NaN result sorts ABOVE every real score, ranking the zero
    vector as everyone's top neighbor."""
    den = norm(a) * norm(b)
    return F.when(den == 0, F.lit(0.0)).otherwise(dot(a, b) / den)


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is small -> broadcast; corpus streams through one stage;
    per-query top-k via window row_number (score desc, id asc tie-break).
    Self-matches (same id) are excluded.

    Norms are hoisted into per-ROW projections below the join: higher-order
    array functions are interpreted (CodegenFallback), so computing them per
    PAIR costs |Q| * N traversals where N + |Q| suffice.  The score keeps the
    exact expression shape dot/(qn*cn) — bit-identical to the inline form
    (and to the oracle's list_cosine_similarity)."""
    vexpr = _f64(F.col(vec_col))
    q = queries.select(
        F.col(id_col).alias("query_id"), vexpr.alias("qv")
    ).select("query_id", "qv", norm(F.col("qv")).alias("qn"))
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), vexpr.alias("cv")
    ).select("neighbor_id", "cv", norm(F.col("cv")).alias("cn"))
    den = F.col("qn") * F.col("cn")
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.when(den == 0, F.lit(0.0)).otherwise(
                    dot(F.col("qv"), F.col("cv")) / den
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def _pseudo_plane_sign(vec: Column, plane_idx: int) -> Column:
    """Sign of <vec, r_p> where r_p is a deterministic pseudo-random
    hyperplane via the FULL shader-noise hash:
    ``r_p[d] = fract(sin(p*12.9898 + d*78.233) * 43758.5453) * 2 - 1``.

    The ``fract(sin(.) * 43758.5453)`` step is essential, not cosmetic:
    bare ``sin(p*a + d*b)`` planes are all linear combinations of the same
    two basis vectors ``(sin(d*b), cos(d*b))``, so every plane normal lives
    in ONE 2-D subspace and n planes cut it into at most 2n sectors — we
    measured exactly 20 distinct buckets at n_planes=10 (instead of up to
    1024), inflating LSH candidate volume ~50x at scale.  Multiplying by a
    large constant and taking the fractional part decorrelates dimensions
    (the classic GLSL hash) while staying exactly reproducible in any
    engine: sin/floor are IEEE-deterministic double ops."""
    proj = F.aggregate(
        F.zip_with(
            vec,
            F.sequence(F.lit(0), F.size(vec) - 1),
            lambda x, d: x
            * (
                (
                    lambda v: (v - F.floor(v)) * 2 - 1
                )(
                    F.sin(
                        F.lit(float(plane_idx)) * 12.9898
                        + d.cast("double") * 78.233
                    )
                    * 43758.5453
                )
            ),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (proj >= 0).cast("int")


def lsh_bucket(vec: Column, n_planes: int = 8, table: int = 0) -> Column:
    """Random-hyperplane LSH bucket id: n_planes sign bits packed to int.
    ``table`` selects an independent plane family (multi-table LSH)."""
    out = F.lit(0)
    for p in range(n_planes):
        out = out + _pseudo_plane_sign(vec, table * 1000 + p) * F.lit(1 << p)
    return out


def cosine_topk_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: the corpus is inverted-list-partitioned
    by nearest centroid; each query scores only the lists of its ``n_probe``
    nearest centroids.

    Centroids are a deterministic pseudo-random sample: the ``n_centroids``
    rows with the smallest ``md5(id)`` — a stand-in for k-means that is
    reproducible in ANY engine (the oracle replicates it verbatim); swap in
    trained centroids at production scale.

    Scale design — no driver-side materialization anywhere: the sample is
    ``orderBy(md5).limit(n)`` (``TakeOrderedAndProject``: per-partition
    partial top-k, no global sort, no ``count()``); the centroid set is
    folded to ONE row via ``collect_list`` and broadcast-crossJoined, so
    centroid assignment is a single narrow pass over the corpus (no
    ``collect()``, no per-row literal expansion, no unpartitioned Window)."""
    vexpr = _f64(F.col(vec_col))
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), vexpr.alias("cv")
    )
    centroids = (
        c.select(
            F.col("neighbor_id").alias("cid"),
            F.col("cv").alias("centroid"),
            F.md5(F.col("neighbor_id").cast("string")).alias("h"),
        )
        .orderBy("h", "cid")
        .limit(n_centroids)
    )
    cent_row = centroids.agg(
        F.collect_list(F.struct(F.col("cid"), F.col("centroid"))).alias("cents")
    )

    def nearest_lists(vec: Column, probe: int) -> Column:
        """ids of the ``probe`` nearest centroids (by cosine) as an array.
        Sort key = (-score rounded to 6, cid): descending by similarity,
        ascending id tie-break — rounded so both engines agree at float
        boundaries."""
        scored = F.transform(
            F.col("cents"),
            lambda ct: F.struct(
                (-F.round(cosine(vec, ct.getField("centroid")), 6)).alias("negs"),
                ct.getField("cid").alias("cid"),
            ),
        )
        top = F.slice(F.array_sort(scored), 1, probe)
        return F.transform(top, lambda t: t.getField("cid"))

    corpus = (
        c.crossJoin(F.broadcast(cent_row))
        .withColumn("list_id", nearest_lists(F.col("cv"), 1)[0])
        .drop("cents")
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), vexpr.alias("qv")
        )
        .crossJoin(F.broadcast(cent_row))
        .withColumn("probe", nearest_lists(F.col("qv"), n_probe))
        .drop("cents")
    )
    q = q.select("query_id", "qv", F.explode("probe").alias("list_id"))
    scored = (
        corpus.join(F.broadcast(q), on="list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def cosine_topk_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_planes: int | None = 8,
    n_tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket: int = 32,
) -> DataFrame:
    """Approximate top-k: only corpus vectors sharing an LSH bucket with the
    query (in ANY of ``n_tables`` independent plane families) are scored.
    Multiple tables are the standard recall fix for boundary flips — a
    near-identical pair split by one table's near-zero projection is joined
    by another table.  Each table's join is on its bucket key; candidates
    dedupe before scoring, so cost ~ n_tables * N/2^n_planes per query.
    ``n_planes=None`` auto-scales the signature width to the CORPUS size
    (same :func:`auto_n_planes` lever as :func:`knn_graph` — per-query
    candidate volume stays ~``target_bucket`` per table at any N)."""
    if n_planes is None:
        n_planes = auto_n_planes(
            embeddings.select(id_col).count(), target_bucket=target_bucket
        )

    vexpr = _f64(F.col(vec_col))
    npart = embeddings.sparkSession.sparkContext.defaultParallelism * 2
    # query side is small (broadcast) — no spread; corpus side is the probe
    # and gets the cluster-derived spread (see _with_tb)
    q = _with_tb(
        queries.select(F.col(id_col).alias("query_id"), vexpr.alias("qv")),
        "qv",
        n_planes,
        n_tables,
    )
    c = _with_tb(
        embeddings.select(F.col(id_col).alias("neighbor_id"), vexpr.alias("cv")),
        "cv",
        n_planes,
        n_tables,
        spread_to=npart,
    )
    # score BEFORE deduping so the dedup shuffle carries scalars, not the
    # two d-dim vectors (same fat-shuffle fix as knn_graph — see ledger)
    scored = (
        c.join(F.broadcast(q), on=["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("score"),
        )
        .repartition(F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def _bucket_cosine_arrow(
    k: int | None, threshold: float | None, margin: float = 2e-6
):
    """mapInArrow scorer over bucket GROUPS ``(items: list<struct<id,v>>)``
    -> candidate rows ``(src_id, nbr_id, score)``, both orders of a pair,
    never ``src == nbr``.

    Replaces the join-then-score shape on two axes at once:

    * **Arrow volume** — a pair self-join ships two d-dim vectors per
      CANDIDATE PAIR (``O(pairs * d)`` bytes; 3.4 GB at 20k vectors /
      6 planes / 2 tables).  Grouping by ``(table, bucket)`` ships each
      vector ONCE per table (``O(N * n_tables * d)``, ~20 MB same corpus).
    * **Downstream rows** — the kernel computes the bucket's full score
      matrix and emits only pairs that can survive the caller's selection
      on the ``round(score, 6)`` Spark applies AFTER the kernel (a move of
      at most 5e-7):

      - ``k`` set: per source row, everything scoring at least (the row's
        k-th best unrounded score in this bucket) ``- margin``; a row with
        at most ``k`` bucket-mates keeps all of them.
      - ``threshold`` set: every pair scoring at least
        ``threshold - margin``.

      ``margin=2e-6`` keeps a strict superset; the caller's dedup +
      window/filter makes the exact final selection.  Rows into the
      post-kernel shuffle drop from O(pairs) (13.8M at sf1.0) to
      ~``N * n_tables * k``.

    The dimension is each group's list length, read from the Arrow offsets.
    A group whose vectors differ in length, or a batch holding a NULL
    element, raises :class:`EmbeddingShapeError`.

    Score arithmetic is BIT-IDENTICAL to the Column :func:`cosine`: the
    Gram matrix accumulates rank-1 outer products in dim order, so each
    ``G[r, c]`` is the same left-to-right IEEE double fold
    ``((0 + a0*b0) + a1*b1) + ...`` (float->double widening is exact);
    norms fold in the same order, and ``sqrt(na) * sqrt(nb)`` / guarded
    divide are the same single IEEE ops.  Per-group memory is one ``b x b``
    matrix — bounded in practice because the quadratic score cost makes
    oversized buckets infeasible long before their matrix does
    (``auto_n_planes`` is the occupancy lever)."""

    def score_batches(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            items = batch.column("items")
            offs = np.asarray(items.offsets)
            offs = offs - offs[0]
            structs = items.flatten()
            ids = structs.field("id")
            v = structs.field("v")
            flat = v.flatten()
            if flat.null_count:
                raise EmbeddingShapeError("embedding holds a NULL element")
            vals = np.asarray(flat, dtype=np.float64)
            voffs = np.asarray(v.offsets)
            voffs = voffs - voffs[0]
            lens = np.diff(voffs)
            rows, cols = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)]
            scores = [np.zeros(0)]
            for g in range(batch.num_rows):
                lo, hi = int(offs[g]), int(offs[g + 1])
                b = hi - lo
                if b < 2:
                    continue
                dim = int(lens[lo])
                if (lens[lo:hi] != dim).any():
                    raise EmbeddingShapeError(
                        f"embeddings of lengths {sorted(set(lens[lo:hi].tolist()))} "
                        "share an LSH bucket"
                    )
                V = vals[voffs[lo]:voffs[hi]].reshape(b, dim)
                # exact-order Gram + norms: accumulate one rank-1 outer
                # product per dimension, left-to-right — bit-identical to
                # the per-pair fold
                G = np.zeros((b, b))
                n2 = np.zeros(b)
                for i in range(dim):
                    col = V[:, i]
                    G += np.multiply.outer(col, col)
                    n2 = n2 + col * col
                rt = np.sqrt(n2)
                den = np.multiply.outer(rt, rt)
                S = np.zeros((b, b))
                np.divide(G, den, out=S, where=den != 0.0)
                np.fill_diagonal(S, -np.inf)
                if k is None:
                    thresh = threshold - margin
                elif b - 1 <= k:
                    thresh = -np.inf
                else:
                    # k-th largest per row (unrounded), minus the margin
                    thresh = np.partition(S, b - k, axis=1)[:, b - k, None] - margin
                keep = S >= thresh
                # -inf >= -inf: a row with <= k bucket-mates would keep itself
                np.fill_diagonal(keep, False)
                r, c = np.nonzero(keep)
                rows.append(r + lo)
                cols.append(c + lo)
                scores.append(S[r, c])
            yield pa.record_batch(
                [
                    ids.take(pa.array(np.concatenate(rows))),
                    ids.take(pa.array(np.concatenate(cols))),
                    pa.array(np.concatenate(scores)),
                ],
                names=["src_id", "nbr_id", "score"],
            )

    return score_batches


def _with_tb(
    df: DataFrame,
    vc: str,
    n_planes: int,
    n_tables: int,
    spread_to: int | None = None,
) -> DataFrame:
    """Append exploded ``(table, bucket)`` LSH rows to every row of ``df``.

    ``spread_to``: round-robin repartition width applied FIRST — the corpus
    is usually a handful of scan partitions, and everything downstream
    (bucket computation, and with a broadcast join the entire pair
    generation + scoring) runs at this partitioning; measured 2 tasks doing
    13.4M pair-scores while 30 cores idled.  AQE cannot fix it (the join
    INPUT is tiny; the ~300x blowup happens inside the join)."""
    cols = df.columns
    src = df.repartition(spread_to) if spread_to else df
    return src.select(
        *cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("table"),
                        lsh_bucket(F.col(vc), n_planes, t).alias("bucket"),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("tb"),
    ).select(*cols, "tb.table", "tb.bucket")


def _bucket_cosine_pairs(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int,
    n_tables: int,
    k: int | None = None,
    threshold: float | None = None,
) -> DataFrame:
    """Scored bucket-sharing pairs ``(src_id, nbr_id, score)`` of an LSH
    self-join, both orders, ``score`` rounded to 6 decimals, one row per
    pair (a pair sharing buckets in several tables scores identically in
    each).  Keeps what :func:`_bucket_cosine_arrow` keeps for ``k`` or
    ``threshold``.

    A NULL vector has no direction and gets no pairs.  Each
    ``(table, bucket)`` occupancy is collected into ONE list row, so every
    vector crosses the Arrow boundary once per table; the repartition
    spreads the ~``n_tables * 2^n_planes`` group rows so hot buckets score
    in parallel.  The explicit repartition on ``src_id`` lets both the pair
    dedup (keys src, nbr) and a caller's per-source window reuse ONE
    exchange."""
    npart = embeddings.sparkSession.sparkContext.defaultParallelism * 2
    base = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).filter(F.col("v").isNotNull())
    id_type = base.schema["id"].dataType.simpleString()
    grouped = (
        _with_tb(base, "v", n_planes, n_tables, spread_to=npart)
        .groupBy("table", "bucket")
        .agg(F.collect_list(F.struct("id", "v")).alias("items"))
        .select("items")
        .repartition(npart)
    )
    return (
        grouped.mapInArrow(
            _bucket_cosine_arrow(k, threshold),
            f"src_id {id_type}, nbr_id {id_type}, score double",
        )
        .select("src_id", "nbr_id", F.round("score", 6).alias("score"))
        .repartition(F.col("src_id"))
        .dropDuplicates(["src_id", "nbr_id"])
    )


def auto_n_planes(
    n_vectors: int, target_bucket: int = 32, max_planes: int = 24
) -> int:
    """Plane count that holds the EXPECTED bucket size ~``target_bucket``
    as the corpus grows: ``2^planes ≈ n_vectors / target_bucket``.

    This is the documented 100x-scale lever for :func:`knn_graph` made
    executable: candidate volume per table is ``N * E[bucket size]``, so a
    FIXED plane count degrades quadratically with N while a log2-scaled one
    keeps per-bucket work constant.  ``target_bucket`` trades recall
    (bigger buckets -> more candidates -> better recall) against cost;
    ``max_planes`` caps signature width (24 planes = 16M buckets — beyond
    that bucket ids outgrow useful occupancy at any realistic N and recall
    collapses, add tables instead)."""
    import math

    if n_vectors <= target_bucket:
        return 1
    return max(1, min(max_planes, math.ceil(math.log2(n_vectors / target_bucket))))


def knn_graph(
    embeddings: DataFrame,
    k: int = 3,
    n_planes: int | None = 8,
    n_tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket: int = 32,
) -> DataFrame:
    """Approximate k-NN GRAPH: every corpus vector gets its top-k
    bucket-sharing neighbors — the backbone of embedding-based curation
    (near-dup pruning, diversity sampling, cluster seeding).

    Same multi-table LSH shape as :func:`cosine_topk_lsh` with the
    broadcast removed: both sides are the full corpus, so candidates are
    every pair sharing a ``(table, bucket)``, scored per bucket by
    :func:`_bucket_cosine_pairs`.  Candidate volume is
    ~ ``n_tables * N * E[bucket size]`` = ``n_tables^2 * N^2 / 2^n_planes``
    worst-case uniform; raise ``n_planes`` as N grows to hold bucket sizes
    constant.  Scores are rounded to 6 decimals (engine-portable) and ties
    rank by ascending neighbor id, making the graph fully deterministic and
    bit-identical to the per-pair formulation and the oracle.

    ``n_planes=None`` auto-scales the signature width to the corpus size
    via :func:`auto_n_planes` (one count() over the id column — a
    metadata-only columnar scan — then ``ceil(log2(N / target_bucket))``
    planes), keeping expected bucket size ~``target_bucket`` at any N
    instead of letting candidate volume grow quadratically.
    """
    if n_planes is None:
        n_planes = auto_n_planes(
            embeddings.select(id_col).count(), target_bucket=target_bucket
        )
    scored = _bucket_cosine_pairs(
        embeddings, id_col, vec_col, n_planes, n_tables, k=k
    )
    w = Window.partitionBy("src_id").orderBy(
        F.col("score").desc(), F.col("nbr_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src_id", "nbr_id", "score", "rank")
    )
