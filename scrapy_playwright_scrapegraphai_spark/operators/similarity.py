"""Similarity search over embedding columns (array<float>).

Brute-force top-k is the exactness baseline; LSH (random-hyperplane)
bucketing is the scale path — at 10^9 vectors the cross product is
impossible, but bucket-local brute force after a 16-bit sign-sketch
band join touches ~n/2^16 of the space per probe.

Numeric discipline: every score is integer-quantized
(floor(x*``SCALE``)) so Spark and DuckDB agree bit-for-bit — float dot
products differ across engines in the last ulp (summation order), which
would flip top-k ties. All integer arithmetic stays below 2^63 for
64-dim embeddings in [-1, 1].
"""

from __future__ import annotations

from functools import reduce
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.column import Column
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import LongType

# quantization factor; the SQL oracles hard-code floor(x * 1000.0)
SCALE = 1000


def quantize_expr(col) -> Column:
    """array<float> → array<long> via floor(x*SCALE) (exact & portable:
    IEEE multiply then floor is identical in any engine)."""
    return F.transform(col, lambda x: F.floor(x * F.lit(float(SCALE))).cast("long"))


def int_dot_expr(a, b) -> Column:
    """Integer dot product of two array<long> columns — JVM-side
    zip_with + aggregate (whole-stage codegen, no Python)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def sq_norm_expr(a) -> Column:
    return int_dot_expr(a, a)


def _quantized(df: DataFrame, id_col: str, vec_col: str, *keep) -> DataFrame:
    """(vid, qv, *keep, n): the quantized vector and its int64 |qv|²."""
    return df.select(
        F.col(id_col).alias("vid"), quantize_expr(F.col(vec_col)).alias("qv"), *keep
    ).withColumn("n", sq_norm_expr(F.col("qv")))


def _sq_dist() -> Column:
    """int64 ||v−c||² = n − 2·v·c + cn over (qv, n) × (cv, cn) —
    bit-stable across partitioning."""
    return (
        F.col("n") - F.lit(2) * int_dot_expr(F.col("qv"), F.col("cv"))
        + F.col("cn")
    )


def _knn(q: DataFrame, c: DataFrame, k: int, on: str | None = None) -> DataFrame:
    """Top-k of broadcast queries (query_id, qv[, on]) against candidates
    (neighbor_id, cv[, on]) by integer dot product, crossed or joined on
    ``on``. Deterministic tie-break: (dot DESC, neighbor id ASC). Output
    (query_id, neighbor_id, dot, rank)."""
    joined = F.broadcast(q).crossJoin(c) if on is None else F.broadcast(q).join(c, on)
    scored = joined.select(
        "query_id", "neighbor_id",
        int_dot_expr(F.col("qv"), F.col("cv")).alias("dot"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dot", "rank")
    )


def knn_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by quantized dot product for each query vector.

    queries: (query_id, embedding). Broadcast the queries (small side),
    stream the corpus once, per-query window top-k.
    """
    q = queries.select("query_id", quantize_expr(F.col(vec_col)).alias("qv"))
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        quantize_expr(F.col(vec_col)).alias("cv"),
    )
    return _knn(q, c, k)


def _self_pairs(v: DataFrame, on: str | None = None) -> DataFrame:
    """(id_a < id_b, qa, qb, n_a, n_b) over a ``_quantized`` frame, all
    pairs or those equal on ``on``."""
    a, b = v.alias("a"), v.alias("b")
    cond = F.col("a.vid") < F.col("b.vid")
    if on is not None:
        cond = (F.col(f"a.{on}") == F.col(f"b.{on}")) & cond
    return a.join(b, cond).select(
        F.col("a.vid").alias("id_a"),
        F.col("b.vid").alias("id_b"),
        F.col("a.qv").alias("qa"),
        F.col("b.qv").alias("qb"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
    )


def _cosine_at_least(pairs: DataFrame, p: int, q: int) -> DataFrame:
    """Pairs with quantized cosine ≥ p/q: cos ≥ p/q ⟺ dot > 0 ∧
    q²·dot² ≥ p²·n_a·n_b — all int64, no sqrt, no FP."""
    scored = pairs.withColumn("dot", int_dot_expr(F.col("qa"), F.col("qb")))
    return scored.filter(
        (F.col("dot") > 0)
        & (
            F.lit(q * q) * F.col("dot") * F.col("dot")
            >= F.lit(p * p) * F.col("n_a") * F.col("n_b")
        )
    ).select("id_a", "id_b", "dot", "n_a", "n_b")


def cosine_dup_pairs_exact_smallscale(
    embeddings: DataFrame,
    threshold_num: int = 9,
    threshold_den: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs: quantized cosine ≥ p/q — the
    SMALL-SCALE VERIFIER, deliberately O(n²).

    The non-equi self-join (id_a < id_b) plans as a nested-loop cross
    product: correct and exact, but quadratic — use it to measure the
    recall of the scale path, never as the pipeline op. The default
    embedding-dedup op is ``lsh_gated_cosine_dup_pairs`` below.
    """
    v = _quantized(embeddings, id_col, vec_col)
    return _cosine_at_least(_self_pairs(v), threshold_num, threshold_den)


def lsh_gated_cosine_dup_pairs(
    embeddings: DataFrame,
    planes_tables: list[list[list[int]]],
    threshold_num: int = 9,
    threshold_den: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """DEFAULT embedding-dedup op: LSH bucket join → exact integer-cosine
    verify.

    ``planes_tables`` holds one ``portable_planes`` matrix per LSH table.
    Candidates are pairs that share a hyperplane-sign bucket in ANY
    table (recall 1-(1-r)^T for per-table collision rate r); each
    candidate is then verified with the SAME integer inequality as the
    exact op, so the output is always a SUBSET of
    ``cosine_dup_pairs_exact_smallscale`` (asserted in tests, recall
    measured). At 10^9 vectors the pair space is bucket-local
    (~n²/2^planes per table) instead of n² — the standard dedup-by-
    embedding shape for a 100 TB corpus.
    """
    v = _quantized(embeddings, id_col, vec_col, F.col(vec_col).alias("_vec"))
    # bucket is a per-row column — no (id, bucket) side table to join
    # back, which would cost one corpus-wide join per LSH table
    cand = reduce(DataFrame.unionByName, (
        _self_pairs(
            v.select("vid", "qv", "n",
                     hyperplane_bucket_col(F.col("_vec"), planes).alias("bucket")),
            on="bucket",
        )
        for planes in planes_tables
    ))
    return _cosine_at_least(
        cand.dropDuplicates(["id_a", "id_b"]), threshold_num, threshold_den
    )


def portable_planes(num_planes: int, dim: int, seed: int = 42) -> list[list[int]]:
    """Deterministic ±1 (Rademacher) hyperplane matrix from md5.

    Generated driver-side once (num_planes × dim ints — trivially small
    even for thousands of planes) and embedded as literals in BOTH the
    Spark plan and the SQL oracle, so an independent engine computes the
    identical buckets. Sign(p, d) = +1 iff the first md5 byte of
    "{seed}:{p}:{d}" is even.
    """
    import hashlib

    return [
        [
            1 if hashlib.md5(f"{seed}:{p}:{d}".encode()).digest()[0] % 2 == 0
            else -1
            for d in range(dim)
        ]
        for p in range(num_planes)
    ]


def hyperplane_bucket_col(vec: Column, planes: list[list[int]]) -> Column:
    """Random-hyperplane LSH sketch: the sign signature of ``vec`` over
    ``planes`` (e.g. from ``portable_planes``) as a COLUMN expression —
    callers attach it with ``withColumn`` instead of computing a
    (id, bucket) table and joining it back (which would cost one
    corpus-wide join per LSH table). Equal buckets ⇒ angular-similarity
    candidates; recall is tested against brute force.

    Vectorized Arrow path: ONE batched int64 matmul per Arrow batch —
    quantize (floor(x*SCALE), same op as quantize_expr), project onto
    the ±1 plane matrix, fold sign bits. Integer-exact, so the buckets
    are bit-identical to the relational SQL-oracle computation, with
    zero shuffles and none of the per-element interpreted
    higher-order-function cost (zip_with/aggregate are not codegen'd);
    the plane matrix rides the closure (tiny).
    """
    P = np.array(planes, dtype=np.int64)
    weights = (np.int64(1) << np.arange(P.shape[0], dtype=np.int64))

    @pandas_udf(LongType())
    def _bucket(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vs in it:
            if len(vs) == 0:
                yield pd.Series([], dtype="int64")
                continue
            arr = np.floor(
                np.stack([np.asarray(v, dtype=np.float64) for v in vs])
                * float(SCALE)
            ).astype(np.int64)
            proj = arr @ P.T  # (rows, planes), exact int64
            yield pd.Series((proj > 0).astype(np.int64) @ weights)

    return _bucket(vec)


def knn_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    planes: list[list[int]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: brute-force only within matching LSH buckets.

    The scale path: bucket join replaces the cross join; with B buckets
    the scored pair space shrinks ~B×. Returns the same schema as
    ``knn_bruteforce``; recall measured in tests. ``planes`` (from
    ``portable_planes``) keeps the buckets integer-exact, so the oracle
    recomputes them.
    """
    bucket = hyperplane_bucket_col(F.col(vec_col), planes).alias("bucket")
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        quantize_expr(F.col(vec_col)).alias("cv"),
        bucket,
    )
    q = queries.select("query_id", quantize_expr(F.col(vec_col)).alias("qv"), bucket)
    return _knn(q, c, k, on="bucket")


def _assign_nearest(v: DataFrame, cent: DataFrame) -> DataFrame:
    """(vid, cell, qv): nearest centroid per vector, as a hash-aggregate
    argmin. ``min(struct(d2, cell, qv))`` compares (d2, cell)
    lexicographically — the identical argmin + lowest-cell-id tie-break
    as a row_number window — but gets map-side partial combine: the
    shuffle carries ONE candidate per (vid, map partition) instead of
    num_cells rows per vid through a sort-window exchange. ``v`` needs
    (vid, qv, n); ``cent`` needs (cell, cv, cn)."""
    return (
        v.crossJoin(F.broadcast(cent))
        .withColumn("_d2", _sq_dist())
        .groupBy("vid")
        .agg(F.min(F.struct("_d2", "cell", "qv")).alias("m"))
        .select("vid", "m.cell", "m.qv")
    )


def kmeans_refine_cells(
    embeddings: DataFrame,
    num_cells: int = 16,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: (centroids, assignments) after ``iters``
    Lloyd's k-means steps — INTEGER centroids, deterministic,
    partitioning-invariant, and portable (an independent SQL engine
    recomputes the identical codebook).

    Seed codebook (``iters=0``) = the ``num_cells`` vectors with the
    LOWEST ids. Each iteration assigns every vector to its nearest
    centroid and recomputes centroids as the element-wise FLOOR of the
    member mean: ``floor(S/m)`` where S is the exact int64 member sum
    and m the member count. S and m are each exactly representable as
    doubles (< 2^53), and a single IEEE division + floor is
    bit-identical in every engine — so unlike a float-mean codebook, the
    refined cells are fully oracle-checkable. Determinism discipline:
    - cross-row aggregation is integer sum/count only (order-independent
      → physical partitioning cannot change results);
    - cells that lose all members keep their previous centroid.
    Centroids are (cell, cv: array<long>, cn: long |cv|²); assignments
    (vid, cell, qv) = argmin int64 squared-L2 over the final codebook,
    ties → lowest cell id. Each iteration is one broadcast-assign + one
    posexplode/sum shuffle — the standard scalable Lloyd step at 10^9
    vectors.
    """
    v = _quantized(embeddings, id_col, vec_col)
    cent = (
        v.orderBy("vid").limit(num_cells)
        .select(
            F.col("vid").alias("cell"),
            F.col("qv").alias("cv"),
            F.col("n").alias("cn"),
        )
    )
    for _ in range(iters):
        assign = _assign_nearest(v, cent)
        sums = (
            assign.select("cell", F.posexplode("qv").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.sum("val").alias("s"))  # exact int — order-independent
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "s"))),
                    lambda x: x["s"],
                ).alias("S")
            )
        )
        counts = assign.groupBy("cell").agg(F.count("*").alias("m"))
        new_cv = (
            sums.join(counts, "cell")
            .select(
                "cell",
                # floor of the member mean, back to int64: one IEEE
                # division of exact ints — portable bit-for-bit
                F.transform(
                    F.col("S"),
                    lambda s: F.floor(s / F.col("m")).cast("long"),
                ).alias("cv"),
            )
            .withColumn("cn", sq_norm_expr(F.col("cv")))
        )
        # empty cells keep their previous centroid
        cent = (
            cent.select("cell", F.col("cv").alias("_old_cv"),
                        F.col("cn").alias("_old_cn"))
            .join(new_cv, "cell", "left")
            .select(
                "cell",
                F.coalesce("cv", "_old_cv").alias("cv"),
                F.coalesce("cn", "_old_cn").alias("cn"),
            )
        )
        if iters > 1:
            # truncate the growing iteration lineage; a single-iteration
            # refine (the default) has a shallow plan — skipping the
            # eager materialization saves one job barrier
            cent = cent.localCheckpoint(eager=True)
    return cent, _assign_nearest(v, cent)


def knn_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 1,
) -> DataFrame:
    """Approximate top-k via IVF: probe the ``nprobe`` nearest cells only.

    The second scale path next to ``knn_lsh``: the corpus is
    partitioned into inverted lists by coarse cell; a query scores only
    vectors in its nearest cells, shrinking the pair space
    ~num_cells/nprobe ×. Same output schema as ``knn_bruteforce``
    (query_id, neighbor_id, dot, rank); recall measured in tests. At
    100 TB the assignments live as a cell-partitioned table so a probe
    reads only its cells' files (partition pruning).

    ``refine_iters`` Lloyd iterations refine the codebook (DEFAULT: 1 —
    the k-means-refined codebook is the production shape;
    ``refine_iters=0`` is the named seed-codebook baseline). Either way
    the whole path — codebook, assignment, probe selection, scoring —
    is int64-exact and deterministic, so the oracle recomputes it
    bit-for-bit.
    """
    cent, assign = kmeans_refine_cells(
        embeddings, num_cells, refine_iters, id_col, vec_col
    )
    wq = Window.partitionBy("vid").orderBy(F.col("_d2").asc(), F.col("cell").asc())
    probes = (
        F.broadcast(_quantized(queries, "query_id", vec_col))
        .crossJoin(F.broadcast(cent))
        .withColumn("_d2", _sq_dist())
        .withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= nprobe)
        .select(F.col("vid").alias("query_id"), "qv", "cell")
    )
    c = assign.select(
        F.col("vid").alias("neighbor_id"), F.col("qv").alias("cv"), "cell"
    )
    return _knn(probes, c, k, on="cell")
