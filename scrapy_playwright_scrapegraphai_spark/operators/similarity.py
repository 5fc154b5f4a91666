"""Similarity search over embedding columns (array<float>).

Brute-force top-k is the exactness baseline; LSH (random-hyperplane)
bucketing is the scale path — at 10^9 vectors the cross product is
impossible, but bucket-local brute force after a 16-bit sign-sketch
band join touches ~n/2^16 of the space per probe.

Numeric discipline: scores used in *oracle-checked* comparisons are
integer-quantized (floor(x*1000)) so Spark and DuckDB agree bit-for-bit
— float dot products differ across engines in the last ulp (summation
order), which would flip top-k ties. All integer arithmetic stays below
2^63 for 64-dim embeddings in [-1, 1].
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.column import Column
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import LongType


def quantize_expr(col, scale: int = 1000) -> Column:
    """array<float> → array<long> via floor(x*scale) (exact & portable:
    IEEE multiply then floor is identical in any engine)."""
    return F.transform(col, lambda x: F.floor(x * F.lit(float(scale))).cast("long"))


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


def knn_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Exact top-k by quantized dot product for each query vector.

    queries: (query_id, embedding). Broadcast the queries (small side),
    stream the corpus once, per-query window top-k. Deterministic
    tie-break: (dot DESC, neighbor id ASC). Output
    (query_id, neighbor_id, dot, rank).
    """
    q = queries.select(
        F.col("query_id"), quantize_expr(F.col(vec_col), scale).alias("qv")
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        quantize_expr(F.col(vec_col), scale).alias("cv"),
    )
    scored = F.broadcast(q).crossJoin(c).select(
        "query_id",
        "neighbor_id",
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


def cosine_dup_pairs_exact_smallscale(
    embeddings: DataFrame,
    threshold_num: int = 9,
    threshold_den: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Embedding near-duplicate pairs: quantized cosine ≥ p/q — the
    SMALL-SCALE VERIFIER, deliberately O(n²).

    cos ≥ p/q ⟺ dot ≥ 0 ∧ q²·dot² ≥ p²·n_a·n_b — all int64, no sqrt,
    no FP. The non-equi self-join (id_a < id_b) plans as a nested-loop
    cross product: correct and exact, but quadratic — use it to measure
    the recall of the scale path, never as the pipeline op. The default
    embedding-dedup op is ``lsh_gated_cosine_dup_pairs`` below.
    """
    v = embeddings.select(
        F.col(id_col).alias("vid"), quantize_expr(F.col(vec_col), scale).alias("qv")
    ).withColumn("n", sq_norm_expr(F.col("qv")))
    a, b = v.alias("a"), v.alias("b")
    p, q = threshold_num, threshold_den
    pairs = a.join(b, F.col("a.vid") < F.col("b.vid")).select(
        F.col("a.vid").alias("id_a"),
        F.col("b.vid").alias("id_b"),
        int_dot_expr(F.col("a.qv"), F.col("b.qv")).alias("dot"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
    )
    return pairs.filter(
        (F.col("dot") > 0)
        & (
            F.lit(q * q) * F.col("dot") * F.col("dot")
            >= F.lit(p * p) * F.col("n_a") * F.col("n_b")
        )
    ).select("id_a", "id_b", "dot", "n_a", "n_b")


# backwards-compatible name; the default pipeline op is the gated form
cosine_dup_pairs = cosine_dup_pairs_exact_smallscale


def lsh_gated_cosine_dup_pairs(
    embeddings: DataFrame,
    threshold_num: int = 9,
    threshold_den: int = 10,
    num_planes: int = 8,
    num_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    seed: int = 42,
    planes_tables: list[list[list[int]]] | None = None,
) -> DataFrame:
    """DEFAULT embedding-dedup op: LSH bucket join → exact integer-cosine
    verify.

    Candidates are pairs that share a hyperplane-sign bucket in ANY of
    ``num_tables`` independent tables (recall 1-(1-r)^T for per-table
    collision rate r); each candidate is then verified with the SAME
    integer inequality as the exact op, so the output is always a SUBSET
    of ``cosine_dup_pairs_exact_smallscale`` (asserted in tests, recall
    measured). At 10^9 vectors the pair space is bucket-local
    (~n²/2^planes per table) instead of n² — the standard dedup-by-
    embedding shape for a 100 TB corpus.

    ``planes_tables`` (list of ``portable_planes`` matrices, one per
    table) selects the integer-exact portable form the SQL oracle can
    recompute; None uses the xxhash64 Rademacher planes (seeded per
    table), no stored matrix.
    """
    if planes_tables is not None:
        num_tables = len(planes_tables)
    v = embeddings.select(
        F.col(id_col).alias("vid"),
        quantize_expr(F.col(vec_col), scale).alias("qv"),
        F.col(vec_col).alias("_vec"),
    ).withColumn("n", sq_norm_expr(F.col("qv")))
    cand = None
    for t in range(num_tables):
        planes = planes_tables[t] if planes_tables is not None else None
        # bucket is a per-row column — no (id, bucket) side table to join
        # back, which would cost one corpus-wide join per LSH table
        bv = v.select(
            "vid", "qv", "n",
            hyperplane_bucket_col(
                F.col("_vec"), num_planes, seed=seed + 1000 * t,
                planes=planes, scale=scale,
            ).alias("bucket"),
        )
        a2, b2 = bv.alias("a"), bv.alias("b")
        pairs_t = a2.join(
            b2,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vid") < F.col("b.vid")),
        ).select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            F.col("a.qv").alias("qa"),
            F.col("b.qv").alias("qb"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        cand = pairs_t if cand is None else cand.unionByName(pairs_t)
    cand = cand.dropDuplicates(["id_a", "id_b"])
    p, q = threshold_num, threshold_den
    scored = cand.withColumn("dot", int_dot_expr(F.col("qa"), F.col("qb")))
    return scored.filter(
        (F.col("dot") > 0)
        & (
            F.lit(q * q) * F.col("dot") * F.col("dot")
            >= F.lit(p * p) * F.col("n_a") * F.col("n_b")
        )
    ).select("id_a", "id_b", "dot", "n_a", "n_b")


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


def hyperplane_bucket_col(
    vec: Column,
    num_planes: int = 16,
    seed: int = 42,
    planes: list[list[int]] | None = None,
    scale: int = 1000,
) -> Column:
    """Random-hyperplane LSH sketch: the sign signature of ``vec`` as a
    COLUMN expression — callers attach it with ``withColumn`` instead of
    computing a (id, bucket) table and joining it back (which would cost
    one corpus-wide join per LSH table). Equal buckets ⇒ angular-
    similarity candidates; recall is tested against brute force.

    Two equivalent plane sources:
    - ``planes=None`` (scale default): plane p's coefficient for
      dimension d is derived from xxhash64(seed, p, d) mapped to ±1 (a
      Rademacher projection — JVM-side, no Python, no stored plane
      matrix, float accumulate).
    - explicit ``planes`` (e.g. from ``portable_planes``): projections
      run over the quantized INTEGER vector, so the bucket is bit-stable
      across engines and summation orders — the oracle-checkable form.
    """
    sig = F.lit(0).cast("long")
    if planes is not None:
        # vectorized Arrow path: ONE batched int64 matmul per Arrow batch
        # — quantize (floor(x*scale), same op as quantize_expr), project
        # onto the ±1 plane matrix, fold sign bits. Integer-exact, so the
        # buckets are bit-identical to the relational SQL-oracle
        # computation, with zero shuffles and none of the per-element
        # interpreted higher-order-function cost (zip_with/aggregate are
        # not codegen'd); the plane matrix rides the closure (tiny).
        P = np.array(planes, dtype=np.int64)
        weights = (np.int64(1) << np.arange(P.shape[0], dtype=np.int64))
        fscale = float(scale)

        @pandas_udf(LongType())
        def _bucket(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
            for vs in it:
                if len(vs) == 0:
                    yield pd.Series([], dtype="int64")
                    continue
                arr = np.floor(
                    np.stack([np.asarray(v, dtype=np.float64) for v in vs])
                    * fscale
                ).astype(np.int64)
                proj = arr @ P.T  # (rows, planes), exact int64
                yield pd.Series((proj > 0).astype(np.int64) @ weights)

        return _bucket(vec)

    dim_idx = F.sequence(F.lit(0), F.size(vec) - 1)

    def _rademacher(plane: int):
        # closure (not a default arg — PySpark inspects lambda arity)
        return lambda x, d: x * F.when(
            F.pmod(F.xxhash64(F.lit(seed), F.lit(plane), d), F.lit(2)) == 0,
            F.lit(1.0),
        ).otherwise(F.lit(-1.0))

    for p in range(num_planes):  # num_planes is small and static → unroll
        proj = F.aggregate(
            F.zip_with(vec, dim_idx, _rademacher(p)),
            F.lit(0.0),
            lambda a2, x: a2 + x,
        )
        sig = sig + F.when(proj > 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return sig


def knn_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    planes: list[list[int]] | None = None,
) -> DataFrame:
    """Approximate top-k: brute-force only within matching LSH buckets.

    The scale path: bucket join replaces the cross join; with B buckets
    the scored pair space shrinks ~B×. Returns the same schema as
    ``knn_bruteforce``; recall measured in tests. Pass ``planes`` (from
    ``portable_planes``) for the integer-exact oracle-checkable form.
    """
    bucket = hyperplane_bucket_col(
        F.col(vec_col), num_planes, seed=seed, planes=planes
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        quantize_expr(F.col(vec_col)).alias("cv"),
        bucket.alias("bucket"),
    )
    q = queries.select(
        "query_id", quantize_expr(F.col(vec_col)).alias("qv"),
        bucket.alias("bucket"),
    )
    scored = F.broadcast(q).join(c, "bucket").select(
        "query_id",
        "neighbor_id",
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


def _assign_nearest(v: DataFrame, cent: DataFrame,
                    carry: tuple[str, ...] = ("qv",)) -> DataFrame:
    """(vid, cell, *carry): nearest centroid per vector, as a
    hash-aggregate argmin. ``min(struct(d2, cell, ...))`` compares
    (d2, cell) lexicographically — the identical argmin + lowest-cell-id
    tie-break as a row_number window — but gets map-side partial combine:
    the shuffle carries ONE candidate per (vid, map partition) instead of
    num_cells rows per vid through a sort-window exchange. ``v`` needs
    (vid, qv, n); ``cent`` needs (cell, cv, cn); distances are int64
    ||v−c||² = n − 2·v·c + cn (bit-stable across partitioning)."""
    d2 = (
        F.col("n") - F.lit(2) * int_dot_expr(F.col("qv"), F.col("cv"))
        + F.col("cn")
    )
    return (
        v.crossJoin(F.broadcast(cent))
        .withColumn("_d2", d2)
        .groupBy("vid")
        .agg(
            F.min(
                F.struct(F.col("_d2"), F.col("cell"),
                         *[F.col(c) for c in carry])
            ).alias("m")
        )
        .select("vid", F.col("m.cell").alias("cell"),
                *[F.col(f"m.{c}").alias(c) for c in carry])
    )


def ivf_cells(
    embeddings: DataFrame,
    num_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: (centroids, assignments), all-integer.

    Codebook = the ``num_cells`` vectors with the LOWEST ids (a
    deterministic seed codebook — at cluster scale replace with a k-means
    refinement job over a sample; the assignment/search machinery below
    is identical either way). Assignment = argmin squared-L2 over the
    broadcast codebook: ||v−c||² = n_v − 2·v·c + n_c in int64 after
    quantization — no FP, so cell ids are bit-stable across partitioning
    and parallelism. Tie-break: lowest cell id.
    """
    v = embeddings.select(
        F.col(id_col).alias("vid"),
        quantize_expr(F.col(vec_col), scale).alias("qv"),
    ).withColumn("n", sq_norm_expr(F.col("qv")))
    cent = (
        v.orderBy("vid").limit(num_cells)
        .select(
            F.col("vid").alias("cell"),
            F.col("qv").alias("cv"),
            F.col("n").alias("cn"),
        )
    )
    assign = _assign_nearest(v, cent, carry=("qv", "n"))
    return cent, assign


def kmeans_refine_cells(
    embeddings: DataFrame,
    num_cells: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Lloyd's k-means refinement of the IVF coarse codebook — INTEGER
    centroids, deterministic, partitioning-invariant, and portable (an
    independent SQL engine recomputes the identical codebook).

    Start = the seed codebook (lowest-``num_cells`` ids, ``ivf_cells``).
    Each iteration assigns every vector to its nearest centroid (argmin
    int64 squared-L2, ties → lowest cell id) and recomputes centroids as
    the element-wise FLOOR of the member mean: ``floor(S/m)`` where S is
    the exact int64 member sum and m the member count. S and m are each
    exactly representable as doubles (< 2^53), and a single IEEE
    division + floor is bit-identical in every engine — so unlike a
    float-mean codebook, the refined cells are fully oracle-checkable.
    Determinism discipline:
    - cross-row aggregation is integer sum/count only (order-independent
      → physical partitioning cannot change results);
    - cells that lose all members keep their previous centroid.
    Returns (cell, cv: array<long>, cn: long |cv|²) — the same codebook
    shape ``ivf_cells`` emits, so the probe path is identical. Each
    iteration is one broadcast-assign + one posexplode/sum shuffle — the
    standard scalable Lloyd step at 10^9 vectors.
    """
    v = embeddings.select(
        F.col(id_col).alias("vid"),
        quantize_expr(F.col(vec_col), scale).alias("qv"),
    ).withColumn("n", sq_norm_expr(F.col("qv")))
    cent = (
        v.orderBy("vid").limit(num_cells)
        .select(
            F.col("vid").alias("cell"),
            F.col("qv").alias("cv"),
            F.col("n").alias("cn"),
        )
    )
    for _ in range(max(0, iters)):
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
    return cent


def knn_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
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
    if refine_iters > 0:
        cent = kmeans_refine_cells(
            embeddings, num_cells, refine_iters, id_col, vec_col, scale
        )
        v = embeddings.select(
            F.col(id_col).alias("vid"),
            quantize_expr(F.col(vec_col), scale).alias("qv"),
        ).withColumn("n", sq_norm_expr(F.col("qv")))
        assign = _assign_nearest(v, cent)
    else:
        cent, assign = ivf_cells(embeddings, num_cells, id_col, vec_col, scale)
    q = queries.select(
        "query_id", quantize_expr(F.col(vec_col), scale).alias("qv")
    ).withColumn("qn", sq_norm_expr(F.col("qv")))
    qd = F.broadcast(q).crossJoin(F.broadcast(cent)).select(
        "query_id", "qv", "cell",
        (
            F.col("qn") - F.lit(2) * int_dot_expr(F.col("qv"), F.col("cv"))
            + F.col("cn")
        ).alias("d2"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("cell").asc()
    )
    probes = (
        qd.withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= nprobe)
        .select("query_id", F.col("qv").alias("pqv"), "cell")
    )
    scored = F.broadcast(probes).join(assign, "cell").select(
        "query_id",
        F.col("vid").alias("neighbor_id"),
        int_dot_expr(F.col("pqv"), F.col("qv")).alias("dot"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dot", "rank")
    )
