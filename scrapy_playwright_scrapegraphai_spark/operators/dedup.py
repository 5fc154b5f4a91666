"""Document deduplication suite for large-scale training-data pipelines.

The reference deduplicates URLs only (exact string, via unique index —
schema.sql:30). A 100 TB web-text pipeline additionally needs *content*
dedup; these operators extend the same first-writer-wins discipline to
document text:

- exact dedup            — hash groupBy (one shuffle on a 64-bit hash)
- MinHash + LSH          — shingle → signature (Arrow UDF) → band →
                           bucket join; near-dup candidates without the
                           O(n²) pair space
- SimHash                — 64-bit signature + banded hamming candidates
- n-gram Jaccard         — exact set-similarity via shingle explode +
                           self-join (the verifier for the sketches)

Scale notes: every op shuffles on a bounded-width key (hash / band
bucket / shingle), never on raw text; signatures are computed in
Arrow-batched pandas UDFs; candidate verification touches only bucket
collisions. Skewed shingles (stopword shingles shared by millions of
docs) are the classic hot spot — ``ngram_jaccard_pairs`` filters
shingles above a document-frequency cap before the self-join, which is
both the standard trick and a large constant-factor win.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

_MERSENNE = (1 << 61) - 1


def _hash_pair(data: bytes) -> tuple[int, int]:
    """Per-shingle universal-hash parameters (a, b) from md5.

    md5 (not blake2b) so an independent SQL engine can recompute the
    identical signature: DuckDB's ``md5_number_upper(s)`` equals
    ``int.from_bytes(md5(s)[:8], 'little')`` and ``md5_number_lower(s)``
    equals bytes 8:16 — the driver's oracle check recomputes every
    MinHash/SimHash signature in SQL from these. Stable across processes
    and PYTHONHASHSEED.
    """
    d = hashlib.md5(data).digest()
    return (
        int.from_bytes(d[:8], "little") & _MERSENNE,
        (int.from_bytes(d[8:], "little") | 1) & _MERSENNE,
    )


def _shingles(text: str, n: int) -> set[bytes]:
    toks = text.split()
    if len(toks) < n:
        return {" ".join(toks).encode("utf-8")} if toks else set()
    return {" ".join(toks[i : i + n]).encode("utf-8") for i in range(len(toks) - n + 1)}


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", hash_expr=None) -> DataFrame:
    """One row per distinct text → (fp: md5 hex, canonical_id, n_copies).

    Scale shape (the 100 TB path): the aggregate groups on
    ``xxhash64(text)`` — an 8-byte shuffle key with map-side partial
    combine — and the aggregation state it ships is (min id, count,
    min/max md5). The document text itself never crosses the exchange.
    A 64-bit bucket collision between DISTINCT texts is detected inside
    the bucket by ``min(md5) != max(md5)`` and resolved exactly by
    re-grouping just the colliding buckets on the full text (a few rows
    at any corpus size, broadcast back against the source). The one
    unconfirmed case is two distinct texts agreeing on BOTH xxhash64 and
    md5 (a joint 192-bit collision) — beyond birthday reach for any
    physical corpus.

    ``hash_expr`` overrides the bucket hash; tests pass a degenerate
    hash (e.g. ``F.lit(0)``) to force all texts into one bucket and
    exercise the confirm path.
    """
    h_expr = hash_expr if hash_expr is not None else F.xxhash64(F.col(text_col))
    fp = F.md5(F.col(text_col))
    agg = df.groupBy(h_expr.alias("_h")).agg(
        F.min(id_col).alias("canonical_id"),
        F.count("*").alias("n_copies"),
        F.min(fp).alias("_fp_min"),
        F.max(fp).alias("_fp_max"),
    )
    clean = agg.filter(F.col("_fp_min") == F.col("_fp_max")).select(
        F.col("_fp_min").alias("fp"), "canonical_id", "n_copies"
    )
    collided = agg.filter(F.col("_fp_min") != F.col("_fp_max")).select("_h")
    resolved = (
        df.join(F.broadcast(collided), h_expr == F.col("_h"))
        .groupBy(text_col)
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_copies"),
        )
        .select(
            F.md5(F.col(text_col)).alias("fp"), "canonical_id", "n_copies"
        )
    )
    return clean.unionByName(resolved)


# --------------------------------------------------------------------------
# bucket-local pair expansion (shared by the LSH sketches)
# --------------------------------------------------------------------------


def _bucket_pair_expand(bucketed: DataFrame, key_cols: list[str],
                        payload, max_bucket_size: int | None = None
                        ) -> DataFrame:
    """Emit within-bucket candidate pairs (a, b), a before b in sorted order.

    One groupBy shuffle + in-memory explode per bucket — the sketch side
    of the plan evaluates ONCE (a self-join would recompute the signature
    UDF for each side) and the candidate pair space materializes only
    inside buckets.

    Hot-bucket guard (``max_bucket_size``): a web corpus routinely lands
    10^5–10^6 boilerplate near-identical docs (parked domains, templated
    pages — NOT removed by exact dedup when they differ by a token) in
    ONE band bucket; all-pairs there is a local O(bucket²) — 10^12 pairs
    — that no executor survives. Buckets larger than the cap therefore
    degrade to STAR pairs: every member pairs with the bucket's minimum
    element only. Nothing is silently dropped — every doc still reaches
    the output connected to its cluster's canonical member, so the full
    duplicate cluster is recoverable transitively (connected components
    after verification), which is exactly how dedup pipelines consume
    candidate pairs; the pair count per hot bucket is n-1 instead of
    n(n-1)/2. The branch is a single CASE over the aggregated array —
    same plan shape (hash aggregate, map-side combine), no second
    evaluation of the sketch UDF, deterministic (array_sort), and an
    independent SQL engine can mirror it exactly (bucket-size CTE +
    conditional star — see entry_queries.SQL_DEDUP_MINHASH_LSH).

    The per-bucket aggregation row stays O(bucket) (an id array: ~8 MB at
    10^6 members, ObjectHashAggregate spills to sort-based when over
    budget), never O(bucket²). ``None`` disables the guard (exact
    all-pairs — small-scale verification runs only).
    """
    grouped = (
        bucketed.groupBy(*key_cols)
        .agg(F.collect_list(payload).alias("_items"))
        .filter(F.size("_items") >= 2)
        .withColumn("_items", F.array_sort("_items"))
    )
    items = F.col("_items")
    all_pairs = F.flatten(
        F.transform(
            items,
            lambda x, i: F.transform(
                F.slice(
                    items,
                    i + F.lit(2),
                    F.greatest(F.size(items) - i - F.lit(1), F.lit(0)),
                ),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    if max_bucket_size is not None:
        star = F.transform(
            F.slice(items, 2, F.size(items) - 1),
            lambda y: F.struct(
                F.element_at(items, 1).alias("a"), y.alias("b")
            ),
        )
        pairs = F.when(
            F.size(items) <= F.lit(max_bucket_size), all_pairs
        ).otherwise(star)
    else:
        pairs = all_pairs
    return grouped.select(F.explode(pairs).alias("p")).select("p.a", "p.b")


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


def make_minhash_udf(num_hashes: int = 64, shingle_n: int = 3):
    """pandas UDF: text → array<long> MinHash signature.

    Universal-hash family h_i(x) = (a + i*b) mod p over md5-derived
    (a, b) per shingle (``_hash_pair``) — stable across processes/versions
    (no PYTHONHASHSEED dependence)."""

    @pandas_udf(ArrayType(LongType()))
    def minhash_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        M = np.uint64(_MERSENNE)
        # Shingle → (a, b) cache, kept across Arrow batches. Web corpora
        # share shingles massively (boilerplate, stopword runs), so this
        # turns the dominant cost — one md5 per shingle PER DOCUMENT —
        # into one md5 per distinct shingle per worker. Size-capped so a
        # pathological corpus can't grow it without bound.
        cache: dict[bytes, tuple[int, int]] = {}
        cache_cap = 1 << 20
        for texts in it:
            out = []
            for t in texts:
                if t is None:
                    out.append(None)
                    continue
                shingles = _shingles(t, shingle_n)
                if not shingles:
                    out.append([_MERSENNE] * num_hashes)
                    continue
                ab = np.empty((len(shingles), 2), dtype=np.uint64)
                for row, sh in enumerate(shingles):
                    v2 = cache.get(sh)
                    if v2 is None:
                        v2 = _hash_pair(sh)
                        if len(cache) < cache_cap:
                            cache[sh] = v2
                    ab[row] = v2
                # sig[i] = min_sh (a + i*b) mod M, computed iteratively so no
                # intermediate exceeds 2^62 (a, b < 2^61): v_{i+1} = (v_i+b)%M
                v, b = ab[:, 0].copy(), ab[:, 1]
                sig = np.empty(num_hashes, dtype=np.uint64)
                for i in range(num_hashes):
                    sig[i] = v.min()
                    v = (v + b) % M
                out.append(sig.astype(np.int64).tolist())
            yield pd.Series(out)

    return minhash_udf


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """Near-duplicate candidate pairs (id_a < id_b) via banded LSH.

    rows r = num_hashes/bands; two docs collide iff some band of their
    signatures is identical — P(collide) ≈ 1-(1-j^r)^b for Jaccard j.
    The pair space never materializes: docs meet only inside
    (band_idx, band_hash) buckets. Buckets above ``max_bucket_size``
    (boilerplate mega-clusters) emit star pairs against the bucket-min
    doc instead of all pairs — see ``_bucket_pair_expand``; the cluster
    stays connected, the local quadratic is gone.

    The band key is the md5 hex of the joined band slice: 32 chars
    regardless of band width, and portable — the SQL oracle applies the
    identical md5, so the check stays a full value check.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    df = df.filter(F.col(text_col).isNotNull())  # null docs carry no signature
    sig = df.select(
        F.col(id_col).alias("doc"), make_minhash_udf(num_hashes, shingle_n)(
            F.col(text_col)
        ).alias("sig"),
    )

    # band extraction is UNROLLED over the (small, static) band count
    # rather than written as nested transform()/slice() lambdas: Spark
    # evaluates higher-order functions interpreted, per element, outside
    # whole-stage codegen — measured ~2 s for 5000 docs × 16 bands at
    # sf0.1, i.e. the dominant cost of the whole operator. The unrolled
    # element_at/concat_ws/md5 tree codegens into one pass and is
    # semantically identical (same '-'-joined decimal strings, same
    # hash), so the DuckDB oracle mirror is unchanged.
    banded = sig.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.md5(
                            F.concat_ws(
                                "-",
                                *[
                                    F.element_at("sig", b * r + j + 1).cast(
                                        "string"
                                    )
                                    for j in range(r)
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", "bb.band_idx", "bb.band_hash")
    return (
        _bucket_pair_expand(
            banded, ["band_idx", "band_hash"], F.col("doc"),
            max_bucket_size=max_bucket_size,
        )
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .distinct()
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def make_simhash_udf(shingle_n: int = 1):
    """pandas UDF: text → 64-bit SimHash (signed long)."""

    @pandas_udf(LongType())
    def simhash_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        shifts = np.arange(64, dtype=np.uint64)
        # token-hash cache across Arrow batches (same rationale as the
        # minhash cache: tokens repeat across documents → one md5 per
        # distinct token per worker instead of per occurrence)
        cache: dict[bytes, int] = {}
        cache_cap = 1 << 20
        for texts in it:
            out = []
            for t in texts:
                if t is None:
                    out.append(None)
                    continue
                shingles = _shingles(t, shingle_n)
                # md5[:8] little-endian == DuckDB md5_number_upper — the
                # oracle SQL recomputes the identical signature
                hvals = []
                for sh in shingles:
                    v2 = cache.get(sh)
                    if v2 is None:
                        v2 = int.from_bytes(
                            hashlib.md5(sh).digest()[:8], "little"
                        )
                        if len(cache) < cache_cap:
                            cache[sh] = v2
                    hvals.append(v2)
                hs = np.array(hvals, dtype=np.uint64)
                # counts[bit] = ones - zeros > 0  ⟺  2*ones > n_shingles
                ones = ((hs[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
                v = int(
                    ((2 * ones > len(hs)).astype(np.uint64) << shifts).sum(
                        dtype=np.uint64
                    )
                )
                # to signed 64-bit
                out.append(v - (1 << 64) if v >= (1 << 63) else v)
            yield pd.Series(out)

    return simhash_udf


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    shingle_n: int = 1,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """Near-dup pairs with hamming(sig_a, sig_b) ≤ max_hamming.

    Banded exact search: split the 64-bit signature into 4 16-bit chunks;
    any pair within hamming ≤ 3 shares at least one chunk verbatim
    (pigeonhole), so candidates come from chunk-bucket joins, then the
    exact hamming check filters. Returns (doc_a, doc_b, hamming).

    Chunk buckets above ``max_bucket_size`` emit star pairs against the
    bucket-min (doc, sig) member instead of all pairs (hot-bucket guard,
    see ``_bucket_pair_expand``); the hamming filter then applies to the
    star edges, so an over-cap cluster keeps its members that are within
    ``max_hamming`` of the canonical member — the verified-duplicate
    semantics of a boilerplate mega-cluster — without the local
    quadratic.
    """
    df = df.filter(F.col(text_col).isNotNull())  # null docs carry no signature
    sigs = df.select(
        F.col(id_col).alias("doc"),
        make_simhash_udf(shingle_n)(F.col(text_col)).alias("sig"),
    )
    chunked = sigs.select(
        "doc",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftrightunsigned("sig", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("cc"),
    ).select("doc", "sig", "cc.chunk_idx", "cc.chunk")
    pairs = (
        _bucket_pair_expand(
            chunked, ["chunk_idx", "chunk"],
            F.struct(F.col("doc"), F.col("sig")),
            max_bucket_size=max_bucket_size,
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.bit_count(
                F.col("a.sig").bitwiseXOR(F.col("b.sig"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


# --------------------------------------------------------------------------
# exact n-gram Jaccard (DataFrame-native; the sketch verifier)
# --------------------------------------------------------------------------


def _doc_shingles(df: DataFrame, text_col: str, id_col: str, n: int,
                  only: DataFrame | None = None) -> tuple[DataFrame, DataFrame]:
    """Distinct (doc, sh) word n-gram shingles and per-doc (doc, n_sh)
    counts; ``only`` (a (doc) frame) restricts both to its docs before
    shingling.

    Python str.split() semantics (split on whitespace RUNS, drop empty
    tokens) — identical to the sketch UDFs' _shingles tokenizer and to
    the oracle SQL's filtered regex split, so multi-space/tab/newline
    documents shingle the same way on every path. A doc shorter than
    ``n`` tokens is one shingle of all its tokens.
    """
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.filter(
            F.split(F.trim(F.col(text_col)), r"\s+"),
            lambda x: x != F.lit(""),
        ).alias("toks"),
    )
    if only is not None:
        toks = toks.join(only, "doc", "left_semi")
    shingled = toks.select(
        "doc",
        F.explode(
            F.when(
                F.size("toks") >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - n),
                    lambda i: F.concat_ws(" ", F.slice("toks", i + 1, n)),
                ),
            ).otherwise(F.array(F.concat_ws(" ", F.col("toks"))))
        ).alias("sh"),
    ).distinct()
    return shingled, shingled.groupBy("doc").agg(F.count("*").alias("n_sh"))


def _jaccard_at_least(shared: DataFrame, counts: DataFrame, src: str,
                      dst: str, p: int, q: int) -> DataFrame:
    """(src, dst, shared) pairs with shingle-set Jaccard ≥ p/q, integer-
    exact: shared/(n_a + n_b - shared) ≥ p/q ⟺ q·shared ≥ p·(n_a + n_b -
    shared) — no floating point, so the DuckDB oracle matches
    bit-for-bit. Returns (src, dst, shared, n_a, n_b).

    The per-doc count tables are corpus-sized (one row per doc) — never
    force-broadcast them; the surviving ``shared`` pair set is usually
    the small side and AQE broadcasts it instead.
    """
    ca = counts.select(F.col("doc").alias(src), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("doc").alias(dst), F.col("n_sh").alias("n_b"))
    return (
        shared.join(ca, src)
        .join(cb, dst)
        .filter(
            F.lit(q) * F.col("shared")
            >= F.lit(p) * (F.col("n_a") + F.col("n_b") - F.col("shared"))
        )
        .select(src, dst, "shared", "n_a", "n_b")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Pairs with shingle-set Jaccard ≥ threshold_num/threshold_den
    (integer-exact, ``_jaccard_at_least``). ``max_shingle_df`` drops
    shingles appearing in more than that many docs before the self-join
    (skew guard; candidate-complete for any threshold > 0 only if the
    dropped shingles can't flip the verdict — use None for exact
    small-scale runs). Returns (doc_a, doc_b, shared, n_a, n_b).
    """
    shingled, counts = _doc_shingles(df, text_col, id_col, n)
    if max_shingle_df is not None:
        # skew guard: shingles shared by more than max_shingle_df docs
        # (boilerplate/templates) are dropped BEFORE the self-join — they
        # are exactly the quadratic hot keys. No broadcast hint: the hot
        # list is usually tiny but is corpus-dependent, so AQE picks the
        # join strategy from its runtime size.
        hot = (
            shingled.groupBy("sh")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("sh")
        )
        shingled = shingled.join(hot, "sh", "left_anti")
    a, b = shingled.alias("a"), shingled.alias("b")
    shared = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("shared"))
    )
    return _jaccard_at_least(
        shared, counts, "doc_a", "doc_b", threshold_num, threshold_den
    )


# --------------------------------------------------------------------------
# connected components (pair list → dedup clusters)
# --------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 25,
) -> DataFrame:
    """Cluster dup PAIRS into dedup components: (node, component) with
    ``component`` = the smallest node id reachable from ``node``.

    The missing last step of every pairwise dedup op above: a training
    pipeline keeps ONE canonical doc per near-dup *cluster*, and pair
    output alone over-deletes (a~b, b~c must not delete both b and c
    against different canonicals). The reference deduplicates per-URL
    only (src/crawler/sql/schema.sql:30 unique index); this is the
    content-side extension.

    Algorithm: min-label propagation with pointer jumping — each round
    every node takes the min label over itself and its neighbors, then
    compresses label ← label[label]. Converges to the unique fixpoint
    (min reachable id) in O(log diameter) rounds, so ``max_iters=25``
    covers any graph a dedup pair list can produce. Each round is two
    shuffle joins plus hash aggregates with map-side combine — no
    per-node collect_list, so a hot node (a boilerplate cluster of
    millions of near-identical docs) costs only its edge rows, never a
    single-row materialization. The edge list is localCheckpoint-ed once
    and the label table per round, keeping the iterative lineage flat
    (the classic iterative-join OOM). Raises if not converged (cannot
    happen under max_iters ≥ log2(nodes); the guard keeps a bug from
    silently emitting a half-propagated labeling).
    """
    bidir = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .unionByName(edges.select(F.col(dst).alias("s"), F.col(src).alias("t")))
        .filter(F.col("s") != F.col("t"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        bidir.select(F.col("s").alias("n"))
        .distinct()
        .withColumn("label", F.col("n"))
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Observation

    for it in range(max_iters):
        nbr = bidir.join(labels, bidir["t"] == labels["n"]).select(
            bidir["s"].alias("n"), "label"
        )
        new = (
            labels.unionByName(nbr)
            .groupBy("n")
            .agg(F.min("label").alias("label"))
        )
        # pointer jumping: label ← min(label, label[label]). Labels are
        # always real node ids (mins over reachable sets), so the
        # self-join key always resolves; 'left' guards the empty graph.
        jump = new.select(F.col("n").alias("_m"), F.col("label").alias("_l"))
        new = new.join(jump, new["label"] == jump["_m"], "left").select(
            "n",
            F.least(
                F.col("label"), F.coalesce(F.col("_l"), F.col("label"))
            ).alias("label"),
        )
        # labels only ever decrease, so label < old catches every change.
        # The fixpoint check rides the checkpoint job as an Observation
        # on the old-vs-new join (every node survives the inner join —
        # same node set both sides): ONE job per round instead of a
        # checkpoint job plus a dedicated join+count job — per-round
        # wall is job-launch dominated at small scale and the fused form
        # also touches each label partition once at cluster scale.
        obs = Observation(f"cc_changed_{it}")
        new = (
            new.join(labels.withColumnRenamed("label", "_old"), "n")
            .observe(
                obs,
                F.sum(
                    (F.col("label") < F.col("_old")).cast("long")
                ).alias("changed"),
            )
            .select("n", "label")
            .localCheckpoint(eager=True)
        )
        changed = obs.get["changed"] or 0
        labels = new
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds"
    )


def dedup_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iters: int = 25,
) -> DataFrame:
    """The dedup pipeline's final output: the SURVIVING corpus — one
    canonical doc per near-dup cluster (the min id, the same fixpoint
    ``connected_components`` computes) plus every doc in no cluster.

    Pure composition: cluster the pairs, then anti-join the corpus
    against the non-canonical members (label ≠ node). The anti-join's
    build side is the duplicate set — at 100 TB that's the minority of
    the corpus by construction (it only exists where near-dups were
    found), and AQE picks broadcast vs shuffle from its runtime size;
    the corpus side streams once with no wide shuffle.
    """
    comp = connected_components(pairs, src=src, dst=dst, max_iters=max_iters)
    losers = comp.filter(F.col("label") != F.col("n")).select(
        F.col("n").alias(id_col)
    )
    return docs.join(losers, on=id_col, how="left_anti")


def verify_pairs_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """Exact n-gram-Jaccard verification restricted to CANDIDATE pairs.

    The production counterpart of ``ngram_jaccard_pairs``: instead of a
    shingle self-join over the whole corpus (quadratic in hot shingles),
    this computes the exact integer Jaccard ONLY for the pairs an LSH
    sketch proposed. Shingling touches just the docs that appear in a
    candidate (semi-join), then the shared-shingle count comes from two
    bounded joins — candidates × doc_a's shingles (rows = Σ_pairs
    n_sh(a), linear in candidates), matched against doc_b's shingles on
    (doc_b, shingle). No step is ever quadratic in the corpus; at 100 TB
    the candidate set is the minority output of the banded sketch, so
    the whole verify costs O(candidates × shingles/doc).

    The same shingler and integer-exact predicate as
    ``ngram_jaccard_pairs`` (``_doc_shingles``, ``_jaccard_at_least``),
    so a SQL oracle reproduces it bit-for-bit. Pairs sharing
    zero shingles drop at the inner join — correct for any threshold
    > 0 (asserted). Returns (src, dst, shared, n_a, n_b).
    """
    assert threshold_num > 0, "zero threshold would keep 0-shared pairs"
    cand = pairs.select(src, dst).distinct()
    cand_docs = (
        cand.select(F.col(src).alias("doc"))
        .unionByName(cand.select(F.col(dst).alias("doc")))
        .distinct()
    )
    # shingle only candidate docs; candidate docs always carry non-null
    # text (the sketches filter nulls before signing)
    shingled, counts = _doc_shingles(df, text_col, id_col, n, only=cand_docs)
    sa = shingled.select(F.col("doc").alias(src), "sh")
    sb = shingled.select(F.col("doc").alias(dst), "sh")
    shared = (
        cand.join(sa, on=src)
        .join(sb, on=[dst, "sh"])
        .groupBy(src, dst)
        .agg(F.count("*").alias("shared"))
    )
    return _jaccard_at_least(
        shared, counts, src, dst, threshold_num, threshold_den
    )


def dedup_pipeline_lsh(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
    max_bucket_size: int | None = 1024,
    max_iters: int = 25,
) -> DataFrame:
    """The COMPLETE production near-dup pipeline in one call: MinHash+LSH
    candidates → exact-Jaccard verify (candidates only) → connected
    components → canonical surviving corpus.

    This is the chain a 100 TB training-data build actually runs — the
    sketch bounds the pair space (banded buckets, hot-bucket star
    guard), the verifier makes every kept edge exact, clustering
    collapses transitive duplicates, and the anti-join emits one
    canonical doc per cluster plus all unclustered docs. Each stage is
    the already-tested operator above; no stage is quadratic in the
    corpus.
    """
    cand = minhash_lsh_candidates(
        docs,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        max_bucket_size=max_bucket_size,
    )
    verified = verify_pairs_jaccard(
        docs,
        cand,
        text_col=text_col,
        id_col=id_col,
        n=shingle_n,
        threshold_num=threshold_num,
        threshold_den=threshold_den,
    )
    return dedup_canonical(docs, verified, id_col=id_col, max_iters=max_iters)
