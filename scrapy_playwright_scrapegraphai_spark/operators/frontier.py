"""Frontier table operators: dedup discipline + discovery-sequence assignment.

Replicates the reference's two dedup layers set-oriented:
- J1 existence check on ``url`` alone (pipelines.py:72-111,
  frontier_crud.py:122-139 — note: URL-GLOBAL, first category to discover
  a URL wins) → left-anti join against the seen set.
- J2 ``INSERT … ON CONFLICT (url, category) DO NOTHING`` (queries.sql:56,
  schema.sql:30) → within-batch first-writer-wins dedup. Because J1 is
  url-global and the reference pipeline is sequential, the effective
  within-batch grain is also ``url``; first writer = lowest
  (parent discovery_seq, item_seq), i.e. insertion order.

Discovery sequence: the reference's BIGSERIAL ``id`` (schema.sql:3)
doubles as FIFO scheduling order (queries.sql:62 ORDER BY insert_date).
Spark's ``monotonically_increasing_id`` is neither dense nor stable, so
we assign an explicit dense sequence. Two implementations:
- 'window': one global window — simple, fine for politeness-bounded
  superstep batches in tests.
- 'ranged': repartitionByRange + per-partition row_number + partition
  offsets — the scale path; no single-partition global sort (partition i
  holds strictly smaller keys than i+1, so pid order IS global order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

FRONTIER_COLUMNS = [
    "discovery_seq",
    "url",
    "url_hash",
    "category",
    "url_type",
    "depth",
    "max_depth",
    "main_domain",
    "target_patterns",
    "seed_pattern",
    "is_target",
    "parent_url",
    "root_seed_id",
    "is_root",
    "url_state",
    "error_message",
    "attempt",
    "superstep",
]

FRONTIER_DDL = (
    "discovery_seq long, url string, url_hash long, category string, "
    "url_type int, depth int, max_depth int, main_domain string, "
    "target_patterns array<string>, seed_pattern string, is_target boolean, "
    "parent_url string, root_seed_id int, is_root boolean, url_state string, "
    "error_message string, attempt int, superstep int"
)


def first_writer_dedup(
    df: DataFrame,
    order_cols: list[str],
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Keep the first row per key under the given deterministic order.

    J2 analogue: within one superstep batch, the sequentially-first
    discovery wins (the reference's ON CONFLICT DO NOTHING under
    single-threaded item flow). Never ``dropDuplicates`` (nondeterministic
    winner) — the winner is the exact minimum of the (unique) order-key
    tuple per SURVEY.md §4.2.

    Plan: hash-aggregate with ``min_by(struct(row), struct(order))`` —
    NOT a row_number window. The aggregate gets map-side partial
    combine, so a superstep batch of 10^7+ exploded child links (heavy
    within-partition URL repetition: a host's pages link to the same
    sibling URLs) collapses to ~distinct-urls-per-partition rows BEFORE
    the exchange; the window form would shuffle and sort every child row.
    Caller contract: the order-key tuple must be unique per key (ours:
    (parent_seq, item_seq) is globally unique), making the winner
    deterministic.
    """
    key_cols = key_cols or ["url"]
    payload_cols = [c for c in df.columns if c not in key_cols]
    won = (
        df.groupBy(*key_cols)
        .agg(
            F.min_by(
                F.struct(*[F.col(c) for c in payload_cols]),
                F.struct(*[F.col(c) for c in order_cols]),
            ).alias("_w")
        )
        .select(*key_cols, *[F.col(f"_w.{c}").alias(c) for c in payload_cols])
    )
    # restore the caller's column order
    return won.select(*df.columns)


def anti_join_seen(
    candidates: DataFrame,
    seen: DataFrame,
    broadcast_candidates: bool = True,
    unique_urls: bool = False,
) -> DataFrame:
    """J1: drop candidates whose ``url`` already exists in the seen set.

    Exactness is non-negotiable (north rule: final URL-seen set must match
    the reference), and this join is the engine's whole seen check. The
    bloom shards in ``seenset.py`` are a standalone *prefilter* operator
    the engine does not call; a caller that uses one must re-check its
    false positives here, never drop them.

    Default plan (``broadcast_candidates=True``): the candidate batch is
    politeness-bounded, hence broadcastable BY DESIGN, while the seen set
    is the 10^10-row side. A plain left-anti would shuffle the SEEN side
    (Spark cannot broadcast the left of a left-anti), so instead:
    (1) hits = seen ⋉ broadcast(candidate urls) — the big side STREAMS
    map-side, zero shuffle, and Iceberg bucket/bloom metadata can prune
    the scan; (2) candidates anti-join broadcast(hits) — hits ≤ batch,
    also shuffle-free. ``unique_urls=True`` (engine hot path: the batch
    is first-writer-deduped and the frontier is url-unique by J1/J2)
    skips the defensive distincts, making the whole plan shuffle-FREE.
    ``broadcast_candidates=False`` falls back to the co-partitioned
    shuffle join for unbounded candidate sets.
    """
    if not broadcast_candidates:
        # no distinct() on the seen side: a left-anti join only tests
        # existence, so deduplicating the 10^10-row side first would be a
        # full extra shuffle+aggregate for identical output
        return candidates.join(seen.select("url"), on="url", how="left_anti")
    cand_urls = candidates.select("url")
    seen_urls = seen.select("url")
    if not unique_urls:
        cand_urls = cand_urls.distinct()
        seen_urls = seen_urls.distinct()
    hits = seen_urls.join(F.broadcast(cand_urls), on="url", how="inner")
    return candidates.join(F.broadcast(hits), on="url", how="left_anti")


def assign_global_seq(
    df: DataFrame,
    order_cols: list[str],
    start: int = 0,
    mode: str = "ranged",
    num_partitions: int | None = None,
    key_bound: int | None = None,
    with_count: bool = False,
) -> DataFrame:
    """Add dense ``discovery_seq`` = start + (rank in global order) - 1.

    'ranged' mode avoids the single-partition global window by bucketing
    on the VALUE of the leading order key: ``bucket = key*B div bound``
    is monotone in the key, so (bucket asc, rank-within-bucket) is the
    global order; per-bucket offsets come from a tiny B-row count
    collect. Value-derived buckets are invariant to parallelism, AQE
    coalescing, and physical partitioning — ``spark_partition_id`` is
    deliberately NOT used (post-shuffle partition ids can differ between
    the count pass and the rank pass under AQE, which would corrupt the
    offsets). Order keys must be unique (ours: (parent_seq, item_seq))
    and the leading key non-negative.

    ``key_bound``: exclusive upper bound of the leading key if the
    caller knows it (skips one agg job). The input is localCheckpoint-ed
    so the expensive upstream (extract UDF, dedup, anti-join) executes
    exactly once across the count and rank passes.
    """
    cols = [F.col(c) for c in order_cols]
    if mode == "window":
        w = Window.orderBy(*cols)
        out = df.withColumn(
            "discovery_seq", (F.row_number().over(w) + F.lit(start - 1)).cast("long")
        )
        return (out, out.count()) if with_count else out

    B = num_partitions or 2 * df.sparkSession.sparkContext.defaultParallelism

    if mode == "plan":
        # Zero-job variant: per-bucket offsets come from a running-sum
        # window over the tiny B-row count aggregate, broadcast-joined
        # back — the whole assignment is ONE lazy plan, no driver collect
        # and no checkpoint barrier. Caller contract: ``df``'s lineage
        # must already be deterministic (materialized upstream) because
        # the offsets subtree and the rank subtree each evaluate it, and
        # ``key_bound`` must be provided (no agg job to infer it).
        assert key_bound is not None, "mode='plan' requires key_bound"
        kb = max(int(key_bound), 1)
        src = df.withColumn(
            "_bkt",
            F.expr(f"CAST(({order_cols[0]} * {B}) DIV {kb} AS INT)"),
        )
        # explicit user repartition on the bucket key: the rank window's
        # exchange is otherwise sized by AQE, and with size-based
        # coalescing a few-hundred-thousand-row superstep batch (~20 MB)
        # collapses to ONE reducer — the whole window + every downstream
        # projection/UDF then runs single-threaded (event-log profiled:
        # a 5 s serial stage in the frontier advance). A user-specified
        # width is preserved by AQE, the window reuses the partitioning
        # (no second exchange), and the counts aggregate below rides the
        # same exchange with a map-side partial. B buckets ≍ B partitions
        # scales with cluster width.
        src = src.repartition(B, "_bkt")
        counts = src.groupBy("_bkt").agg(F.count("*").alias("_cnt"))
        w_off = (
            Window.orderBy("_bkt")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = counts.select(
            "_bkt",
            F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_off"),
        )
        w = Window.partitionBy("_bkt").orderBy(*cols)
        out = (
            src.join(F.broadcast(offsets), on="_bkt")
            .withColumn("_rn", F.row_number().over(w))
            .withColumn(
                "discovery_seq",
                (F.lit(start) + F.col("_off") + F.col("_rn") - F.lit(1)).cast(
                    "long"
                ),
            )
            .drop("_bkt", "_rn", "_off")
        )
        return (out, None) if with_count else out

    src = df.localCheckpoint(eager=True)
    if key_bound is None:
        key_bound = (src.agg(F.max(cols[0])).collect()[0][0] or 0) + 1
    key_bound = max(int(key_bound), 1)
    src = src.withColumn(
        "_bkt",
        F.expr(f"CAST(({order_cols[0]} * {B}) DIV {key_bound} AS INT)"),
    )
    counts = {r["_bkt"]: r["cnt"] for r in
              src.groupBy("_bkt").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, start
    for bkt in sorted(counts):
        offsets[bkt] = acc
        acc += counts[bkt]
    if offsets:
        offmap = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
        off_expr = offmap[F.col("_bkt")]
    else:  # empty batch — any literal works, no rows exist
        off_expr = F.lit(start)
    w = Window.partitionBy("_bkt").orderBy(*cols)
    out = (
        src.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "discovery_seq",
            (off_expr + F.col("_rn") - F.lit(1)).cast("long"),
        )
        .drop("_bkt", "_rn")
    )
    # the bucket-count pass already totalled the batch — callers needing
    # the row count (superstep metrics / next_seq advance) get it free
    return (out, acc - start) if with_count else out


def finalize_new_rows(new: DataFrame, superstep: int) -> DataFrame:
    """Classified+deduped child rows → full frontier-schema rows.

    ``main_domain`` uses the JVM-native netloc expression: every row
    here passed the P2 validity gate (scheme + netloc present), the
    domain on which the expression is property-tested equal to the
    urllib kernel — no Python worker on the frontier-advance path."""
    from ..functions.udfs import main_domain_native

    return (
        new.withColumn("url_hash", F.xxhash64(F.col("url")))
        .withColumn("main_domain", main_domain_native("url"))
        .withColumn("is_root", F.lit(False))
        .withColumn("url_state", F.lit("pending"))
        .withColumn("error_message", F.lit(None).cast("string"))
        .withColumn("attempt", F.lit(0))
        .withColumn("superstep", F.lit(superstep))
        .select(*FRONTIER_COLUMNS)
    )
