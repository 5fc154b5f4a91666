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
``assign_global_seq`` assigns an explicit dense sequence as one lazy
plan: rows are bucketed on the VALUE of the leading order key (monotone,
so bucket order is global order), each bucket is ranked by a window, and
per-bucket offsets come from a running sum over the tiny bucket-count
aggregate, broadcast-joined back — no single-partition global sort, no
driver collect.
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
    unique_urls: bool = False,
) -> DataFrame:
    """J1: drop candidates whose ``url`` already exists in the seen set.

    Exactness is non-negotiable (north rule: final URL-seen set must match
    the reference), and this join is the engine's whole seen check. The
    bloom shards in ``seenset.py`` are a standalone *prefilter* operator
    the engine does not call; a caller that uses one must re-check its
    false positives here, never drop them.

    Plan: the candidate batch is politeness-bounded, hence broadcastable
    BY DESIGN, while the seen set is the 10^10-row side. A plain left-anti
    would shuffle the SEEN side (Spark cannot broadcast the left of a
    left-anti), so instead:
    (1) hits = seen ⋉ broadcast(candidate urls) — the big side STREAMS
    map-side, zero shuffle, and Iceberg bucket/bloom metadata can prune
    the scan; (2) candidates anti-join broadcast(hits) — hits ≤ batch,
    also shuffle-free. ``unique_urls=True`` (engine hot path: the batch
    is first-writer-deduped and the frontier is url-unique by J1/J2)
    skips the defensive distincts, making the whole plan shuffle-FREE.
    """
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
    start: int,
    key_bound: int,
    mode: str = "plan",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add dense ``discovery_seq`` = start + (rank in global order) - 1.

    Buckets on the VALUE of the leading order key: ``bucket = key*B div
    key_bound`` is monotone in the key, so (bucket asc, rank-within-
    bucket) is the global order. Value-derived buckets are invariant to
    parallelism, AQE coalescing, and physical partitioning —
    ``spark_partition_id`` is deliberately NOT used (post-shuffle
    partition ids can differ between the count subtree and the rank
    subtree under AQE, which would corrupt the offsets). Order keys must
    be unique (ours: (parent_seq, item_seq)) and the leading key
    non-negative and below ``key_bound`` (exclusive).

    The whole assignment is ONE lazy plan: no driver collect and no
    checkpoint barrier. Caller contract: ``df``'s lineage must already
    be deterministic (materialized upstream) because the offsets subtree
    and the rank subtree each evaluate it.

    ``mode`` accepts only ``"plan"`` (the one algorithm).
    """
    if mode != "plan":
        raise ValueError(f"assign_global_seq: unknown mode {mode!r}")
    cols = [F.col(c) for c in order_cols]
    B = num_partitions or 2 * df.sparkSession.sparkContext.defaultParallelism
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
    return (
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


def finalize_new_rows(new: DataFrame, superstep: int) -> DataFrame:
    """Classified+deduped child rows → full frontier-schema rows.

    ``main_domain`` uses the JVM-native netloc expression, which is
    property-tested equal to the urllib kernel on every string
    ``urlparse`` accepts — no Python worker on the frontier-advance path."""
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
