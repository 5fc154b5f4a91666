"""Statistics aggregates over the frontier / run-log tables (A1–A3).

All are single hash-aggregate jobs (partial+final map-side combine comes
free from Catalyst; verify HashAggregate spans in .explain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def per_page_counts(children: DataFrame) -> DataFrame:
    """A1 — per parsed page: target vs seed counts
    (frontier_spider.py:166-169,238-243; crawl_manager_utils.py:33,42-48)."""
    return children.groupBy("parent_url").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("target_count"),
        F.sum(F.when(~F.col("is_target"), 1).otherwise(0)).alias("seed_count"),
        F.count("*").alias("total_count"),
    )


def frontier_statistics(frontier: DataFrame) -> DataFrame:
    """A2 — per-category frontier statistics (frontier_crud.py:142-184,
    FrontierStatistics model frontier_model.py:112-135).

    Implements the *intended* semantics against ``url_state`` (the
    reference has a latent bug filtering a nonexistent ``status`` column,
    frontier_crud.py:149-151 vs schema.sql:18). Excludes root-audit rows
    (the reference keeps those in config_url_log, not frontier_url).
    ``success_rate`` = processed/(processed+failed)*100, null when no
    terminal rows. Exact countDistinct for correctness tests;
    approx_count_distinct is the documented 10^10-scale metrics variant.
    """
    f = frontier.filter(~F.col("is_root"))
    processed = F.sum(F.when(F.col("url_state") == "processed", 1).otherwise(0))
    failed = F.sum(F.when(F.col("url_state") == "failed", 1).otherwise(0))
    return (
        f.groupBy("category")
        .agg(
            F.count("*").alias("total_urls"),
            F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("target_urls"),
            F.sum(F.when(F.col("url_state") == "pending", 1).otherwise(0)).alias(
                "pending_urls"
            ),
            processed.alias("processed_urls"),
            failed.alias("failed_urls"),
            F.sum(F.when(F.col("url_state") == "skipped", 1).otherwise(0)).alias(
                "skipped_urls"
            ),
            F.countDistinct("main_domain").alias("distinct_domains"),
            F.max("depth").alias("max_reached_depth"),
            F.min("superstep").alias("first_superstep"),
            F.max("superstep").alias("last_superstep"),
        )
        .withColumn(
            "success_rate",
            F.when(
                (F.col("processed_urls") + F.col("failed_urls")) > 0,
                F.col("processed_urls")
                * 100.0
                / (F.col("processed_urls") + F.col("failed_urls")),
            ),
        )
    )


def config_url_log(frontier: DataFrame, lineage: DataFrame) -> DataFrame:
    """S5 — materialize the per-root-seed run-audit table with the
    reference's state machine (schema.sql:39-80, config_url_log_model.py:8-53).

    One row per root seed, derived from the committed frontier + lineage:

    - ``config_state`` (schema.sql:48-56 enum): the reference upserts
      running → completed/failed around each root fetch
      (frontier_spider.py:108-133,270-301, pipelines.py:33-58); batch
      semantics derive the same machine from final state —
        pending               root never admitted
        failed                root fetch failed terminally (or robots-
                              denied — a state the reference cannot reach
                              with ROBOTSTXT_OBEY=False)
        running               root processed, crawlable descendants still
                              pending
        partially_completed   crawl drained but some descendants failed
                              (declared in the reference enum, never set
                              by its code — meaningful here)
        completed             crawl drained, no descendant failures
    - counters (schema.sql:62-65): lineage rollup — counts CLASSIFIED
      items per page like the reference's per-page counters
      (crawl_manager_utils.py:33,42-48), i.e. pre-dedup discoveries.
    - timing (schema.sql:58-60): the engine's deterministic logical clock
      — start/end superstep and their difference as ``processing_duration``
      (the reference stores wall-clock ``datetime.now()``; wall time lives
      in the metrics table, keyed by the same superstep).
    - config echo + error fields + JSON metadata (schema.sql:67-78).
    """
    roots = frontier.filter(F.col("is_root")).select(
        "root_seed_id", "url", "category", "url_type", "max_depth",
        "target_patterns", "seed_pattern",
        F.col("url_state").alias("_root_state"),
        F.col("error_message").alias("_root_error"),
    )
    desc = (
        frontier.filter(~F.col("is_root"))
        .groupBy("root_seed_id")
        .agg(
            F.sum(
                F.when(
                    (F.col("url_state") == "pending") & ~F.col("is_target"), 1
                ).otherwise(0)
            ).alias("_pending_work"),
            F.sum(
                F.when(F.col("url_state") == "failed", 1).otherwise(0)
            ).alias("failed_urls"),
            F.max("depth").alias("reached_depth"),
            F.max("superstep").alias("_last_discovery_step"),
        )
    )
    found = lineage.groupBy("root_seed_id").agg(
        F.sum("total_urls_found").alias("total_urls_found"),
        F.sum("target_urls_found").alias("target_urls_found"),
        F.sum("seed_urls_found").alias("seed_urls_found"),
        F.min("superstep").alias("start_superstep"),
        F.max("superstep").alias("_last_parse_step"),
    )
    joined = (
        roots.join(desc, "root_seed_id", "left")
        .join(found, "root_seed_id", "left")
        .withColumn("_pending_work", F.coalesce("_pending_work", F.lit(0)))
        .withColumn("failed_urls", F.coalesce("failed_urls", F.lit(0)))
        .withColumn("reached_depth", F.coalesce("reached_depth", F.lit(0)))
        .withColumn("total_urls_found", F.coalesce("total_urls_found", F.lit(0)))
        .withColumn("target_urls_found", F.coalesce("target_urls_found", F.lit(0)))
        .withColumn("seed_urls_found", F.coalesce("seed_urls_found", F.lit(0)))
        .withColumn(
            "end_superstep",
            F.greatest(
                F.coalesce("_last_parse_step", F.lit(0)),
                F.coalesce("_last_discovery_step", F.lit(0)),
            ),
        )
    )
    state = (
        F.when(F.col("_root_state") == "pending", "pending")
        .when(F.col("_root_state").isin("failed", "skipped"), "failed")
        .when(F.col("_pending_work") > 0, "running")
        .when(F.col("failed_urls") > 0, "partially_completed")
        .otherwise("completed")
    )
    return joined.select(
        "root_seed_id", "url", "category", "url_type",
        state.alias("config_state"),
        "start_superstep",
        F.when(F.col("start_superstep").isNotNull(), F.col("end_superstep"))
        .alias("end_superstep"),
        F.when(
            F.col("start_superstep").isNotNull(),
            (F.col("end_superstep") - F.col("start_superstep")).cast("double"),
        ).alias("processing_duration"),
        "total_urls_found", "target_urls_found", "seed_urls_found",
        "failed_urls", "max_depth", "reached_depth", "target_patterns",
        "seed_pattern",
        F.col("_root_error").alias("error_message"),
        F.to_json(
            F.struct(
                F.col("_pending_work").alias("pending_urls"),
            )
        ).alias("metadata"),
    )


def processing_stats(run_log: DataFrame) -> DataFrame:
    """A3 — global processing stats (config_url_log_crud.py:172-195)."""
    return run_log.agg(
        F.count("*").alias("total_rows"),
        F.sum("target_urls_found").alias("total_targets"),
        F.sum("seed_urls_found").alias("total_seeds"),
        F.sum("total_urls_found").alias("total_found"),
        F.avg("total_urls_found").alias("avg_found_per_root"),
        F.max("total_urls_found").alias("max_found_per_root"),
    )
