"""Batch-iterative superstep crawl driver.

One superstep = one declarative DataFrame program (Catalyst-optimized),
mirroring the reference's event loop semantics (SURVEY.md §3):

    pending work ──politeness rank (W2)──► admitted
    admitted ──fetch join vs pages (J3; In-pushdown for small batches)──►
    fetched ──parse_pages: ONE Arrow pass (K1+K2 links+text, P2-P6
              classify)──► parsed (cached) ──explode──► children
    children ──first-writer dedup (J2)──► batch ──single localCheckpoint
              barrier──► exact shuffle-free anti-join seen (J1) ──► new
              ──plan-mode dense discovery_seq──► frontier append (S4)
    + per-superstep metrics (Observations — no dedicated count jobs)
    + per-partition lineage (S6/A4) + page text, all in one atomic
      snapshot commit (checkpoint/resume)

The seen check is the exact anti-join alone: the seen set streams
map-side against a broadcast of the politeness-bounded batch's urls, so
no prefilter could spare that scan. The bloom shards of
``operators/seenset.py`` (K5) remain a standalone operator; the engine
does not call them.

The reference's recursion (frontier_spider.py:246-260 re-yields Requests
for seeds below max_depth) becomes the driver-side ``while`` loop; its
termination condition (Scrapy scheduler drained) becomes "no pending
fetchable rows".

Scale notes (10^10-URL design point):
- every join in the loop is either broadcast (admitted batch, robots) or
  hash-partitioned on url; the frontier is the only big state and is
  touched via the shuffle-free anti-join + unionByName append.
- snapshot commits are DELTAS (state-transition rows + new rows + lineage),
  never a full-frontier rewrite — write cost is O(delta) per superstep;
  under Iceberg the same commit is MERGE + append. The working frontier
  advances in memory (localCheckpoint truncates lineage); resume folds the
  committed deltas over the step-0 base.
- no collect() of row data ever; only tiny aggregates (Observation
  metrics) reach the driver — with one deliberate exception: a
  politeness-bounded SMALL batch's URL list is collected to
  push an In predicate into the pages scan (point-lookup path; the list
  is bounded by ``lookup_pushdown_threshold``).

Canonicalization: the seen-set key is the EXACT url string (and
``url_hash = xxhash64(url)``) — deliberately, because the north-rule
parity mandate is to reproduce the reference's URL-seen set, and the
reference dedups on exact strings after urljoin (pipelines.py:72-111).
``kernels.canonicalize_url(mode='normalize')`` (K3) is the available
normalizing key for corpora that want scheme/host case-folding and
fragment stripping — apply it to the pages table and seed list at
ingestion, which keeps every in-engine key consistent without a second
per-superstep canonicalization pass.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import explode_parsed, main_domain_udf, parse_pages
from ..operators import politeness
from ..operators.frontier import (
    FRONTIER_COLUMNS,
    anti_join_seen,
    assign_global_seq,
    finalize_new_rows,
    first_writer_dedup,
)
from .store import SnapshotStore

# Largest In(url, [...]) list forwarded to the parquet reader as an exact
# pushed filter. parquet-mr represents a pushed In as a nested binary
# Or(Or(Or(...))) tree whose evaluation recurses once per term and
# overflows a default-sized executor thread stack. The trigger depth is
# NOT stable: it depends on JIT state (interpreted frames are several
# times fatter, so a COLD JVM overflows far earlier than a warmed one)
# and on how much stack the surrounding operator chain already consumed.
# Measured on pyspark 4.1.2 / Java 17, default -Xss: warm JVM OK at
# 1200+, cold JVM (first scan of the session) StackOverflowError at 800,
# OK at 700. 384 keeps ~2x margin below the worst (cold) observed
# failure; tests/test_plans.py::
# test_cap_sized_in_list_actually_pushes_through_a_real_scan re-measures
# a cap-sized push on every run so a Spark/JVM bump that shifts the
# limit fails loudly. Lists above the cap still evaluate exactly (InSet
# hash probe post-scan); only the scan-level pruning falls back to the
# pushed min/max range filter.
PARQUET_IN_PUSHDOWN_SAFE_MAX = 384

METRICS_DDL = (
    "superstep int, n_work long, n_admitted long, n_denied long, "
    "n_deferred long, n_fetched_ok long, n_fetch_failed long, n_new long, "
    "wall_time_s double"
)

LINEAGE_DDL = (
    "superstep int, partition_id int, root_seed_id int, category string, "
    "target_urls_found long, seed_urls_found long, total_urls_found long"
)


@dataclass
class CrawlConfig:
    superstep_seconds: float = 10.0  # wall-clock window a superstep models
    retry_times: int = 1             # settings.py:38 RETRY_TIMES = 1
    salt_shards: int = 8             # politeness two-phase salt fan-out
    # scheduling priority: admission ranks work by these frontier columns
    # (ascending). Default = FIFO by dense discovery order (queries.sql:62
    # ORDER BY insert_date). ("depth", "discovery_seq") gives strict-BFS;
    # any numeric score column prepended makes the frontier a score
    # priority queue (north-rule "depth/score priority queue") — the
    # politeness two-phase rank is priority-agnostic. The trailing
    # discovery_seq keeps the order total ⇒ admission deterministic.
    order_cols: tuple = ("discovery_seq",)
    seq_mode: str = "ranged"         # discovery_seq assignment strategy
    # bloom_shards, expected_urls and bloom_broadcast_max_bytes (below)
    # size the standalone seen-set operator (operators/seenset.py) for
    # callers that probe it; the engine no longer reads them
    bloom_shards: int = 16
    expected_urls: int = 200_000     # bloom sizing hint
    max_supersteps: int = 1000
    # admitted-batch size at or below which the fetch join pushes the URL
    # list into the pages scan (parquet page-index / Iceberg metadata
    # pruning) instead of streaming the whole table
    lookup_pushdown_threshold: int = 4096
    # pending-batch size up to which the admitted side is broadcast into
    # the fetch join; beyond it AQE chooses the join strategy from stats
    broadcast_admitted_threshold: int = 2_000_000
    # bloom bitmap bytes up to which the standalone operator's probe
    # broadcasts the whole sharded set; beyond it the probe goes
    # partition-local (cogroup candidate shard ↔ shard blob — at the
    # 10^10 design point the bitmaps total ~12 GB and must never
    # broadcast)
    bloom_broadcast_max_bytes: int = 64 << 20
    # robots dim rows up to which the politeness join force-broadcasts
    # the rules (reference parity: a handful of hosts). Above it the
    # join is left unhinted — a millions-of-hosts robots table on a
    # 10^10-URL frontier should let Catalyst/AQE pick broadcast vs
    # shuffle from runtime stats rather than ship an oversized dim to
    # every executor. 100k rows ≈ tens of MB of patterns, the edge of
    # sensible broadcast on big-memory executors.
    robots_broadcast_max_rows: int = 100_000
    # warm the pages-table scan machinery on a background thread at run()
    # start: a zero-row pushed-down point probe parses every parquet
    # footer + ColumnIndex and initializes the vectorized reader without
    # decoding data (a lexically-out-of-range sentinel prunes every page).
    # First touch of a large table otherwise costs seconds of one-time
    # metadata parse INSIDE the first superstep's fetch barrier (measured
    # 2.9 s cold vs 0.3 s warm for the seed point-lookup on the 1.5 GB
    # bench corpus). This is the single-JVM analog of keeping table
    # metadata caches hot (Iceberg manifest cache / FileStatusCache) in a
    # long-running cluster crawl. coalesce(2) bounds the probe to two
    # task slots so critical-path jobs are never starved behind it.
    prewarm_pages_scan: bool = True
    profile: bool = False            # print per-phase wall times to stderr


@dataclass
class CrawlResult:
    frontier: DataFrame
    metrics: DataFrame
    lineage: DataFrame
    supersteps_run: int = 0
    resumed_from: int | None = None
    extra: dict = field(default_factory=dict)


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        seeds: DataFrame,
        robots: DataFrame,
        checkpoint_dir: str,
        config: CrawlConfig | None = None,
    ):
        self.spark = spark
        self.pages = pages
        self.seeds = seeds
        self.robots = robots
        self.cfg = config or CrawlConfig()
        self.store = SnapshotStore(checkpoint_dir)
        # regex-free allow/deny rules → JVM-native substring verdict (no
        # Python stage in the politeness path). ONE scalar aggregate job
        # (never a collect of the rules) also measures the dim to decide
        # whether the politeness join may force-broadcast it.
        self._native_robots, n_rules = politeness.robots_dim_profile(robots)
        self._broadcast_robots = n_rules <= self.cfg.robots_broadcast_max_rows
        # in-flight background snapshot write (at most one): joined before
        # the next step's write / the terminal meta update, where its
        # manifest is folded into the bookkeeping and the step's caches
        # released — see the _flush_write closure in run()
        self._write_pending: tuple | None = None
        # the point-lookup fetch path pushes an In(url, [...]) predicate
        # with up to lookup_pushdown_threshold values into the parquet
        # scan; Spark only forwards exact In filters up to this conf
        # (beyond it, a min/max range filter is pushed instead). The raise
        # is CAPPED: parquet-mr composes a pushed In as a NESTED BINARY OR
        # tree, and evaluating/serializing ~1500+ terms overflows a
        # default executor thread stack (measured StackOverflowError at
        # 2000 urls on this JVM). Batches between the cap and the lookup
        # threshold still take the point-lookup path — the isin() filter
        # is evaluated post-scan as an InSet hash probe (any size is
        # fine); only the scan-level pruning degrades to the range filter.
        spark.conf.set(
            "spark.sql.parquet.pushdown.inFilterThreshold",
            str(
                max(
                    10,
                    min(
                        self.cfg.lookup_pushdown_threshold,
                        PARQUET_IN_PUSHDOWN_SAFE_MAX,
                    ),
                )
            ),
        )

    # -- initial state ---------------------------------------------------------

    def _initial_frontier(self) -> DataFrame:
        """Root-seed audit rows (config_url_log analogue, schema.sql:39-80).

        Roots live in the frontier table flagged ``is_root=True``; they are
        fetch *work* but are excluded from the URL-seen set and statistics
        (the reference keeps roots in config_url_log, not frontier_url).
        ``discovery_seq`` = config order (frontier_spider.py:48-100 emits
        seeds in config-file order).
        """
        return (
            self.seeds.withColumn(
                "discovery_seq", F.col("url_seed_root_id").cast("long")
            )
            .withColumn("url_hash", F.xxhash64(F.col("url")))
            .withColumn("depth", F.lit(0))
            .withColumn("main_domain", main_domain_udf(F.col("url")))
            .withColumn("is_target", F.lit(False))
            .withColumn("parent_url", F.lit(None).cast("string"))
            .withColumn("root_seed_id", F.col("url_seed_root_id"))
            .withColumn("is_root", F.lit(True))
            .withColumn("url_state", F.lit("pending"))
            .withColumn("error_message", F.lit(None).cast("string"))
            .withColumn("attempt", F.lit(0))
            .withColumn("superstep", F.lit(0))
            .select(*FRONTIER_COLUMNS)
        )

    # -- delta fold (MERGE semantics; Iceberg stand-in) -------------------------

    @staticmethod
    def _apply_updates(
        frontier: DataFrame, updates: DataFrame, hint_broadcast: bool = False
    ) -> DataFrame:
        """MERGE the per-step state-transition delta into the frontier.

        Parquet fallback for Iceberg ``MERGE INTO``: join on the unique
        ``discovery_seq`` + coalesce per column (queries.sql:66-74 CASE
        semantics are already baked into the delta rows).

        ``hint_broadcast`` is set by the caller only when the delta is
        known politeness-bounded and small; otherwise AQE picks the join
        strategy from runtime stats — a multi-million-row superstep delta
        on a big cluster must never be force-broadcast (same failure mode
        as the admitted-side broadcast fixed in commit 2e5ee76).
        """
        upd = F.broadcast(updates) if hint_broadcast else updates
        return (
            frontier.join(upd, on="discovery_seq", how="left")
            .withColumn(
                "url_state", F.coalesce(F.col("_new_state"), F.col("url_state"))
            )
            .withColumn(
                "error_message",
                F.when(F.col("_new_state").isNotNull(), F.col("_new_error"))
                .otherwise(F.col("error_message")),
            )
            .withColumn(
                "attempt", F.col("attempt") + F.coalesce("_attempt_inc", F.lit(0))
            )
            .drop("_new_state", "_new_error", "_attempt_inc")
        )

    def _rebuild(self, upto: int):
        """Reconstruct (frontier, metrics_rows, lineage_paths) from the
        step-0 base + the committed per-step deltas — the resume path.
        The folded plan is localCheckpoint-ed so subsequent supersteps
        start from a materialized frontier, same as an unkilled run."""
        spark = self.spark
        frontier = self.store.read_table(spark, 0, "frontier")
        metrics_rows: list[tuple] = []
        lineage_paths: list[str] = []
        text_paths: list[str] = []
        for k in range(1, upto + 1):
            man = self.store.read_manifest(k)
            frontier = self._apply_updates(
                frontier, self.store.read_table(spark, k, "updates")
            ).unionByName(self.store.read_table(spark, k, "new_rows"))
            metrics_rows.append(tuple(man["meta"]["metrics"]))
            lineage_paths.append(man["tables"]["lineage"])
            if "page_text" in man["tables"]:
                text_paths.append(man["tables"]["page_text"])
        if upto > 0:
            # same width guarantee as the live advance: the folded MERGE
            # joins end in AQE-sized exchanges that size-based coalescing
            # can collapse to one partition for a sub-advisory frontier —
            # a serial stage every post-resume consumer would inherit
            frontier = frontier.repartition(
                2 * spark.sparkContext.defaultParallelism
            ).localCheckpoint(eager=True)
        return frontier, metrics_rows, lineage_paths, text_paths

    def _result(self, frontier, metrics_rows, lineage_paths, text_paths,
                steps_run, resumed_from) -> CrawlResult:
        spark = self.spark
        metrics = (
            spark.createDataFrame(metrics_rows, METRICS_DDL)
            if metrics_rows
            else spark.createDataFrame([], METRICS_DDL)
        )
        lineage = (
            spark.read.parquet(*lineage_paths)
            if lineage_paths
            else spark.createDataFrame([], LINEAGE_DDL)
        )
        return CrawlResult(
            frontier, metrics, lineage, steps_run, resumed_from=resumed_from,
            extra={"page_text_paths": list(text_paths)},
        )

    def page_text(self, result: "CrawlResult") -> DataFrame:
        """(url, text) for every fetched page — the north-rule per-row
        invariant surface (byte-identical to the single-process oracle)."""
        paths = result.extra.get("page_text_paths") or []
        if not paths:
            return self.spark.createDataFrame([], "discovery_seq long, url string, text string")
        return self.spark.read.parquet(*paths)

    # -- main loop ---------------------------------------------------------------

    def run(self, resume: bool = True, max_supersteps: int | None = None) -> CrawlResult:
        spark, cfg = self.spark, self.cfg
        max_steps = max_supersteps or cfg.max_supersteps

        _work_pred = (F.col("url_state") == "pending") & (
            F.col("is_root") | ~F.col("is_target")
        )

        if cfg.prewarm_pages_scan:
            import threading as _th

            def _prewarm():
                # advisory only — never fails or delays the crawl. '~'
                # (0x7E) sorts above every scheme-prefixed URL, so page
                # min/max stats prune all data pages: the job parses scan
                # metadata and returns 0 rows.
                try:
                    spark.sparkContext.setJobDescription(
                        "prewarm pages scan metadata"
                    )
                    self.pages.select("url", "html").filter(
                        F.col("url").isin(["~prewarm~sentinel~"])
                    ).coalesce(2).count()
                except Exception:
                    pass

            _th.Thread(target=_prewarm, daemon=True).start()

        latest = self.store.latest_step() if resume else None
        fresh_start = latest is None
        if fresh_start:
            # truncate ALL existing state first. A fresh run into a
            # populated dir (run(resume=False), or a dir from a different
            # corpus/seed list) would otherwise leave higher-numbered
            # manifests from the old run in place; a later resume would
            # see the stale latest_step and fold deltas from two
            # different runs into one corrupted frontier.
            self.store.reset()

            from pyspark.sql import Observation

            # ONE job bootstraps everything: the step-0 write materializes
            # the seed frontier, and the Observation riding it yields both
            # next_seq (max discovery_seq) and the initial pending-work
            # count — no dedicated agg/count jobs before the loop.
            obs0 = Observation("step0")
            frontier = self._initial_frontier().observe(
                obs0,
                F.max("discovery_seq").alias("max_seq"),
                F.sum(F.when(_work_pred, 1).otherwise(0)).alias("n_pending"),
            )
            step = 0
            metrics_rows, lineage_paths, text_paths = [], [], []
            boot: dict = {}

            def _meta0() -> dict:
                vals = obs0.get
                boot["next_seq"] = (
                    vals["max_seq"] if vals["max_seq"] is not None else -1
                ) + 1
                boot["n_pending"] = vals["n_pending"] or 0
                return {"next_seq": boot["next_seq"], "done": False}

            # step 0 commits the full base frontier; every later step
            # commits only deltas (updates + new_rows + lineage)
            self.store.write_step(
                0,
                {"frontier": frontier.coalesce(1)},  # seed list — tiny
                _meta0,
            )
            next_seq = boot["next_seq"]
            frontier = self.store.read_table(spark, 0, "frontier")
        else:
            step = latest
            manifest = self.store.read_manifest(step)
            from .store import COMPATIBLE_SNAPSHOT_FORMATS

            got = manifest.get("format", 1)
            if got not in COMPATIBLE_SNAPSHOT_FORMATS:
                raise ValueError(
                    f"checkpoint at {self.store.root} uses snapshot format "
                    f"{got}, this engine reads formats "
                    f"{sorted(COMPATIBLE_SNAPSHOT_FORMATS)}; delete the "
                    "checkpoint dir (or rerun with the matching engine "
                    "version) to proceed"
                )
            frontier, metrics_rows, lineage_paths, text_paths = self._rebuild(step)
            next_seq = manifest["meta"]["next_seq"]
            if manifest["meta"].get("done"):
                return self._result(
                    frontier, metrics_rows, lineage_paths, text_paths, 0, step
                )

        import sys

        steps_run = 0

        def _flush_write():
            """Join the in-flight background snapshot write (if any),
            re-raise its error, fold its committed manifest into the
            bookkeeping lists, and release the step's caches. Called
            before the next step's write, before the terminal meta
            update, and after the loop — the points where the commit
            ordering (manifest k before k+1 / before 'done') and the
            cache lifetimes must be settled."""
            if self._write_pending is None:
                return
            wt, wstate, wstep, wcommit, caches = self._write_pending
            self._write_pending = None
            wt.join()
            if "err" in wstate:
                raise wstate["err"]
            metrics_rows.append(wcommit["metrics_row"])
            tables = self.store.read_manifest(wstep)["tables"]
            lineage_paths.append(tables["lineage"])
            text_paths.append(tables["page_text"])
            for df in caches:
                df.unpersist()

        def _mkphase():
            state = {"last": time.monotonic(), "acc": {}}

            def mark(name):
                now = time.monotonic()
                state["acc"][name] = state["acc"].get(name, 0.0) + now - state["last"]
                state["last"] = now

            return state, mark

        # fresh start: the pending-work count already rode the step-0 write
        # Observation; resume pays one explicit count. Every later iteration
        # reads the count off the frontier-advance Observation instead of
        # running a dedicated scan job.
        n_pending = (
            boot["n_pending"] if fresh_start
            else frontier.filter(_work_pred).count()
        )

        while steps_run < max_steps:
            t0 = time.monotonic()
            _pstate, _mark = _mkphase()
            work = frontier.filter(_work_pred)
            if n_pending == 0:
                _flush_write()  # manifest of the last step must exist
                done_meta = dict(self.store.read_manifest(step)["meta"])
                done_meta.update({"next_seq": next_seq, "done": True})
                self.store.update_meta(step, done_meta)
                if cfg.profile:
                    print(
                        f"[profile] term_check={time.monotonic()-t0:.1f}s",
                        file=sys.stderr,
                    )
                break
            step += 1
            steps_run += 1
            _mark("work_check")

            # W2 + J5: politeness admission & robots — ONE cached plan;
            # admission metrics ride the plan as an Observation (collected
            # as a side-effect of the first job that evaluates it — no
            # dedicated count job)
            from pyspark.sql import Observation

            obs_adm = Observation(f"admission_{step}")
            # small batches skip the salted two-phase rank (skew cannot
            # bite; the extra exchange is pure fixed cost) — identical
            # admission set either way
            step_salt = (
                1 if n_pending <= cfg.lookup_pushdown_threshold
                else cfg.salt_shards
            )
            tagged = (
                politeness.admit_tagged(
                    work, self.robots, cfg.superstep_seconds, step_salt,
                    order_cols=cfg.order_cols,
                    native_robots=self._native_robots,
                    broadcast_robots=self._broadcast_robots,
                )
                .observe(
                    obs_adm,
                    F.count(F.lit(1)).alias("n_work"),
                    F.sum(
                        F.when(F.col("_disposition") == "admitted", 1).otherwise(0)
                    ).alias("n_admitted"),
                    F.sum(
                        F.when(F.col("_disposition") == "denied", 1).otherwise(0)
                    ).alias("n_denied"),
                )
                .cache()
            )
            admitted = tagged.filter(F.col("_disposition") == "admitted").drop(
                "_disposition"
            )
            denied = tagged.filter(F.col("_disposition") == "denied").drop(
                "_disposition"
            )
            # fill the politeness cache on a background thread: the rank
            # subtree (window + cache + Observation) would otherwise
            # evaluate serially inside the parse barrier as the broadcast
            # build of the admitted side; overlapping it with the In-list
            # collect and plan building below shaves its latency off the
            # barrier's critical path. Errors surface through the barrier
            # itself (it evaluates the same cached plan).
            import threading

            threading.Thread(
                target=lambda df=tagged: df.count(), daemon=True
            ).start()
            _mark("politeness")

            # J3: fetch join — admitted batch is politeness-bounded → broadcast
            # build side; the big pages table streams exactly once. Failures
            # (url not in corpus ≙ errback_playwright) are admitted minus ok on
            # the unique discovery_seq — never a second pass over pages.
            obs_ok = Observation(f"fetch_{step}")
            # a pages row with NULL html is an unfetchable page — treated
            # as fetch FAILURE (retry → failed), same as a missing row;
            # the oracle's pages.get(url) is None covers both cases, and
            # counting it as 'processed' would diverge metrics and states
            page_content = self.pages.select("url", "html").filter(
                F.col("html").isNotNull()
            )
            # small-batch point-lookup path: when the pending set is small
            # (n_pending rides the previous advance Observation — no extra
            # job), push the admitted URL list into the pages scan as an
            # In predicate. With a sorted/page-indexed corpus (Iceberg
            # metadata pruning at cluster scale) the scan decodes only the
            # matching data pages instead of streaming the whole table —
            # the difference between a seed superstep touching 50 rows and
            # a full-corpus scan. Large batches keep the streaming scan.
            if 0 < n_pending <= cfg.lookup_pushdown_threshold:
                # the In list is the PENDING url set — a politeness-
                # bounded superset of the admitted batch (this branch is
                # gated on n_pending, so the list stays ≤ threshold).
                # Collecting it from the checkpointed frontier is a
                # narrow scan with no shuffle, so the politeness-rank
                # plan's first evaluation rides the parse barrier instead
                # of paying a dedicated driver round-trip here; the
                # admitted join below filters any deferred/denied rows
                # the scan decoded.
                batch_urls = [
                    r["url"] for r in work.select("url").collect()
                ]
                # Spark rewrites In(url, [...]) to a min/max RANGE filter
                # once the list exceeds parquet.pushdown.inFilterThreshold
                # (default 10); a seed batch spanning many hosts has a
                # range covering the whole corpus, so nothing prunes and
                # the scan decodes every row group's url column. Raising
                # the threshold to cover the lookup list pushes the actual
                # point set → row-group stats + ColumnIndex page pruning
                # do their job (measured 6.5 s → 1.9 s on the bench
                # corpus). Capped at PARQUET_IN_PUSHDOWN_SAFE_MAX: a
                # pushed In overflows the executor stack at ~800 terms on
                # a cold JVM (nested binary OR tree — see the constant's
                # docstring); larger small-batches keep the exact isin()
                # filter post-scan and a range filter in the scan.
                _key = "spark.sql.parquet.pushdown.inFilterThreshold"
                try:
                    if (
                        int(spark.conf.get(_key, "10")) <= len(batch_urls)
                        <= PARQUET_IN_PUSHDOWN_SAFE_MAX
                    ):
                        # min(): the conf persists across batches, so it
                        # must never exceed the cap — Spark pushes an In
                        # when len <= threshold, so a cap-sized threshold
                        # still pushes a cap-sized list while a cap+1 list
                        # falls back to the range filter
                        spark.conf.set(_key, str(min(
                            len(batch_urls) + 1,
                            PARQUET_IN_PUSHDOWN_SAFE_MAX,
                        )))
                except Exception:
                    pass  # conf not supported on this session — range scan
                page_content = page_content.filter(
                    F.col("url").isin(batch_urls)
                ).coalesce(
                    # the pruned point-lookup matches a handful of row
                    # groups; without this the scan inherits the full
                    # corpus split fan-out (~size/maxPartitionBytes
                    # dispatch-only tasks for a politeness-small batch)
                    max(8, spark.sparkContext.defaultParallelism)
                )
            # broadcast the admitted batch only while it is plausibly
            # broadcast-sized; a multi-million-row admitted wave on a big
            # cluster should let AQE pick sort-merge vs broadcast from
            # runtime stats instead of being forced
            adm_side = (
                F.broadcast(admitted)
                if n_pending <= cfg.broadcast_admitted_threshold
                else admitted
            )
            fetched = page_content.join(adm_side, on="url", how="inner")
            _mark("fetch_join")

            # K1 + K2 + P2–P6: ONE Arrow pass per page — link extraction,
            # classification, and text extraction fused; html crosses the
            # JVM→Python boundary exactly once per superstep. Cached: the
            # page_text/lineage/updates reads below are cache scans, not
            # re-parses.
            parsed = (
                parse_pages(fetched)
                .observe(obs_ok, F.count(F.lit(1)).alias("n_ok"))
                .cache()
            )
            failed = admitted.join(
                F.broadcast(parsed.select("discovery_seq")),
                on="discovery_seq",
                how="left_anti",
            )
            children = explode_parsed(parsed)

            # J2 within-batch first-writer dedup (url-global, insertion order)
            batch = first_writer_dedup(
                children, order_cols=["parent_seq", "item_seq"], key_cols=["url"]
            )

            # J1: exact seen check behind ONE materialization barrier —
            # the plan-mode seq assignment below needs a materialized
            # input, and the write and advance then scan the checkpoint
            # instead of re-running the parse+dedup pipeline.
            seen = frontier.filter(~F.col("is_root"))
            _mark("plan_build")
            batch = batch.localCheckpoint(eager=True)
            _mark("parse_barrier")
            new = anti_join_seen(
                batch, seen,
                unique_urls=True,  # batch deduped, frontier url-unique
            )
            new = new.drop("partition_id", "found_count")
            # 'plan' seq assignment: offsets are part of the lazy plan —
            # no collect, no checkpoint; determinism holds because the
            # upstream ``batch`` is materialized and ``seen`` is the
            # localCheckpoint-ed frontier. n_new rides an Observation,
            # resolved when the snapshot write evaluates new_rows.
            seq_mode = "plan" if cfg.seq_mode == "ranged" else cfg.seq_mode
            new = assign_global_seq(
                new, ["parent_seq", "item_seq"], start=next_seq,
                mode=seq_mode,
                key_bound=next_seq,  # every parent_seq < current next_seq
            )
            # coalesce before caching for the same reason as `updates`
            # below: `new` inherits the barrier batch's partitioning (the
            # dedup shuffle width) though the rows are narrow frontier
            # entries; the cache is then scanned by THREE consumers
            # (table write, advance union, next step's politeness) and
            # each would dispatch the full task fan-out.
            # 2×cluster-width partitions keep every consumer fully
            # parallel at any scale.
            new_rows = (
                finalize_new_rows(new, step)
                .coalesce(2 * spark.sparkContext.defaultParallelism)
                .cache()
            )
            _mark("expand_dedup_seq")

            # state transitions (F9 CASE semantics, queries.sql:66-74):
            # fetched → processed; missing page → retry then failed
            # (errback_playwright, frontier_spider.py:310-338); robots-denied
            # → skipped. Parquet fallback for MERGE: join on unique
            # discovery_seq + coalesce; under Iceberg this is MERGE INTO.
            updates = (
                parsed.select(
                    "discovery_seq",
                    F.lit("processed").alias("_new_state"),
                    F.lit(None).cast("string").alias("_new_error"),
                    F.lit(0).alias("_attempt_inc"),
                )
                .unionByName(
                    failed.select(
                        "discovery_seq",
                        F.when(
                            F.col("attempt") + 1 <= cfg.retry_times, "pending"
                        )
                        .otherwise("failed")
                        .alias("_new_state"),
                        F.when(
                            F.col("attempt") + 1 <= cfg.retry_times,
                            F.lit(None).cast("string"),
                        )
                        .otherwise(F.lit("fetch_failed: url not in corpus"))
                        .alias("_new_error"),
                        F.lit(1).alias("_attempt_inc"),
                    )
                )
                .unionByName(
                    denied.select(
                        "discovery_seq",
                        F.lit("skipped").alias("_new_state"),
                        F.lit("robots_denied").alias("_new_error"),
                        F.lit(0).alias("_attempt_inc"),
                    )
                )
                # cached: the snapshot write (updates table) and the
                # frontier advance (MERGE join build side) each scan this
                # delta from concurrent threads — without the cache both
                # recompute the parsed-cache scans + failed anti-join.
                # coalesce FIRST: the raw union inherits the three
                # branches' partitioning (parse fan-out × 2 + denied —
                # profiled at 222 partitions for 225k ~30-byte rows), and
                # two concurrent jobs each dispatched all 222 cache-fill
                # tasks; a handful of partitions of this tiny delta is
                # right at any scale (the rows are fixed-width ids+enums,
                # a multi-million-row wave is still < a few hundred MB)
                .coalesce(2 * spark.sparkContext.defaultParallelism)
                .cache()
            )
            # S6/A4: per-partition lineage + per-superstep metrics. The
            # per-page item counts were computed INSIDE the fused parse
            # pass (udfs.py n_targets/n_seeds), so this aggregates one
            # cached row per page — it never re-explodes the (100×
            # larger) child-link rows a second time.
            step_lineage = (
                parsed.withColumn("partition_id", F.spark_partition_id())
                .filter((F.col("n_targets") + F.col("n_seeds")) > 0)
                .groupBy("partition_id", "root_seed_id", "category")
                .agg(
                    F.sum("n_targets").cast("long").alias("target_urls_found"),
                    F.sum("n_seeds").cast("long").alias("seed_urls_found"),
                    F.sum(F.col("n_targets") + F.col("n_seeds"))
                    .cast("long")
                    .alias("total_urls_found"),
                )
                .withColumn("superstep", F.lit(step))
                .select(
                    "superstep", "partition_id", "root_seed_id", "category",
                    "target_urls_found", "seed_urls_found", "total_urls_found",
                )
            )
            # observation values for admission/fetch are final once the
            # batch checkpoint evaluated those cached plans (sum() over
            # empty → None); n_new resolves inside the snapshot write.
            adm = obs_adm.get
            n_work = adm["n_work"] or 0
            n_admitted = adm["n_admitted"] or 0
            n_denied = adm["n_denied"] or 0
            n_ok = obs_ok.get["n_ok"] or 0
            n_failed = n_admitted - n_ok
            _mark("metrics_lineage")

            # atomic DELTA commit (Iceberg-MERGE stand-in): only the
            # state-transition rows + new frontier rows + lineage hit disk;
            # write cost is O(delta), never O(frontier). The per-step
            # metrics row rides in the manifest meta — built lazily AFTER
            # the table writes so n_new can come off the frontier-advance
            # Observation instead of a dedicated count job.
            # K2: per-fetched-page text (north-rule invariant) — already
            # extracted in the fused parse pass; this is a cache scan.
            # A politeness-small batch (e.g. the seed superstep: dozens of
            # rows) would otherwise inherit the pages-scan partitioning —
            # ~100 write tasks for ~50 rows, pure dispatch overhead — so
            # collapse it to one file; large waves keep full fan-out.
            page_text = parsed.select(
                "discovery_seq", F.col("page_url").alias("url"), "text"
            )
            if n_pending <= cfg.lookup_pushdown_threshold:
                page_text = page_text.coalesce(1)
            commit: dict = {}
            # advance-thread result cell + completion event, created HERE
            # so _commit_meta can capture THIS step's instances as default
            # args (the names are rebound every iteration)
            adv: dict = {}
            adv_done = threading.Event()

            # every enclosing-scope name is captured as a DEFAULT ARG:
            # this callable runs on the background write thread, possibly
            # after the main loop has rebound step/next_seq/t0/counters
            # for the next iteration — a closure reference would commit
            # the wrong step number and a double-counted next_seq into
            # the manifest (breaking resume)
            def _commit_meta(step=step, n_work=n_work, n_admitted=n_admitted,
                             n_denied=n_denied, n_ok=n_ok, n_failed=n_failed,
                             next_seq=next_seq, t0=t0,
                             commit=commit, adv=adv,
                             adv_done=adv_done) -> dict:
                # n_new comes from the frontier-advance Observation — the
                # union OUTPUT node, which always executes (an Observation
                # riding the new_rows subtree itself can be skipped when
                # the cache was filled by another job or the empty branch
                # was pruned). The manifest commit therefore waits for the
                # advance; its table writes have already overlapped it.
                adv_done.wait()
                if "n_new" not in adv:
                    raise RuntimeError(
                        "frontier advance failed before snapshot commit"
                    )
                n_new = adv["n_new"]
                row = (
                    step, n_work, n_admitted, n_denied,
                    n_work - n_admitted - n_denied, n_ok, n_failed, n_new,
                    # wall from step start to snapshot commit — with the
                    # async write this includes the overlap into the next
                    # superstep (the critical-path phase split is the
                    # SPARK_GRAFT_PROFILE output)
                    time.monotonic() - t0,
                )
                commit["n_new"] = n_new
                commit["metrics_row"] = row
                return {
                    "next_seq": next_seq + n_new,
                    "done": False,
                    "metrics": row,
                }

            # advance the in-memory frontier CONCURRENTLY with the
            # snapshot writes — it depends only on the updates plan and
            # the new_rows cache (both deterministic: batch is
            # materialized), not on the written files; Spark schedules
            # jobs from both driver threads and the cache layer
            # serializes any shared partition computes. localCheckpoint
            # truncates the growing plan without a full-table parquet
            # round-trip; the next iteration's pending-work count rides
            # this job as an Observation.
            import threading

            def _advance():
                try:
                    _t_adv = time.monotonic()
                    # thread-local tag: jobs this thread submits show up as
                    # "advance step k" in the UI/event log (diagnostics)
                    spark.sparkContext.setJobDescription(f"advance step {step}")
                    obs_adv = Observation(f"advance_{step}")
                    fr = (
                        self._apply_updates(
                            frontier, updates,
                            hint_broadcast=(
                                n_pending <= cfg.broadcast_admitted_threshold
                            ),
                        )
                        .unionByName(new_rows)
                        .observe(
                            obs_adv,
                            F.sum(F.when(_work_pred, 1).otherwise(0)).alias(
                                "n_pending"
                            ),
                            # this step's new rows carry superstep == step
                            # (roots are 0, old rows keep theirs), so the
                            # advance reports n_new from the union OUTPUT
                            # node — reliable even when the new_rows
                            # branch is empty/pruned or its cache was
                            # filled by a different job (an Observation
                            # on the new_rows subtree itself can then
                            # never resolve)
                            F.sum(
                                F.when(F.col("superstep") == step, 1)
                                .otherwise(0)
                            ).alias("n_new"),
                        )
                        # the union's partition count otherwise ACCRETES
                        # superstep over superstep (each step's frontier =
                        # previous checkpoint partitions + new_rows
                        # partitions), and the eager localCheckpoint plus
                        # every downstream consumer re-dispatches that
                        # ever-growing task count over fixed-width rows.
                        # Frontier entries are ~100 B, so 2×cluster-width
                        # partitions stay well under task-size limits even
                        # at a 10^10-row frontier's per-step slice; a real
                        # cluster's defaultParallelism scales the target.
                        # repartition, NOT coalesce: the MERGE join above
                        # ends in an AQE exchange whose post-shuffle
                        # partition count is decided by SIZE (with
                        # parallelismFirst=false a whole multi-100k-row
                        # frontier of ~100 B rows fits ONE advisory-sized
                        # partition), and coalesce can only shrink — the
                        # event log showed the entire advance (join +
                        # union + localCheckpoint) fused into a SINGLE
                        # task, a serial tail that costs the same absolute
                        # seconds at every cluster size. A round-robin
                        # exchange of narrow rows is ~free and guarantees
                        # cluster-width parallelism for the checkpoint
                        # store and every downstream frontier consumer.
                        .repartition(2 * spark.sparkContext.defaultParallelism)
                        .localCheckpoint(eager=True)
                    )
                    adv["frontier"] = fr
                    vals = obs_adv.get
                    adv["n_pending"] = vals["n_pending"] or 0
                    adv["n_new"] = vals["n_new"] or 0
                    if cfg.profile:
                        print(
                            f"[profile] step {step}: advance_job="
                            f"{time.monotonic()-_t_adv:.1f}s",
                            file=sys.stderr,
                        )
                except BaseException as e:  # noqa: BLE001 — re-raised below
                    adv["err"] = e
                finally:
                    adv_done.set()  # unblock _commit_meta either way

            adv_t = threading.Thread(target=_advance, daemon=True)
            adv_t.start()
            # the snapshot write ALSO runs off the main thread: step k's
            # commit needs to finish only before step k+1's commit (or
            # the terminal meta update) — enforced by _flush_write below
            # — so its wall time overlaps the frontier advance AND the
            # whole of step k+1's politeness/fetch/parse barrier instead
            # of sitting on the critical path (the seed superstep's
            # write was ~30% of its fixed cost). Kill-safety unchanged:
            # a crash while step k's write is in flight loses step k
            # only; resume folds the committed deltas ≤ k-1.
            wr_state: dict = {}
            write_tables = {
                "updates": updates.coalesce(
                    1 if n_pending <= cfg.lookup_pushdown_threshold else 8
                ),
                "new_rows": new_rows,
                "lineage": step_lineage.coalesce(1),
                "page_text": page_text,
            }

            def _write(tables=write_tables, meta=_commit_meta, k=step):
                try:
                    _t_wr = time.monotonic()
                    spark.sparkContext.setJobDescription(f"write step {k}")
                    self.store.write_step(k, tables, meta)
                    if cfg.profile:
                        print(
                            f"[profile] step {k}: write_job="
                            f"{time.monotonic()-_t_wr:.1f}s",
                            file=sys.stderr,
                        )
                except BaseException as e:  # noqa: BLE001 — re-raised at flush
                    wr_state["err"] = e

            _flush_write()  # commit ordering: step k-1's manifest first
            wr_t = threading.Thread(target=_write, daemon=True)
            # a politeness-small step's write is a few mini-jobs while its
            # advance is the critical path — let the advance run the
            # cluster uncontended and start the write after it (it still
            # overlaps the whole next superstep). A big wave's write is
            # heavy (page_text fan-out), so there it starts immediately
            # and overlaps the advance as well.
            small_step = n_pending <= cfg.lookup_pushdown_threshold
            if not small_step:
                wr_t.start()
            _mark("state_write")
            adv_t.join()
            if small_step:
                wr_t.start()
            if "err" in adv:
                wr_t.join()  # settle the write before unwinding
                raise adv["err"]
            frontier = adv["frontier"]
            n_pending = adv["n_pending"]
            n_new = adv["n_new"]
            next_seq += n_new
            # caches stay alive until the write flush (the write scans
            # parsed for updates/lineage/page_text and new_rows for the
            # table write)
            self._write_pending = (
                wr_t, wr_state, step, commit,
                (tagged, parsed, new_rows, updates),
            )
            _mark("advance")
            if cfg.profile:
                phases = " ".join(
                    f"{k}={v:.1f}s" for k, v in _pstate["acc"].items()
                )
                print(f"[profile] step {step}: {phases}", file=sys.stderr)

        # settle any write still in flight (max_supersteps exit path — the
        # n_pending==0 branch already flushed)
        _flush_write()

        return self._result(frontier, metrics_rows, lineage_paths, text_paths,
                            steps_run, latest)


def run_log(result: CrawlResult) -> DataFrame:
    """Accumulated per-root-seed audit counters (config_url_log analogue)."""
    return (
        result.lineage.groupBy("root_seed_id", "category")
        .agg(
            F.sum("target_urls_found").alias("target_urls_found"),
            F.sum("seed_urls_found").alias("seed_urls_found"),
            F.sum("total_urls_found").alias("total_urls_found"),
        )
    )
