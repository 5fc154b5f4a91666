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
for seeds below max_depth) becomes the driver-side ``while`` loop in
``CrawlEngine.run``; its termination condition (Scrapy scheduler
drained) becomes "no pending fetchable rows". Each superstep phase
(admission, fetch, expand, updates, lineage, advance, commit) is its own
method.

Concurrency model: ``run()`` owns ONE ``ThreadPoolExecutor``, opened in
a ``with`` block, so no background job of a run outlives it. Its tasks,
plain ``pool.submit`` calls, are the pages-scan prewarm (once per run),
step k's politeness cache fill (overlaps plan building), step k's
frontier advance and step k's snapshot write (they overlap each other; a
politeness-small step starts its write only after the advance). The
write's manifest waits for the advance future (it carries n_new), and
the main thread joins step k's tasks (``_settle``) before write k+1 is
submitted and before the terminal ``done`` update. A background error
surfaces on the main thread at the next join, and the executor's exit
settles every task before ``run()`` raises it. A crash while write k is
in flight loses step k only; resume folds the committed deltas ≤ k-1.
The one other pool is inside the write task: ``SnapshotStore.write_step``
writes the step's tables concurrently, one thread each.

Each step's one record is its ``_PhaseClock``: the size decisions
``run()`` takes once from the pending-work count, and the wall seconds
of each phase. All work, on the main thread or a task, runs inside
``with clock(phase)``, which labels the thread's Spark jobs ``"<phase>
step <k>"``. ``_settle`` commits the record into manifest k as
``phase_s`` and ``decisions``; ``CrawlResult.steps`` reads them back.

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
from concurrent.futures import Future, ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import explode_parsed, main_domain_native, parse_pages
from ..operators import politeness
from ..operators.frontier import (
    FRONTIER_COLUMNS,
    anti_join_seen,
    assign_global_seq,
    finalize_new_rows,
    first_writer_dedup,
)
from .store import COMPATIBLE_SNAPSHOT_FORMATS, SnapshotStore

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

# Pending-work size up to which the admitted batch (fetch join) and the
# step's state-transition delta (advance MERGE) are broadcast; beyond it
# AQE chooses the join strategy from runtime stats, so a multi-million-row
# wave on a big cluster is never force-broadcast.
BROADCAST_ADMITTED_MAX_ROWS = 2_000_000

# Threads of the run's executor: the most tasks ever in flight — the
# prewarm, step k's politeness fill, step k's advance and the write of
# step k-1 (or k) — so no task ever queues for a thread. The write task
# blocks on the advance future, so a smaller pool can deadlock (a write
# holding the last thread while the advance it waits for is queued) or
# serialize work the schedule overlaps.
_BACKGROUND_THREADS = 4

METRICS_DDL = (
    "superstep int, n_work long, n_admitted long, n_denied long, "
    "n_deferred long, n_fetched_ok long, n_fetch_failed long, n_new long, "
    "wall_time_s double"
)

LINEAGE_DDL = (
    "superstep int, partition_id int, root_seed_id int, category string, "
    "target_urls_found long, seed_urls_found long, total_urls_found long"
)


def _pending_work() -> Column:
    """Fetchable work: pending roots and pending non-target links."""
    return (F.col("url_state") == "pending") & (
        F.col("is_root") | ~F.col("is_target")
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


@dataclass
class CrawlResult:
    frontier: DataFrame
    metrics: DataFrame
    lineage: DataFrame
    supersteps_run: int = 0
    resumed_from: int | None = None
    # one dict per committed step k >= 1: superstep, phase_s, decisions
    # (None for steps committed before manifests carried them)
    steps: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)


@dataclass
class _History:
    """What the committed steps contribute to the result: one metrics row
    and one ``steps`` entry each (from the manifest meta) and their
    lineage / page-text tables."""

    metrics_rows: list = field(default_factory=list)
    steps: list = field(default_factory=list)
    lineage_paths: list = field(default_factory=list)
    text_paths: list = field(default_factory=list)

    def add(self, manifest: dict) -> None:
        meta = manifest["meta"]
        self.metrics_rows.append(tuple(meta["metrics"]))
        self.steps.append({
            "superstep": meta["metrics"][0],
            "phase_s": meta.get("phase_s"),
            "decisions": meta.get("decisions"),
        })
        self.lineage_paths.append(manifest["tables"]["lineage"])
        if "page_text" in manifest["tables"]:
            self.text_paths.append(manifest["tables"]["page_text"])


class _PhaseClock:
    """One superstep's record: its size ``decisions`` and the wall
    seconds of each phase. ``with clock("fetch_join"):`` sets the calling
    thread's Spark job description to ``"fetch_join step <k>"`` for the
    block (restoring the previous one on exit, also when the block
    raises) and adds the block's wall time to that phase. Background
    tasks time their own phases on their step's clock; every phase name
    is written by one thread only, so no update is lost."""

    def __init__(self, spark: SparkSession, step: int,
                 decisions: dict | None = None):
        self.sc = spark.sparkContext
        self.step = step
        self.decisions = decisions or {}
        self.seconds: dict[str, float] = {}

    @contextmanager
    def __call__(self, phase: str):
        key = "spark.job.description"
        prev = self.sc.getLocalProperty(key)
        self.sc.setLocalProperty(key, f"{phase} step {self.step}")
        t = time.monotonic()
        try:
            yield
        finally:
            self.seconds[phase] = (
                self.seconds.get(phase, 0.0) + time.monotonic() - t
            )
            self.sc.setLocalProperty(key, prev)

    def phase_s(self) -> dict[str, float]:
        return {k: round(v, 3) for k, v in self.seconds.items()}


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
        self._in_filter_threshold = max(
            10, min(self.cfg.lookup_pushdown_threshold,
                    PARQUET_IN_PUSHDOWN_SAFE_MAX)
        )
        spark.conf.set(
            "spark.sql.parquet.pushdown.inFilterThreshold",
            str(self._in_filter_threshold),
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
            .withColumn("main_domain", main_domain_native("url"))
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

    def _bootstrap(self) -> tuple[DataFrame, int, int]:
        """Fresh start: truncate the store and commit the step-0 base
        frontier. Returns (frontier, next_seq, n_pending)."""
        # truncate ALL existing state first. A fresh run into a
        # populated dir (run(resume=False), or a dir from a different
        # corpus/seed list) would otherwise leave higher-numbered
        # manifests from the old run in place; a later resume would
        # see the stale latest_step and fold deltas from two
        # different runs into one corrupted frontier.
        self.store.reset()
        # ONE job bootstraps everything: the step-0 write materializes
        # the seed frontier, and the Observation riding it yields both
        # next_seq (max discovery_seq) and the initial pending-work
        # count — no dedicated agg/count jobs before the loop.
        obs = Observation("step0")
        seeds = self._initial_frontier().observe(
            obs,
            F.max("discovery_seq").alias("max_seq"),
            F.sum(F.when(_pending_work(), 1).otherwise(0)).alias("n_pending"),
        )

        def next_seq() -> int:
            max_seq = obs.get["max_seq"]
            return 0 if max_seq is None else max_seq + 1

        # step 0 commits the full base frontier; every later step
        # commits only deltas (updates + new_rows + lineage)
        self.store.write_step(
            0,
            {"frontier": seeds.coalesce(1)},  # seed list — tiny
            lambda: {"next_seq": next_seq(), "done": False},
        )
        frontier = self.store.read_table(self.spark, 0, "frontier")
        return frontier, next_seq(), obs.get["n_pending"] or 0

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

    def _resume_meta(self, step: int) -> dict:
        """Manifest meta of the resume point ``step``; refuses a snapshot
        format this engine cannot fold."""
        manifest = self.store.read_manifest(step)
        got = manifest.get("format", 1)
        if got not in COMPATIBLE_SNAPSHOT_FORMATS:
            raise ValueError(
                f"checkpoint at {self.store.root} uses snapshot format "
                f"{got}, this engine reads formats "
                f"{sorted(COMPATIBLE_SNAPSHOT_FORMATS)}; delete the "
                "checkpoint dir (or rerun with the matching engine "
                "version) to proceed"
            )
        return manifest["meta"]

    def _rebuild(self, upto: int) -> tuple[DataFrame, _History]:
        """Reconstruct (frontier, history) from the step-0 base + the
        committed per-step deltas — the resume path.
        The folded plan is localCheckpoint-ed so subsequent supersteps
        start from a materialized frontier, same as an unkilled run."""
        spark = self.spark
        frontier = self.store.read_table(spark, 0, "frontier")
        hist = _History()
        for k in range(1, upto + 1):
            frontier = self._apply_updates(
                frontier, self.store.read_table(spark, k, "updates")
            ).unionByName(self.store.read_table(spark, k, "new_rows"))
            hist.add(self.store.read_manifest(k))
        if upto > 0:
            # same width guarantee as the live advance: the folded MERGE
            # joins end in AQE-sized exchanges that size-based coalescing
            # can collapse to one partition for a sub-advisory frontier —
            # a serial stage every post-resume consumer would inherit
            frontier = frontier.repartition(
                2 * spark.sparkContext.defaultParallelism
            ).localCheckpoint(eager=True)
        return frontier, hist

    def _result(self, frontier: DataFrame, hist: _History, steps_run: int,
                resumed_from: int | None) -> CrawlResult:
        spark = self.spark
        metrics = spark.createDataFrame(hist.metrics_rows, METRICS_DDL)
        lineage = (
            spark.read.parquet(*hist.lineage_paths)
            if hist.lineage_paths
            else spark.createDataFrame([], LINEAGE_DDL)
        )
        return CrawlResult(
            frontier, metrics, lineage, steps_run, resumed_from=resumed_from,
            steps=hist.steps,
            extra={"page_text_paths": list(hist.text_paths)},
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
        """Crawl until no fetchable work is pending or ``max_supersteps``
        supersteps have run, resuming from the latest committed step
        unless ``resume`` is False. See the module docstring for the
        concurrency model."""
        cfg = self.cfg
        max_steps = cfg.max_supersteps if max_supersteps is None else max_supersteps
        latest = self.store.latest_step() if resume else None
        meta = None if latest is None else self._resume_meta(latest)
        # labels the jobs outside any step: bootstrap, resume, prewarm
        run_clock = _PhaseClock(self.spark, latest or 0)
        if meta is not None and meta.get("done"):
            with run_clock("resume"):
                return self._result(*self._rebuild(latest), 0, latest)

        steps_run, pending = 0, None
        with ThreadPoolExecutor(max_workers=_BACKGROUND_THREADS) as pool:
            pool.submit(self._prewarm, run_clock)
            if latest is None:
                step, hist = 0, _History()
                with run_clock("bootstrap"):
                    frontier, next_seq, n_pending = self._bootstrap()
            else:
                step, next_seq = latest, meta["next_seq"]
                with run_clock("resume"):
                    frontier, hist = self._rebuild(latest)
                    # a fresh start reads this count off the step-0
                    # write's Observation, and every later step off the
                    # advance's; resume pays one explicit count
                    n_pending = frontier.filter(_pending_work()).count()

            while steps_run < max_steps:
                if n_pending == 0:
                    clock = _PhaseClock(self.spark, step)
                    with clock("term_check"):
                        # the last step's manifest must exist first
                        self._settle(pending, hist)
                        pending = None
                    last = self.store.read_manifest(step)["meta"]
                    phase_s = {**(last.get("phase_s") or {}), **clock.phase_s()}
                    self.store.update_meta(
                        step, next_seq=next_seq, done=True, phase_s=phase_s
                    )
                    if step:
                        hist.steps[-1]["phase_s"] = phase_s
                    break
                step += 1
                steps_run += 1
                t0 = time.monotonic()
                # the step's size path, decided once: a politeness-small
                # step takes the point-lookup fetch, the unsalted rank,
                # one-file tables and the write after the advance
                small = n_pending <= cfg.lookup_pushdown_threshold
                clock = _PhaseClock(self.spark, step, {
                    "small": small,
                    "salt_shards": 1 if small else cfg.salt_shards,
                    "broadcast_admitted": n_pending <= BROADCAST_ADMITTED_MAX_ROWS,
                    "in_list": None,  # _fetch sets both on the lookup path
                    "in_pushed": None,
                    "native_robots": self._native_robots,
                    "broadcast_robots": self._broadcast_robots,
                })
                with clock("politeness"):
                    work = frontier.filter(_pending_work())
                    tagged, admitted, denied, obs_adm = self._admit(work, clock)
                    # fill the politeness cache in the background: the
                    # rank subtree (window + cache + Observation) would
                    # otherwise evaluate serially inside the parse
                    # barrier as the broadcast build of the admitted
                    # side; overlapping it with the In-list collect and
                    # plan building shaves its latency off the barrier's
                    # critical path. Errors surface through the barrier
                    # itself (it evaluates the same cached plan).
                    fill = pool.submit(self._fill_politeness, tagged, clock)
                with clock("fetch_join"):
                    fetched = self._fetch(work, admitted, clock.decisions)
                parsed, failed, new_rows, obs_ok = self._expand(
                    clock, fetched, admitted, frontier, next_seq
                )
                with clock("metrics_lineage"):
                    updates = self._updates(parsed, failed, denied)
                    lineage = self._lineage(parsed, step)
                    counts = self._step_counts(obs_adm, obs_ok)
                with clock("state_write"):
                    page_text = parsed.select(
                        "discovery_seq", F.col("page_url").alias("url"), "text"
                    )
                    # a small batch (e.g. the seed superstep: dozens of
                    # rows) would otherwise inherit the pages-scan
                    # partitioning — ~100 write tasks for ~50 rows — so
                    # its tables collapse to one file; large waves keep
                    # their fan-out
                    tables = {
                        "updates": updates.coalesce(1 if small else 8),
                        "new_rows": new_rows,
                        "lineage": lineage.coalesce(1),
                        "page_text": page_text.coalesce(1) if small else page_text,
                    }
                    adv = pool.submit(
                        self._advance, frontier, updates, new_rows, clock
                    )
                    write = partial(
                        pool.submit, self._commit,
                        step, tables, counts, next_seq, t0, adv, clock,
                    )
                    self._settle(pending, hist)  # manifest k-1 before k
                    # a small step's write is a few mini-jobs while its
                    # advance is the critical path: the advance runs the
                    # cluster uncontended and the write starts after it
                    # (it still overlaps the whole next superstep). A big
                    # wave's write is heavy (page_text fan-out), so it
                    # starts at once and overlaps the advance as well.
                    if not small:
                        wr = write()
                with clock("advance"):
                    # a failed advance raises here; leaving the executor
                    # settles a write already in flight first
                    frontier, n_pending, n_new = adv.result()
                    if small:
                        wr = write()
                next_seq += n_new
                # the write scans these caches; they are released once
                # it is settled
                pending = (clock, (wr, fill), (tagged, parsed, new_rows, updates))
            self._settle(pending, hist)  # a max_supersteps exit

        return self._result(frontier, hist, steps_run, latest)

    # -- background tasks ------------------------------------------------------

    def _prewarm(self, clock: _PhaseClock) -> None:
        """Warm the pages-table scan machinery: a zero-row pushed-down
        point probe parses every parquet footer + ColumnIndex and
        initializes the vectorized reader without decoding data. First
        touch of a large table otherwise costs seconds of one-time
        metadata parse INSIDE the first superstep's fetch barrier
        (measured 2.9 s cold vs 0.3 s warm for the seed point-lookup on
        the 1.5 GB bench corpus) — the single-JVM analog of keeping
        table metadata caches hot (Iceberg manifest cache /
        FileStatusCache) in a long-running cluster crawl. coalesce(2)
        bounds the probe to two task slots so critical-path jobs are
        never starved behind it. Advisory only: it never fails the crawl.
        """
        # '~' (0x7E) sorts above every scheme-prefixed URL, so page
        # min/max stats prune all data pages: the job returns 0 rows
        try:
            with clock("prewarm"):
                self.pages.select("url", "html").filter(
                    F.col("url").isin(["~prewarm~sentinel~"])
                ).coalesce(2).count()
        except Exception:
            pass

    @staticmethod
    def _fill_politeness(tagged: DataFrame, clock: _PhaseClock) -> None:
        with clock("politeness_fill"):
            tagged.count()

    def _settle(self, pending: tuple | None, hist: _History) -> None:
        """Join step k's in-flight tasks ``(clock, futures, caches)``:
        re-raise an error, commit the step's phase seconds and decisions
        into manifest k, fold it into ``hist`` and release the step's
        caches."""
        if pending is None:
            return
        clock, futures, caches = pending
        for future in futures:
            future.result()
        hist.add(self.store.update_meta(
            clock.step, phase_s=clock.phase_s(), decisions=clock.decisions
        ))
        for df in caches:
            df.unpersist()

    # -- superstep phases --------------------------------------------------------

    def _admit(self, work: DataFrame, clock: _PhaseClock):
        """W2 + J5: politeness admission & robots — ONE cached plan.
        Returns (tagged, admitted, denied, admission Observation); the
        admission counts ride the plan (collected as a side-effect of the
        first job that evaluates it — no dedicated count job)."""
        cfg = self.cfg
        obs = Observation(f"admission_{clock.step}")
        tagged = (
            politeness.admit_tagged(
                work, self.robots, cfg.superstep_seconds,
                # small batches skip the salted two-phase rank (skew
                # cannot bite; the extra exchange is pure fixed cost) —
                # identical admission set either way
                clock.decisions["salt_shards"],
                order_cols=cfg.order_cols,
                native_robots=self._native_robots,
                broadcast_robots=self._broadcast_robots,
            )
            .observe(
                obs,
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
        return tagged, admitted, denied, obs

    def _fetch(self, work: DataFrame, admitted: DataFrame,
               decisions: dict) -> DataFrame:
        """J3: fetch join — the admitted batch is politeness-bounded, so
        it is the broadcast build side and the big pages table streams
        exactly once. Failures (url not in corpus ≙ errback_playwright)
        are admitted minus ok on the unique discovery_seq — never a
        second pass over pages."""
        spark = self.spark
        # a pages row with NULL html is an unfetchable page — treated
        # as fetch FAILURE (retry → failed), same as a missing row;
        # the oracle's pages.get(url) is None covers both cases, and
        # counting it as 'processed' would diverge metrics and states
        page_content = self.pages.select("url", "html").filter(
            F.col("html").isNotNull()
        )
        # small-batch point-lookup path (``run()`` decided ``small``
        # from the pending count the previous advance Observation
        # carried — no extra job): push the admitted URL list into the
        # pages scan as an In predicate. With a sorted/page-indexed
        # corpus (Iceberg metadata pruning at cluster scale) the scan
        # decodes only the matching data pages instead of streaming the
        # whole table — the difference between a seed superstep
        # touching 50 rows and a full-corpus scan. Large batches keep
        # the streaming scan.
        if decisions["small"]:
            # the In list is the PENDING url set — a politeness-
            # bounded superset of the admitted batch (``small`` bounds
            # the pending count, so the list stays ≤ threshold).
            # Collecting it from the checkpointed frontier is a
            # narrow scan with no shuffle, so the politeness-rank
            # plan's first evaluation rides the parse barrier instead
            # of paying a dedicated driver round-trip here; the
            # admitted join below filters any deferred/denied rows
            # the scan decoded.
            batch_urls = [r["url"] for r in work.select("url").collect()]
            # The exact In list reaches the parquet scan only up to
            # parquet.pushdown.inFilterThreshold terms (beyond it Spark
            # pushes a min/max range filter, which prunes nothing for a
            # batch spanning many hosts). __init__ sets that conf once
            # to min(lookup_pushdown_threshold, the cold-JVM-safe
            # PARQUET_IN_PUSHDOWN_SAFE_MAX); larger lists keep the exact
            # isin() filter post-scan.
            decisions["in_list"] = len(batch_urls)
            decisions["in_pushed"] = len(batch_urls) <= self._in_filter_threshold
            page_content = page_content.filter(
                F.col("url").isin(batch_urls)
            ).coalesce(
                # the pruned point-lookup matches a handful of row
                # groups; without this the scan inherits the full
                # corpus split fan-out (~size/maxPartitionBytes
                # dispatch-only tasks for a politeness-small batch)
                max(8, spark.sparkContext.defaultParallelism)
            )
        adm_side = (
            F.broadcast(admitted) if decisions["broadcast_admitted"] else admitted
        )
        return page_content.join(adm_side, on="url", how="inner")

    def _expand(self, clock: _PhaseClock, fetched: DataFrame,
                admitted: DataFrame, frontier: DataFrame, next_seq: int):
        """Parse, dedup, barrier, seen check and sequence numbers.
        Returns (parsed, failed, new_rows, fetch Observation)."""
        step = clock.step
        obs_ok = Observation(f"fetch_{step}")
        with clock("plan_build"):
            # K1 + K2 + P2–P6: ONE Arrow pass per page — link extraction,
            # classification, and text extraction fused; html crosses the
            # JVM→Python boundary exactly once per superstep. Cached: the
            # page_text/lineage/updates reads are cache scans, not
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
            # J2 within-batch first-writer dedup (url-global, insertion order)
            batch = first_writer_dedup(
                explode_parsed(parsed),
                order_cols=["parent_seq", "item_seq"], key_cols=["url"],
            )
        # J1: exact seen check behind ONE materialization barrier — the
        # plan-mode seq assignment below needs a materialized input, and
        # the write and advance then scan the checkpoint instead of
        # re-running the parse+dedup pipeline.
        with clock("parse_barrier"):
            batch = batch.localCheckpoint(eager=True)
        with clock("expand_dedup_seq"):
            new = anti_join_seen(
                batch, frontier.filter(~F.col("is_root")),
                unique_urls=True,  # batch deduped, frontier url-unique
            )
            # the seq offsets are part of the lazy plan — no collect, no
            # checkpoint; determinism holds because ``batch`` is
            # materialized and the seen side is the localCheckpoint-ed
            # frontier. n_new rides the advance Observation.
            new = assign_global_seq(
                new, ["parent_seq", "item_seq"], start=next_seq,
                key_bound=next_seq,  # every parent_seq < current next_seq
            )
            # coalesce before caching for the same reason as `updates`:
            # `new` inherits the barrier batch's partitioning (the dedup
            # shuffle width) though the rows are narrow frontier entries;
            # the cache is then scanned by THREE consumers (table write,
            # advance union, next step's politeness) and each would
            # dispatch the full task fan-out. 2×cluster-width partitions
            # keep every consumer fully parallel at any scale.
            new_rows = (
                finalize_new_rows(new, step)
                .coalesce(2 * self.spark.sparkContext.defaultParallelism)
                .cache()
            )
        return parsed, failed, new_rows, obs_ok

    def _updates(self, parsed: DataFrame, failed: DataFrame,
                 denied: DataFrame) -> DataFrame:
        """State transitions (F9 CASE semantics, queries.sql:66-74):
        fetched → processed; missing page → retry then failed
        (errback_playwright, frontier_spider.py:310-338); robots-denied
        → skipped. Parquet fallback for MERGE: join on unique
        discovery_seq + coalesce; under Iceberg this is MERGE INTO."""
        retry = F.col("attempt") + 1 <= self.cfg.retry_times
        return (
            parsed.select(
                "discovery_seq",
                F.lit("processed").alias("_new_state"),
                F.lit(None).cast("string").alias("_new_error"),
                F.lit(0).alias("_attempt_inc"),
            )
            .unionByName(
                failed.select(
                    "discovery_seq",
                    F.when(retry, "pending").otherwise("failed")
                    .alias("_new_state"),
                    F.when(retry, F.lit(None).cast("string"))
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
            .coalesce(2 * self.spark.sparkContext.defaultParallelism)
            .cache()
        )

    @staticmethod
    def _lineage(parsed: DataFrame, step: int) -> DataFrame:
        """S6/A4: per-partition lineage. The per-page item counts were
        computed INSIDE the fused parse pass (udfs.py n_targets/n_seeds),
        so this aggregates one cached row per page — it never re-explodes
        the (100× larger) child-link rows a second time."""
        return (
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

    @staticmethod
    def _step_counts(obs_adm: Observation, obs_ok: Observation) -> tuple:
        """(n_work, n_admitted, n_denied, n_deferred, n_fetched_ok,
        n_fetch_failed). The admission and fetch Observations are final
        once the batch checkpoint evaluated their cached plans (sum()
        over empty → None)."""
        adm = obs_adm.get
        n_work = adm["n_work"] or 0
        n_admitted = adm["n_admitted"] or 0
        n_denied = adm["n_denied"] or 0
        n_ok = obs_ok.get["n_ok"] or 0
        return (n_work, n_admitted, n_denied, n_work - n_admitted - n_denied,
                n_ok, n_admitted - n_ok)

    def _advance(self, frontier: DataFrame, updates: DataFrame,
                 new_rows: DataFrame,
                 clock: _PhaseClock) -> tuple[DataFrame, int, int]:
        """Fold step's delta into the in-memory frontier. Returns
        (frontier, n_pending, n_new).

        Runs on the executor, concurrently with the snapshot write: it
        depends only on the updates plan and the new_rows cache (both
        deterministic: batch is materialized), not on the written files;
        Spark schedules jobs from both driver threads and the cache
        layer serializes any shared partition computes. localCheckpoint
        truncates the growing plan without a full-table parquet
        round-trip; the next step's pending-work count rides this job as
        an Observation."""
        step = clock.step
        obs = Observation(f"advance_{step}")
        with clock("advance_job"):
            fr = (
                self._apply_updates(
                    frontier, updates,
                    hint_broadcast=clock.decisions["broadcast_admitted"],
                )
                .unionByName(new_rows)
                .observe(
                    obs,
                    F.sum(F.when(_pending_work(), 1).otherwise(0)).alias(
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
                        F.when(F.col("superstep") == step, 1).otherwise(0)
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
                .repartition(2 * self.spark.sparkContext.defaultParallelism)
                .localCheckpoint(eager=True)
            )
            vals = obs.get
        return fr, vals["n_pending"] or 0, vals["n_new"] or 0

    def _commit(self, step: int, tables: dict, counts: tuple, next_seq: int,
                t0: float, adv: Future, clock: _PhaseClock) -> None:
        """Atomic DELTA commit of ``step`` (Iceberg-MERGE stand-in): only
        the state-transition rows + new frontier rows + lineage + page
        text hit disk, so write cost is O(delta), never O(frontier).

        Runs on the executor. The table writes overlap the advance; the
        manifest (the commit point) waits for the advance future, since
        n_new comes from the frontier-advance Observation — the union
        OUTPUT node, which always executes (an Observation riding the
        new_rows subtree itself can be skipped when the cache was filled
        by another job or the empty branch was pruned). A failed advance
        re-raises here, so its step gets no manifest."""

        def meta() -> dict:
            n_new = adv.result()[2]
            # wall from step start to snapshot commit — with the async
            # write this includes the overlap into the next superstep
            row = (step, *counts, n_new, time.monotonic() - t0)
            return {"next_seq": next_seq + n_new, "done": False, "metrics": row}

        with clock("write_job"):
            self.store.write_step(step, tables, meta)


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
