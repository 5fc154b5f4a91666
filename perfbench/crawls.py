"""The crawl workloads: ``crawl_wide`` and ``crawl_polite``.

Both drive the engine through its public API only (``CrawlEngine.run``
and ``SnapshotStore``) on a seeded bench corpus, and check every crawl's
frontier against the single-process oracle's crawl of the same corpus.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

from scrapy_playwright_scrapegraphai_spark.plans.driver import (
    CrawlConfig,
    CrawlEngine,
)
from scrapy_playwright_scrapegraphai_spark.plans.store import SnapshotStore
from scrapy_playwright_scrapegraphai_spark.sources.bench_corpus import (
    warm_corpus_path,
)
from scrapy_playwright_scrapegraphai_spark.sources.synth import (
    ROBOTS_DDL,
    SEEDS_DDL,
)

from inputs import CrawlShape, frontier_digest

# Hubs-first bench corpus, max_depth 1. The wave after the seed step
# holds every non-hub page (4 384 here), above the engine's default
# lookup_pushdown_threshold (4096), so it takes the streaming-scan fetch
# path; the budget (superstep_seconds / 1 s crawl delay) admits it whole.
WIDE = CrawlShape(
    n_hosts=24, pages_per_host=176, links_per_page=100, words_per_page=200,
    mega_host_factor=2, superstep_seconds=1e6,
)
# Same generator with a 16-page/host/step budget: the pending frontier
# (< 4096) keeps every step on the point-lookup fetch path. One wave
# drains the small regular hosts; the mega host (20x: 80 pages) then
# drains alone for four more. Every wave fetches a few hundred pages at
# most, so their commit intervals are alike and their median is steady.
POLITE = CrawlShape(
    n_hosts=48, pages_per_host=4, links_per_page=40, words_per_page=120,
    mega_host_factor=20, superstep_seconds=16.0,
)


def engine_config(shape: CrawlShape, **kw) -> CrawlConfig:
    return CrawlConfig(
        superstep_seconds=shape.superstep_seconds, expected_urls=200_000, **kw
    )


def engine_inputs(spark, prep: dict, pages_path: str | None = None):
    pages = spark.read.parquet(pages_path or prep["path"])
    seeds = spark.createDataFrame(
        [tuple(s.values()) for s in prep["seeds"]], SEEDS_DDL
    )
    robots = spark.createDataFrame(
        [tuple(r.values()) for r in prep["robots"]], ROBOTS_DDL
    )
    return pages, seeds, robots


class CommitWatcher:
    """Polls ``SnapshotStore.latest_step()`` from a thread and records the
    monotonic time each new step manifest first appears."""

    def __init__(self, store: SnapshotStore, period_s: float = 0.005):
        self.store = store
        self.period_s = period_s
        self.seen: list[tuple[int, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def _poll(self) -> None:
        last = -1
        while not self._stop.is_set():
            step = self.store.latest_step()
            if step is not None and step > last:
                self.seen.append((step, time.monotonic()))
                last = step
            self._stop.wait(self.period_s)

    def __enter__(self) -> "CommitWatcher":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def frontier_rows(result) -> list[tuple]:
    return [
        tuple(r) for r in result.frontier.select(
            "discovery_seq", "url", "url_state", "depth"
        ).collect()
    ]


def run_crawl(spark, inputs, shape: CrawlShape, ckpt: str,
              limits: tuple = (None,), on_run=None) -> dict:
    """One crawl op into a fresh ``ckpt``.

    ``limits``: one ``run(max_supersteps=…)`` per fresh engine, in order;
    ``(k, None)`` stops the first engine after k supersteps and finishes
    the crawl with a new engine resuming from the checkpoint.
    ``on_run(i, call)`` wraps each ``run()`` (the traced run puts a span
    around it). Returns timings and the final frontier facts; the
    frontier is collected after the timed calls.
    """
    pages, seeds, robots = inputs
    shutil.rmtree(ckpt, ignore_errors=True)
    store = SnapshotStore(ckpt)
    walls, starts, results = [], [], []
    with CommitWatcher(store) as watch:
        for i, limit in enumerate(limits):
            engine = CrawlEngine(spark, pages, seeds, robots, ckpt,
                                 engine_config(shape))

            def call(engine=engine, limit=limit):
                return engine.run(max_supersteps=limit)

            t0 = time.monotonic()
            results.append(on_run(i, call) if on_run else call())
            walls.append(time.monotonic() - t0)
            starts.append(t0)
        time.sleep(0.01)  # let the watcher see the last manifest
    # every gap between successive manifests after the op started, as an
    # observer polling the store sees them: the stop/resume gap included
    commits = sorted(t for _s, t in watch.seen if t > starts[0])
    intervals = [b - a for a, b in zip(commits, commits[1:])]
    resume_s = None
    if len(starts) > 1:
        first = [t for t in commits if t > starts[1]]
        resume_s = first[0] - starts[1] if first else None
    result = results[-1]
    rows = frontier_rows(result)
    n, digest = frontier_digest(rows)
    return {
        "wall_s": sum(walls),
        "walls": walls,
        "intervals": intervals,
        "resume_s": resume_s,
        "frontier_rows": n,
        "fetched_pages": sum(r[2] == "processed" for r in rows),
        "digest": digest,
        "supersteps": store.latest_step(),
        "ckpt_bytes": dir_bytes(ckpt),
        "engine_step_wall_s": [
            m["wall_time_s"] for m in result.metrics.orderBy("superstep").collect()
        ],
        "results": results,
    }


def check(op: dict, oracle: dict) -> list[str]:
    """Mismatches between one crawl and the oracle's crawl (empty = equal)."""
    bad = []
    for key in ("frontier_rows", "fetched_pages", "digest"):
        if op[key] != oracle[key]:
            bad.append(f"{key}: engine {op[key]} != oracle {oracle[key]}")
    return bad


def warm_up(spark, prep: dict, shape: CrawlShape, work: str,
            wide: bool) -> None:
    """Untimed ops that compile this workload's plan shapes in the JVM and
    start the Python worker pool."""
    ckpt = os.path.join(work, "warm_ckpt")
    if wide:
        # the warm corpus: the same hubs with a small fan-out + 3 pages per
        # host; its wave still exceeds lookup_pushdown_threshold, so both
        # fetch paths compile without crawling the full corpus
        inputs = engine_inputs(spark, prep, warm_corpus_path(prep["path"]))
        CrawlEngine(spark, *inputs, ckpt,
                    engine_config(shape, retry_times=0)).run()
        spark.read.parquet(prep["path"]).select("url").filter(
            "url = '~'"
        ).count()
    else:
        # one superstep of the polite crawl itself
        inputs = engine_inputs(spark, prep)
        run_crawl(spark, inputs, shape, ckpt, limits=(1,))
    shutil.rmtree(ckpt, ignore_errors=True)
