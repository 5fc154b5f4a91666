#!/usr/bin/env python
"""Benchmark: crawl throughput at local[2] and local[8] on one synthetic
pages corpus, and the 50 contract queries at $SPARK_GRAFT_SF_DIR.

    python bench.py

One straight-line run that ends inside BUDGET_S: the corpus, crawl leg
pairs, then the queries; whatever would start past the deadline is
recorded as skipped. The full record is rewritten to RECORD after every leg
and query; the last stdout line is ``result_line(record)``. Each crawl
leg's record carries its timed crawl's ``CrawlResult.steps``: every
superstep's phase seconds and size decisions, as committed to its
manifest. Environment: SPARK_GRAFT_SF_DIR (query tables),
SPARK_GRAFT_CPUS (query-session cores, default the CPUs this process may
use).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

T_START = time.monotonic()
REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)
import __spark_entry__ as entry  # noqa: E402

QUERIES = entry.queries()  # exactly the driver contract's queries

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ALLOWED_CPUS = len(os.sched_getaffinity(0))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or ALLOWED_CPUS)

BUDGET_S = 1500.0  # the whole run, from process start
QUERY_RESERVE_S = 300.0  # no crawl leg starts inside this much of the end
STOP_MARGIN_S = 30.0  # no query starts inside this much of the end
LEG_CORES = (2, 8)  # N → 4N cores
MAX_PAIRS = 3
CONTROL_GROUPS_PER_CORE = 2  # parquet row groups (≈400 pages each)
# hub-first hosts (host 0 is 8× larger), 240 links and 1 200 words per
# page, so the parallel parse dominates the per-superstep fixed costs
N_HOSTS, PAGES_PER_HOST, LINKS_PER_PAGE, WORDS_PER_PAGE = 48, 384, 240, 1200
WORK = os.path.join(REPO, ".bench_work")
CORPUS_PATH = os.path.join(WORK, f"pages_{N_HOSTS}x{PAGES_PER_HOST}"
                           f"x{LINKS_PER_PAGE}w{WORDS_PER_PAGE}.parquet")
RECORD = os.path.join(WORK, "bench_record.json")
# local mode: the driver heap is the executor heap; a fifth of physical
# memory leaves room for the Python workers beside it
HEAP_GB = max(1, os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
              // 5 // 2**30)


def make_spark(cores: int, app: str):
    from pyspark.sql import SparkSession

    conf = {
        "spark.driver.memory": f"{HEAP_GB}g",
        # -Xms = -Xmx: the heap never grows mid-leg; GC threads sized to the
        # leg, or G1 would use every machine thread and subsidize the low leg
        "spark.driver.extraJavaOptions": f"-Xms{HEAP_GB}g -XX:ParallelGCThreads="
        f"{cores} -XX:ConcGCThreads={max(1, cores // 4)}",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        # html rows are wide: 1024-row reader batches (~36 MB per task) and
        # 16 MB scan splits keep the pages scan at full core fan-out
        "spark.sql.parquet.columnarReaderBatchSize": "1024",
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.sql.shuffle.partitions": str(max(32, 2 * cores)),
        "spark.default.parallelism": str(cores),
        # AQE keeps its default parallelism-first coalescing: a sub-64 MB
        # exchange keeps ~cores reducers, not one serial task per superstep
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32m",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    spark = (SparkSession.builder.master(f"local[{cores}]").appName(app)
             .config(map=conf).getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def pin(cores: int) -> set:
    """Pin this process tree to the first ``cores`` allowed CPUs."""
    before = os.sched_getaffinity(0)
    os.sched_setaffinity(0, set(sorted(before)[:cores]))
    return before


def crawl_run(cores: int) -> dict:
    """One leg in this fresh process: untimed warm-up, then the timed crawl.

    Beside the timed ``wall_s`` the leg records its untimed parts:
    ``warm_s`` (entry to timed start: session, warm-up micro-crawl,
    footer prescan) and ``check_s`` (frontier counts and checksum)."""
    import shutil

    t_entry = time.monotonic()
    pin(cores)
    from pyspark.sql import functions as F

    from scrapy_playwright_scrapegraphai_spark.plans.driver import CrawlConfig as Cfg
    from scrapy_playwright_scrapegraphai_spark.plans.driver import CrawlEngine
    from scrapy_playwright_scrapegraphai_spark.sources import bench_corpus, synth

    spark = make_spark(cores, f"sps-crawl-{cores}")
    seeds, robots = (
        spark.createDataFrame([tuple(row.values()) for row in rows], ddl)
        for rows, ddl in zip(bench_corpus.bench_seeds_and_robots(N_HOSTS),
                             (synth.SEEDS_DDL, synth.ROBOTS_DDL)))
    pages = spark.read.parquet(CORPUS_PATH)
    warm = spark.read.parquet(bench_corpus.warm_corpus_path(CORPUS_PATH))
    tmp = os.path.join(WORK, f"ckpt_{os.getpid()}")
    # untimed: a micro-crawl with the same seeds compiles every superstep
    # plan shape in this JVM (retry_times=0 skips its pointless retry
    # step), then the main corpus's parquet footers are read by a scan
    # whose filter prunes every page
    CrawlEngine(spark, warm, seeds, robots, f"{tmp}/warm",
                Cfg(superstep_seconds=1e6, retry_times=0)).run()
    pages.select("url", "html").filter(F.col("url").isin(["~sentinel~"])).count()

    t0 = time.monotonic()
    # politeness budget ≫ frontier → maximal admission per superstep
    result = CrawlEngine(spark, pages, seeds, robots, f"{tmp}/timed",
                         Cfg(superstep_seconds=1e6)).run()
    wall = time.monotonic() - t0
    t_check = time.monotonic()
    frontier = result.frontier
    n_rows = frontier.count()
    fetched = frontier.filter(F.col("url_state") == "processed").count()
    # order-independent exact checksum; pmod keeps the sum far from overflow
    checksum = frontier.select(F.sum(F.pmod(F.xxhash64(
        "discovery_seq", "url", "url_state", "depth"), F.lit(2**31)))).first()[0]
    check = time.monotonic() - t_check
    steps = [r["wall_time_s"] for r in result.metrics.orderBy("superstep").collect()]
    spark.stop()
    shutil.rmtree(tmp, ignore_errors=True)
    return {"cores": cores, "wall_s": round(wall, 2),
            "warm_s": round(t0 - t_entry, 2), "check_s": round(check, 2),
            "frontier_rows": n_rows,
            "fetched_pages": fetched, "checksum": checksum,
            "urls_per_sec": round((n_rows + fetched) / wall, 1),
            "superstep_wall_s": [round(s, 2) for s in steps],
            "steps": result.steps}


def _parse_row_group(group: int) -> int:
    """Parse every page of one corpus row group with the engine's kernel."""
    import pyarrow.parquet as pq

    from scrapy_playwright_scrapegraphai_spark.functions import kernels

    tbl = pq.ParquetFile(CORPUS_PATH).read_row_group(group, columns=["url", "html"])
    for url, html in zip(tbl["url"].to_pylist(), tbl["html"].to_pylist()):
        links, _text = kernels.parse_page(html, url)
        kernels.classify_links(url, links, 2, [".pdf"], "/page/", 1, 1)
    return tbl.num_rows


def control(k: int) -> float:
    """Pages/s of the parse kernel in k processes pinned like a k-core leg,
    each parsing whole row groups: no Spark, no JVM."""
    import multiprocessing as mp

    import pyarrow.parquet as pq

    n_groups = pq.ParquetFile(CORPUS_PATH).metadata.num_row_groups
    before = pin(k)
    try:
        # spawn: fork is unsafe in a process that may hold threads
        with mp.get_context("spawn").Pool(k) as pool:
            pool.map(_parse_row_group, [g % n_groups for g in range(k)])  # warm
            t0 = time.monotonic()
            n = sum(pool.map(_parse_row_group,
                             range(min(CONTROL_GROUPS_PER_CORE * k, n_groups))))
            return round(n / (time.monotonic() - t0), 1)
    finally:
        os.sched_setaffinity(0, before)


def save(record: dict) -> None:
    with open(RECORD + ".tmp", "w") as fh:
        json.dump(record, fh, indent=1)
    os.replace(RECORD + ".tmp", RECORD)


def run_leg(cores: int, deadline: float) -> dict:
    """One crawl leg in a fresh subprocess, between two kernel controls;
    ``leg_s`` is the subprocess wall."""
    pre = control(cores)
    t0 = time.monotonic()
    try:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--crawl-run", str(cores)],
            capture_output=True, text=True, cwd=REPO,
            timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        return {"cores": cores, "skipped": "ran past the deadline"}
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("CRAWLJSON:")]
    if not line:
        print(proc.stderr[-4000:], file=sys.stderr)
        raise RuntimeError(f"crawl leg at {cores} cores failed")
    leg = dict(json.loads(line[-1][len("CRAWLJSON:"):]),
               leg_s=round(time.monotonic() - t0, 2),
               control_pre_post=[pre, control(cores)])
    print(f"# local[{cores}]: {leg['wall_s']} s, {leg['urls_per_sec']} urls/s, "
          f"control {leg['control_pre_post']} pages/s", file=sys.stderr)
    return leg


def pair_row(lo: dict, hi: dict, order: str, oversubscribed: bool) -> dict:
    ratio = hi["cores"] / lo["cores"]
    speedup = hi["urls_per_sec"] / lo["urls_per_sec"]
    hw_speedup = (statistics.mean(hi["control_pre_post"])
                  / statistics.mean(lo["control_pre_post"]))
    # the last superstep is the streaming wave: the parallel section
    wave = lo["superstep_wall_s"][-1] / hi["superstep_wall_s"][-1]
    eff = {"efficiency": speedup / ratio, "hw_control_efficiency": hw_speedup / ratio,
           "efficiency_normalized": speedup / hw_speedup,
           "parallel_section_scaling": wave / ratio}
    return {"order": order, "urls_per_sec_low": lo["urls_per_sec"],
            "urls_per_sec_high": hi["urls_per_sec"], "wall_s_low": lo["wall_s"],
            "wall_s_high": hi["wall_s"], "speedup": round(speedup, 3),
            **{k: None if oversubscribed else round(v, 3) for k, v in eff.items()}}


def scaling(pairs: list[dict], legs: list[dict]) -> dict:
    """Medians over the completed pairs; efficiencies stay null when the
    high leg had more cores than the host allows."""
    lo, hi = LEG_CORES
    out = {"cores_low": lo, "cores_high": hi, "allowed_cpus": ALLOWED_CPUS,
           "oversubscribed": hi > ALLOWED_CPUS, "pairs": len(pairs)}
    for key in ("urls_per_sec_low", "urls_per_sec_high", "wall_s_low",
                "wall_s_high", "speedup", "efficiency", "hw_control_efficiency",
                "efficiency_normalized", "parallel_section_scaling"):
        vals = [p[key] for p in pairs if p[key] is not None]
        out[key] = round(statistics.median(vals), 3) if vals else None
    done = [g for g in legs if "checksum" in g]
    out["checksum_equal"] = len({g["checksum"] for g in done}) == 1 if done else None
    out["frontier_rows"] = done[0]["frontier_rows"] if done else None
    return out


def result_line(record: dict) -> str:
    """The stdout contract line: the contract query seconds and the scaling
    scalars only; the per-leg detail stays in the record file."""
    sc = record["scaling"]
    return json.dumps({"metric": f"crawl_urls_per_sec_local{sc['cores_high']}",
                       "value": sc["urls_per_sec_high"], "unit": "urls/sec",
                       "queries": record["queries"], "sf": record["sf"],
                       "scaling": sc}, separators=(",", ":"))


def run_queries(record: dict, deadline: float) -> None:
    """Each contract query once, forced by a noop write: ``queries`` maps
    name → seconds, or None (skipped or failed, why in ``query_notes``)."""
    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    spark = make_spark(CPUS, "sps-bench-queries")
    try:
        noop(QUERIES["politeness_topk"](spark, SF_DIR))  # untimed session warm-up
        slowest = 0.0
        for name, fn in QUERIES.items():
            if time.monotonic() + slowest > deadline - STOP_MARGIN_S:
                record["query_notes"][name] = "skipped: past the deadline"
                continue
            t0 = time.monotonic()
            try:
                noop(fn(spark, SF_DIR))
                record["queries"][name] = round(time.monotonic() - t0, 2)
                slowest = max(slowest, record["queries"][name])
            except Exception as e:  # noqa: BLE001 — recorded, not fatal
                record["query_notes"][name] = f"failed: {e!r}"[:300]
            print(f"# query {name}: {record['queries'][name]} s", file=sys.stderr)
            save(record)
    finally:
        spark.stop()


def main() -> None:
    if len(sys.argv) >= 3 and sys.argv[1] == "--crawl-run":
        print("CRAWLJSON:" + json.dumps(crawl_run(int(sys.argv[2]))))
        return
    from scrapy_playwright_scrapegraphai_spark.sources import bench_corpus

    deadline = T_START + BUDGET_S
    corpus = bench_corpus.generate_bench_corpus(
        CORPUS_PATH, N_HOSTS, PAGES_PER_HOST, LINKS_PER_PAGE,
        words_per_page=WORDS_PER_PAGE)
    record = {"sf": SF_DIR, "budget_s": BUDGET_S, "heap_gb": HEAP_GB,
              "corpus": dict(corpus, s=round(time.monotonic() - T_START, 1)),
              "legs": [], "pairs": [], "queries": dict.fromkeys(QUERIES),
              "query_notes": {}, "status": "running"}
    lo, hi = LEG_CORES
    slowest = 0.0
    for i in range(MAX_PAIRS):
        order = (lo, hi) if i % 2 == 0 else (hi, lo)
        got = {}
        for cores in order:
            t0 = time.monotonic()
            if t0 + slowest > deadline - QUERY_RESERVE_S:
                got[cores] = {"cores": cores, "skipped": "past the deadline"}
            else:
                got[cores] = run_leg(cores, deadline - QUERY_RESERVE_S)
                slowest = max(slowest, time.monotonic() - t0)
            record["legs"].append(dict(got[cores], pair=i))
            save(record)
        if all("checksum" in got[c] for c in order):
            record["pairs"].append(pair_row(
                got[lo], got[hi], "lo_first" if i % 2 == 0 else "hi_first",
                hi > ALLOWED_CPUS))
    record["scaling"] = scaling(record["pairs"], record["legs"])
    save(record)
    if record["scaling"]["checksum_equal"] is False:
        raise RuntimeError("crawl checksum differs across legs")
    run_queries(record, deadline)
    record.update(status="done", wall_s=round(time.monotonic() - T_START, 1))
    save(record)
    print(result_line(record))


if __name__ == "__main__":
    main()
