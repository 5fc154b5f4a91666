"""Physical-plan audits: the queries must not just be correct — they must
compile to the plans a 100 TB deployment needs (SURVEY.md §4.2).

Each test renders `.explain("formatted")` output and asserts structural
properties: predicate/column pushdown reaching the parquet scan, broadcast
vs shuffle join selection, hash-aggregate (map-side combine) instead of
sort-window where the operator was designed for it, and the absence of
nested-loop joins outside the one deliberately-quadratic verifier.
"""

import pytest
from pyspark.sql import functions as F

from scrapy_playwright_scrapegraphai_spark import entry_queries as EQ
from scrapy_playwright_scrapegraphai_spark.operators import similarity as S

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_scan_projection_pruning(spark):
    """A 2-column projection must read exactly 2 columns (ReadSchema)."""
    d = EQ._t(spark, SF, "documents").select("doc_id", "lang")
    plan = _plan(d)
    assert "ReadSchema" in plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "doc_id" in read and "lang" in read
    assert "text" not in read  # the fat column is pruned


def test_filter_pushdown_reaches_scan(spark):
    ev = EQ._t(spark, SF, "events").filter(F.col("event_type") == "click")
    plan = _plan(ev)
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "event_type" in pushed and "IsNotNull" in pushed or "EqualTo" in pushed


def test_fetch_join_broadcasts_small_side(spark):
    """J3: the politeness-bounded batch must be the broadcast build side —
    the big pages table streams exactly once."""
    plan = _plan(EQ.QUERIES["fetch_join"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_exact_dedup_is_single_hash_aggregate(spark):
    plan = _plan(EQ.QUERIES["dedup_exact"](spark, SF))
    assert "HashAggregate" in plan
    # partial+final pair, no sort-based fallback and no window exec
    assert "Window" not in plan


def test_first_writer_dedup_uses_hash_aggregate_not_window(spark):
    """min_by aggregate gets map-side partial combine — the win that cuts
    the 10^7-row exploded-children shuffle; a row_number window would
    shuffle and sort every child row."""
    from scrapy_playwright_scrapegraphai_spark.operators.frontier import (
        first_writer_dedup,
    )

    df = spark.createDataFrame(
        [(f"u{i % 50}", i, i % 7) for i in range(500)],
        "url string, seq long, item int",
    )
    plan = _plan(first_writer_dedup(df, order_cols=["seq", "item"]))
    assert "Window" not in plan
    # struct-valued min_by plans as SortAggregate; the property that
    # matters is partial_min_by BEFORE the Exchange — the shuffle carries
    # one combined row per (map partition, url), not every child row
    assert "partial_min_by" in plan
    # the `(k) SortAggregate` detail containing partial_min_by must have
    # a smaller operator id than the `(j) Exchange` (formatted explain
    # numbers leaves first, so child-before-parent ⇔ smaller id)
    import re

    ids = {}
    for m in re.finditer(r"\((\d+)\) (\w+)", plan):
        k, name = int(m.group(1)), m.group(2)
        seg_start = m.end()
        nxt = re.search(r"\(\d+\) \w+", plan[seg_start:])
        seg = plan[seg_start: seg_start + (nxt.start() if nxt else len(plan))]
        if name == "SortAggregate" and "partial_min_by" in seg:
            ids["partial"] = k
        if name == "Exchange":
            ids["exchange"] = k
    assert ids["partial"] < ids["exchange"], (ids, plan)


def test_no_nested_loop_outside_designated_verifiers(spark):
    """Every contract query except the deliberately-quadratic exact
    verifiers and the k-NN cross-join baselines must avoid
    BroadcastNestedLoopJoin / CartesianProduct."""
    allowed_quadratic = {
        "embedding_dup_pairs",   # cosine_dup_pairs_exact_smallscale
        "knn_bruteforce",        # exact cross-join baseline by design
        "knn_ivf",               # tiny 16-row codebook cross join only
        "knn_ivf_r2",            # same codebook cross join, 2 iterations
        "knn_ivf_seed",          # same codebook cross join, seed baseline
        "duration_epoch",        # 1-row min aggregate cross join (scalar)
        "table_counts",          # 1-row × 1-row count joins
    }
    bad = []
    for name, fn in {**EQ.QUERIES, **EQ.PYTEST_ONLY_QUERIES}.items():
        if name in allowed_quadratic:
            continue
        plan = _plan(fn(spark, SF))
        if "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan:
            bad.append(name)
    assert not bad, f"unexpected nested-loop joins in: {bad}"


def test_gated_cosine_avoids_cross_join(spark):
    """The default embedding-dedup op must plan as bucket equi-joins, in
    contrast to the exact verifier's nested loop."""
    e = EQ._t(spark, SF, "embeddings")
    gated = S.lsh_gated_cosine_dup_pairs(
        e, [S.portable_planes(8, 64, seed=42)], 3, 10
    )
    plan = _plan(gated)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    exact = S.cosine_dup_pairs_exact_smallscale(e, 3, 10)
    assert "BroadcastNestedLoopJoin" in _plan(exact)  # the named verifier


def test_politeness_small_batch_skips_salted_exchange(spark):
    """salt_shards=1 must produce ONE window pass (no two-phase union) —
    the fixed-cost-free plan for small batches; the salted form must
    partition by (main_domain, salt) in phase 1."""
    from scrapy_playwright_scrapegraphai_spark.operators import politeness as P

    work = spark.createDataFrame(
        [(f"https://h{i%3}.t/p{i}", f"h{i%3}.t", i) for i in range(30)],
        "url string, main_domain string, discovery_seq long",
    )
    robots = spark.createDataFrame(
        [(f"h{i}.t", [], [], 2.0) for i in range(3)],
        "main_domain string, allow_patterns array<string>, "
        "deny_patterns array<string>, crawl_delay_s double",
    )
    import re

    def windows(plan):
        return len(re.findall(r"\(\d+\) Window", plan))

    single = _plan(P.admit_tagged(work, robots, 10.0, 1, native_robots=True))
    assert windows(single) == 1
    salted = _plan(P.admit_tagged(work, robots, 10.0, 8, native_robots=True))
    assert windows(salted) >= 2
    assert "_salt" in salted


def test_native_robots_plan_lowers_url_once(spark):
    """The native robots verdict lower-cases each url once per row and
    each pattern on the rules side: the `exists` lambda bodies only read
    columns. A lambda that captured lower(url) would re-evaluate it for
    every pattern (Spark does no subexpression elimination inside
    lambda bodies)."""
    import re

    from scrapy_playwright_scrapegraphai_spark.operators import politeness as P

    work = spark.createDataFrame(
        [(f"https://h0.t/P{i}", "h0.t", i) for i in range(4)],
        "url string, main_domain string, discovery_seq long",
    )
    robots = spark.createDataFrame(
        [("h0.t", ["/P1"], ["/p", "/X"], 2.0)],
        "main_domain string, allow_patterns array<string>, "
        "deny_patterns array<string>, crawl_delay_s double",
    )
    plan = (
        P.with_robots(work, robots, native=True)._jdf.queryExecution()
        .optimizedPlan().toString()
    )
    bodies = re.findall(r"exists\([^,]*, lambdafunction\((.*?)\), lambda", plan)
    assert len(bodies) == 2, plan
    assert not any("lower(" in b for b in bodies), bodies
    assert plan.count("lower(url") == 1, plan


def test_whole_stage_codegen_covers_scan_filter_agg(spark):
    df = EQ.QUERIES["lang_distribution"](spark, SF)
    df.collect()  # AQE finalizes the plan (and codegen stages) on execution
    simple = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    # '*(n)' prefixes mark whole-stage-codegen spans in simple mode
    assert "isFinalPlan=true" in simple and "*(" in simple, simple


def test_point_lookup_batch_above_parquet_in_pushdown_cap(spark, tmp_path):
    """A pending batch in (PARQUET_IN_PUSHDOWN_SAFE_MAX,
    lookup_pushdown_threshold] must complete the point-lookup superstep.

    Regression: the engine raises parquet.pushdown.inFilterThreshold to
    cover the lookup list, and parquet-mr composes a pushed In as a
    nested binary OR tree — at ~2000 urls the executor thread stack
    overflows (StackOverflowError, pyspark 4.1.2 / Java 17). The cap
    keeps the exact isin() filter post-scan and lets the scan fall back
    to a range filter, so the crawl must finish and fetch every page."""
    from scrapy_playwright_scrapegraphai_spark.plans.driver import (
        PARQUET_IN_PUSHDOWN_SAFE_MAX,
        CrawlConfig,
        CrawlEngine,
    )
    from scrapy_playwright_scrapegraphai_spark.sources.bench_corpus import (
        bench_seeds_and_robots,
        generate_bench_corpus,
    )
    from scrapy_playwright_scrapegraphai_spark.sources.synth import (
        ROBOTS_DDL,
        SEEDS_DDL,
    )

    n_hosts, pages_per_host = 8, 320
    path = str(tmp_path / "pages.parquet")
    generate_bench_corpus(
        path, n_hosts, pages_per_host, links_per_page=2,
        mega_host_factor=1, words_per_page=20,
    )
    pages = spark.read.parquet(path)
    seeds_rows, robots_rows = bench_seeds_and_robots(n_hosts)
    seeds = spark.createDataFrame(
        [tuple(s.values()) for s in seeds_rows], SEEDS_DDL
    )
    robots = spark.createDataFrame(
        [tuple(r.values()) for r in robots_rows], ROBOTS_DDL
    )
    cfg = CrawlConfig(superstep_seconds=1e6)
    # the step-2 batch ((pages_per_host - 1) * n_hosts = 2552 pending
    # urls) sits strictly between the pushdown cap and the lookup
    # threshold — the window where the old code crashed the JVM
    assert (
        PARQUET_IN_PUSHDOWN_SAFE_MAX
        < (pages_per_host - 1) * n_hosts
        <= cfg.lookup_pushdown_threshold
    )
    r = CrawlEngine(
        spark, pages, seeds, robots, str(tmp_path / "ckpt"), cfg
    ).run()
    processed = r.frontier.filter("url_state = 'processed'").count()
    assert processed == n_hosts * pages_per_host


# Runs in a fresh local[1] JVM: the cap-sized push is that JVM's first
# scan, so its parquet-mr frames are interpreted (the cold case the cap
# guards). A cap+1 list then falls back to the range filter.
COLD_CAP_PROBE = """
import sys
sys.path.insert(0, {root!r})
from pyspark.sql import SparkSession, functions as F
from scrapy_playwright_scrapegraphai_spark.plans.driver import (
    PARQUET_IN_PUSHDOWN_SAFE_MAX as cap,
)
spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.parquet.pushdown.inFilterThreshold", str(cap))
         .getOrCreate())
urls = [f"https://h{{i % 50}}.example/p{{i}}" for i in range(cap)]
scan = spark.read.parquet({path!r}).filter(F.col("url").isin(urls))
plan = scan._jdf.queryExecution().executedPlan().toString()
assert "PushedFilters: [In(url" in plan, plan[:2000]
n = scan.count()
over = spark.read.parquet({path!r}).filter(
    F.col("url").isin(urls + ["https://h0.example/zzz"])
).count()
spark.stop()
print("counts", n, over, cap)
"""


def test_cap_sized_in_list_actually_pushes_through_a_real_scan(spark, tmp_path):
    """PARQUET_IN_PUSHDOWN_SAFE_MAX encodes a parquet-mr recursion limit
    measured on THIS JVM's default thread stack (a pushed In compiles to
    a nested binary OR tree; measured overflow at 800 terms on a COLD
    JVM — interpreted frames, first scan of the session — vs 1200+ OK
    once JIT-warmed, pyspark 4.1.2 / Java 17; the cap keeps ~2x margin
    below the cold failure). Push an exactly-cap-sized In through a
    real parquet scan and evaluate it as the first scan of a fresh
    ``local[1]`` JVM in a subprocess, so a Spark/JVM upgrade that moves
    the cold limit below the cap fails THIS test loudly instead of
    crashing a production superstep. Also pins what the engine's one
    conf set (``CrawlEngine.__init__``: threshold = max(10, min(lookup
    threshold, cap))) relies on: a list no longer than the threshold
    pushes, and a cap+1 list falls back to a range filter (invisible in
    the plan string — PushedFilters shows the SOURCE-level In either
    way; the threshold only switches the parquet-level predicate) while
    the exact post-scan InSet keeps the result correct."""
    import os
    import subprocess
    import sys

    from scrapy_playwright_scrapegraphai_spark.plans.driver import (
        PARQUET_IN_PUSHDOWN_SAFE_MAX,
    )

    # the shared session writes the table; the probe JVM only reads it
    path = str(tmp_path / "urls.parquet")
    spark.range(5000).selectExpr(
        "concat('https://h', id % 50, '.example/p', id) AS url", "id"
    ).write.parquet(path)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", COLD_CAP_PROBE.format(root=root, path=path)],
        cwd=root, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    cap = PARQUET_IN_PUSHDOWN_SAFE_MAX
    assert proc.stdout.split()[-4:] == ["counts", str(cap), str(cap), str(cap)]
