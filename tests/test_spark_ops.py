"""Spark-level operator tests: UDF parity, dedup, sequencing, politeness,
bloom seen-set."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from scrapy_playwright_scrapegraphai_spark.functions import kernels as K
from scrapy_playwright_scrapegraphai_spark.functions.udfs import (
    explode_parsed,
    parse_pages,
)
from scrapy_playwright_scrapegraphai_spark.operators.frontier import (
    anti_join_seen,
    assign_global_seq,
    first_writer_dedup,
)
from scrapy_playwright_scrapegraphai_spark.operators.politeness import admit_tagged
from scrapy_playwright_scrapegraphai_spark.operators.seenset import BloomShards


# --- UDF ≡ kernel parity (north-rule byte invariant) -------------------------

def test_parse_pages_matches_kernels(spark, corpus):
    pages = corpus.pages[:60]
    patterns = [".pdf", r"/download/\d+"]
    df = spark.createDataFrame(
        [
            (p["url"], "Cat", 2, 0, 2, patterns, "/page/", p["html"], i, 0)
            for i, p in enumerate(pages)
        ],
        "url string, category string, url_type int, depth int, max_depth int, "
        "target_patterns array<string>, seed_pattern string, html binary, "
        "discovery_seq long, root_seed_id int",
    )
    got = parse_pages(df).collect()
    assert len(got) == len(pages)
    by_url = {p["url"]: p for p in pages}
    for row in got:
        p = by_url[row["page_url"]]
        found, text = K.parse_page(p["html"], p["url"])
        assert row["text"].encode("utf-8") == text.encode("utf-8")
        assert row["text"] == p["text"]  # corpus text column is the oracle output
        expected = K.classify_links(p["url"], found, 2, patterns, "/page/", 0, 2)
        assert [tuple(i) for i in row["items"]] == [
            (i.url, i.depth, i.is_target, i.item_seq) for i in expected
        ]


def test_parse_pages_explode_matches_kernel_classification(spark, corpus):
    page = next(p for p in corpus.pages if b"/page/" in p["html"])
    fetched = spark.createDataFrame(
        [
            (
                page["url"], "Cat", 2, 0, 2, [".pdf", r"/download/\d+"],
                "/page/", page["html"], 100, 0,
            )
        ],
        "url string, category string, url_type int, depth int, max_depth int, "
        "target_patterns array<string>, seed_pattern string, html binary, "
        "discovery_seq long, root_seed_id int",
    )
    rows = explode_parsed(parse_pages(fetched)).orderBy("item_seq").collect()
    found = K.extract_links(page["html"], page["url"])
    expected = K.classify_links(
        page["url"], found, 2, [".pdf", r"/download/\d+"], "/page/", 0, 2
    )
    assert [(r["url"], r["is_target"], r["depth"], r["item_seq"]) for r in rows] == [
        (i.url, i.is_target, i.depth, i.item_seq) for i in expected
    ]
    assert all(r["parent_seq"] == 100 for r in rows)


# --- dedup + sequencing --------------------------------------------------------

def test_first_writer_dedup_deterministic(spark):
    df = spark.createDataFrame(
        [("u1", 5, 0), ("u1", 3, 1), ("u2", 7, 0), ("u1", 3, 0)],
        "url string, parent_seq long, item_seq int",
    )
    rows = first_writer_dedup(df, ["parent_seq", "item_seq"]).orderBy("url").collect()
    assert [(r["url"], r["parent_seq"], r["item_seq"]) for r in rows] == [
        ("u1", 3, 0), ("u2", 7, 0)
    ]


def test_anti_join_seen(spark):
    cand = spark.createDataFrame([("a",), ("b",), ("c",)], "url string")
    seen = spark.createDataFrame([("b",), ("d",)], "url string")
    assert sorted(r["url"] for r in anti_join_seen(cand, seen).collect()) == ["a", "c"]


@pytest.mark.parametrize("n", [200, 0], ids=["rows", "empty"])
def test_assign_global_seq_dense_and_ordered(spark, n):
    data = [(i % 7, i) for i in range(n)]  # (parent_seq, item_seq) unique pairs
    df = spark.createDataFrame(data, "parent_seq long, item_seq int")
    out = assign_global_seq(df, ["parent_seq", "item_seq"], start=10, key_bound=7)
    rows = out.orderBy("discovery_seq").collect()
    assert [r["discovery_seq"] for r in rows] == list(range(10, 10 + n))
    # seq order == key order
    keys = [(r["parent_seq"], r["item_seq"]) for r in rows]
    assert keys == sorted(keys)


def test_assign_global_seq_invariant_to_partitioning(spark):
    """Regression: seqs must not depend on bucket count, physical input
    partitioning, or AQE post-shuffle coalescing (a spark_partition_id-
    based offset scheme broke under AQE: the count pass and the rank pass
    saw different coalesced partition ids → overlapping seq ranges)."""
    data = [(i * 7 % 97, i) for i in range(300)]
    key = lambda rows: sorted(
        (r["parent_seq"], r["item_seq"], r["discovery_seq"]) for r in rows
    )
    ref = None
    for nparts, buckets in [(1, 3), (5, 17), (40, 64)]:
        df = spark.createDataFrame(
            data, "parent_seq long, item_seq int"
        ).repartition(nparts).localCheckpoint(eager=True)
        out = assign_global_seq(
            df, ["parent_seq", "item_seq"], start=5, key_bound=97,
            num_partitions=buckets,
        ).collect()
        seqs = sorted(r["discovery_seq"] for r in out)
        assert seqs == list(range(5, 305))  # dense, no duplicates
        ref = ref or key(out)
        assert key(out) == ref


def test_assign_global_seq_rejects_other_modes(spark):
    df = spark.createDataFrame([(0, 0)], "parent_seq long, item_seq int")
    with pytest.raises(ValueError):
        assign_global_seq(
            df, ["parent_seq", "item_seq"], start=0, key_bound=1, mode="ranged"
        )


# --- politeness admission -------------------------------------------------------

def _work_df(spark, rows):
    return spark.createDataFrame(
        rows, "discovery_seq long, url string, main_domain string"
    )


def _robots_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "main_domain string, allow_patterns array<string>, "
        "deny_patterns array<string>, crawl_delay_s double",
    )


def _dispositions(tagged, disposition: str) -> list:
    return tagged.filter(F.col("_disposition") == disposition).collect()


def test_admit_budget_and_fifo(spark):
    work = _work_df(
        spark,
        [(i, f"https://h1.t/p{i}", "h1.t") for i in range(10)]
        + [(100 + i, f"https://h2.t/p{i}", "h2.t") for i in range(3)],
    )
    robots = _robots_df(spark, [("h1.t", [], [], 2.0), ("h2.t", [], [], 5.0)])
    res = admit_tagged(work, robots, superstep_seconds=10.0, salt_shards=4)
    admitted = _dispositions(res, "admitted")
    # h1: budget floor(10/2)=5, oldest-first seqs 0..4; h2: floor(10/5)=2
    by_host = {}
    for r in admitted:
        by_host.setdefault(r["main_domain"], []).append(r["discovery_seq"])
    assert sorted(by_host["h1.t"]) == [0, 1, 2, 3, 4]
    assert sorted(by_host["h2.t"]) == [100, 101]
    assert len(_dispositions(res, "deferred")) == 10 + 3 - 7
    assert _dispositions(res, "denied") == []


def test_admit_robots_denied_and_default_delay(spark):
    work = _work_df(
        spark,
        [
            (0, "https://h1.t/private/x", "h1.t"),
            (1, "https://h1.t/pub/x", "h1.t"),
            (2, "https://nobody.t/x", "nobody.t"),  # no robots row → allowed
        ],
    )
    robots = _robots_df(spark, [("h1.t", [], ["/private/"], 2.0)])
    res = admit_tagged(work, robots, superstep_seconds=10.0)
    assert [r["discovery_seq"] for r in _dispositions(res, "denied")] == [0]
    assert sorted(
        r["discovery_seq"] for r in _dispositions(res, "admitted")
    ) == [1, 2]


def test_admit_two_phase_exact_vs_single_window(spark):
    # salted two-phase must select exactly the global per-host top-budget
    import random

    rng = random.Random(7)
    rows = []
    seqs = list(range(500))
    rng.shuffle(seqs)
    for i, s in enumerate(seqs):
        host = "mega.t" if i % 5 else "small.t"
        rows.append((s, f"https://{host}/p{s}", host))
    work = _work_df(spark, rows)
    robots = _robots_df(spark, [("mega.t", [], [], 1.0), ("small.t", [], [], 1.0)])
    res = admit_tagged(work, robots, superstep_seconds=50.0, salt_shards=8)
    got = sorted(r["discovery_seq"] for r in _dispositions(res, "admitted"))
    expected = []
    for host in ("mega.t", "small.t"):
        host_seqs = sorted(s for (s, u, h) in rows if h == host)
        expected.extend(host_seqs[:50])  # budget floor(50/1)=50
    assert got == sorted(expected)


def test_admit_single_phase_equals_two_phase(spark):
    # salt_shards=1 (small-batch fast path) must produce the identical
    # (discovery_seq → disposition) map as the salted two-phase rank,
    # robots denials included
    import random

    rng = random.Random(11)
    rows = []
    seqs = list(range(300))
    rng.shuffle(seqs)
    for i, s in enumerate(seqs):
        host = ("mega.t", "small.t", "denied.t")[i % 3]
        rows.append((s, f"https://{host}/p{s}", host))
    work = _work_df(spark, rows)
    robots = _robots_df(
        spark,
        [
            ("mega.t", [], [], 1.0),
            ("small.t", [], [], 5.0),
            ("denied.t", [], ["/p"], 1.0),
        ],
    )

    def dispo(salt):
        out = admit_tagged(work, robots, 30.0, salt_shards=salt).collect()
        return {r["discovery_seq"]: r["_disposition"] for r in out}

    assert dispo(1) == dispo(8)


# --- bloom seen-set ---------------------------------------------------------------

def test_bloom_no_false_negatives_and_prefilter(spark):
    urls = [f"https://h{i%9}.t/p/{i}" for i in range(3000)]
    seen_df = spark.createDataFrame([(u,) for u in urls[:2000]], "url string")
    bloom = BloomShards.sized_for(4000, num_shards=8)
    bloom.add_df(seen_df)
    # no false negatives — every added URL must probe positive
    cand = spark.createDataFrame([(u,) for u in urls], "url string")
    maybe, new = bloom.prefilter_maybe_seen(cand)
    maybe_urls = {r["url"] for r in maybe.collect()}
    new_urls = {r["url"] for r in new.collect()}
    assert set(urls[:2000]) <= maybe_urls
    assert new_urls.isdisjoint(set(urls[:2000]))
    assert maybe_urls | new_urls == set(urls)
    # end-to-end exactness: bloom prefilter + exact anti-join ≡ plain anti-join
    survivors = anti_join_seen(maybe, seen_df)
    combined = sorted(new_urls | {r["url"] for r in survivors.collect()})
    exact = sorted(r["url"] for r in anti_join_seen(cand, seen_df).collect())
    assert combined == exact


def test_bloom_vectorized_positions_bit_identical():
    """The numpy position matrix must equal the per-URL Python reference
    exactly — the vectorized build/probe and the single-URL add/
    might_contain share bitmaps, so any divergence is a false negative."""
    from scrapy_playwright_scrapegraphai_spark.operators.seenset import (
        _bit_positions,
        _positions_matrix,
    )

    urls = [f"https://h{i % 13}.t/p/{i}?q={i * 7}" for i in range(500)]
    urls += ["https://edge.t/", "https://edge.t/%C3%A9", "x"]
    for m_bits, k in [(1 << 12, 5), (1_198_132, 7), ((1 << 33) + 17, 8)]:
        mat = _positions_matrix(urls, m_bits, k)
        assert mat.shape == (len(urls), k)
        for row, u in zip(mat, urls):
            assert [int(x) for x in row] == _bit_positions(u, m_bits, k)
    assert _positions_matrix([], 1 << 12, 5).shape == (0, 5)


def test_bloom_df_build_matches_single_url_add(spark):
    """add_df (vectorized) and add (scalar) must set identical bits."""
    from pyspark.sql import functions as SF

    urls = [f"https://h{i % 5}.t/p/{i}" for i in range(400)]
    via_df = BloomShards.sized_for(1000, num_shards=4)
    via_df.add_df(spark.createDataFrame([(u,) for u in urls], "url string"))
    via_scalar = BloomShards.sized_for(1000, num_shards=4)
    shards = {
        r["u"]: r["s"]
        for r in spark.createDataFrame([(u,) for u in urls], "u string")
        .select("u", SF.pmod(SF.xxhash64("u"), SF.lit(4)).alias("s"))
        .collect()
    }
    for u in urls:
        via_scalar.add(u, shards[u])
    for a, b in zip(via_df.bitmaps, via_scalar.bitmaps):
        assert a.tobytes() == b.tobytes()


def test_bloom_serialize_roundtrip():
    bloom = BloomShards(4, 1 << 12, 5)
    for i in range(100):
        u = f"https://x.t/{i}"
        bloom.add(u, i % 4)
    rows = bloom.serialize()
    back = BloomShards.deserialize(rows, 1 << 12, 5)
    for i in range(100):
        assert back.might_contain(f"https://x.t/{i}", i % 4)


def test_bloom_shard_local_probe_matches_broadcast(spark):
    urls = [f"https://h{i % 7}.t/p/{i}" for i in range(3000)]
    seen = spark.createDataFrame([(u,) for u in urls[:2000]], "url string")
    bloom = BloomShards.sized_for(4000, num_shards=8)
    bloom.add_df(seen)
    cand = spark.createDataFrame(
        [(u, i) for i, u in enumerate(urls)], "url string, n int"
    )
    bc = {(r["url"], r["n"]): r["_maybe"]
          for r in bloom.with_maybe_flag(cand).collect()}
    local = {(r["url"], r["n"]): r["_maybe"]
             for r in bloom.with_maybe_flag_shard_local(cand).collect()}
    assert bc == local
    # no false negatives on the seen side
    assert all(local[(u, i)] for i, u in enumerate(urls[:2000]))


def test_engine_shard_local_bloom_equals_exact(spark, tmp_path):
    """The engine's seen check is the exact anti-join alone: bloom knobs
    that would force the standalone operator onto its partition-local
    probe (broadcast budget 0) leave the crawl result byte-identical, and
    that probe, sized by the same knobs, misses none of the crawled URLs."""
    import tempfile

    from scrapy_playwright_scrapegraphai_spark.plans.driver import (
        CrawlConfig,
        CrawlEngine,
    )
    from scrapy_playwright_scrapegraphai_spark.sources.synth import (
        corpus_to_spark,
        generate_corpus,
    )

    corpus = generate_corpus(n_hosts=5, pages_per_host=8, seed=11)
    pages, seeds, robots = corpus_to_spark(spark, corpus)

    def run(cfg):
        r = CrawlEngine(spark, pages, seeds, robots, tempfile.mkdtemp(), cfg).run()
        return r.frontier, sorted(
            (x["discovery_seq"], x["url"], x["url_state"], x["superstep"])
            for x in r.frontier.collect()
        )

    _, exact = run(CrawlConfig(superstep_seconds=9.0))
    shard_cfg = CrawlConfig(
        superstep_seconds=9.0, bloom_shards=4, expected_urls=64,
        bloom_broadcast_max_bytes=0,
    )
    frontier, shard_local = run(shard_cfg)
    assert exact == shard_local

    bloom = BloomShards.sized_for(
        shard_cfg.expected_urls, num_shards=shard_cfg.bloom_shards
    )
    bloom.add_df(frontier.select("url"))
    flags = bloom.with_maybe_flag_shard_local(frontier.select("url")).collect()
    assert len(flags) == len(exact)
    assert all(r["_maybe"] for r in flags)


def test_native_robots_verdict_matches_udf_on_ascii(spark):
    """Property check (grid, not hypothesis — one Spark job): for every
    ASCII regex-free rule set the JVM-native substring verdict must equal
    the Python-parity UDF verdict, including non-ASCII URLs."""
    from scrapy_playwright_scrapegraphai_spark.operators.politeness import (
        robots_dim_profile,
        with_robots,
    )

    urls = [
        "https://h0.t/private/x",
        "https://h0.t/PRIVATE/y",
        "https://h0.t/ok/page",
        "https://h0.t/private/allowed/z",
        "https://h0.t/İstanbul/private/a",  # non-ASCII url, ASCII patterns
        "https://h0.t/straße/ok",
        "https://h1.t/anything",            # host with no rules row
    ]
    work = spark.createDataFrame(
        [(u, u.split("/")[2], i) for i, u in enumerate(urls)],
        "url string, main_domain string, discovery_seq long",
    )
    robots = _robots_df(
        spark, [("h0.t", ["/private/allowed/"], ["/private/", "/PRIVATE/"], 2.0)]
    )
    assert robots_dim_profile(robots)[0]
    native = {
        r["url"]: r["_robots_ok"]
        for r in with_robots(work, robots, native=True).collect()
    }
    python = {
        r["url"]: r["_robots_ok"]
        for r in with_robots(work, robots, native=False).collect()
    }
    assert native == python
    assert native["https://h0.t/ok/page"] is True
    assert native["https://h0.t/private/x"] is False
    assert native["https://h0.t/private/allowed/z"] is True
    assert native["https://h1.t/anything"] is True  # no rules ⇒ allowed


def test_priority_queue_order_cols(spark):
    """CrawlConfig.order_cols: a depth-prioritized run admits the same
    URL SET as FIFO (set semantics are order-independent given the
    first-writer-wins discipline) while the per-superstep admission
    order can differ under a tight politeness budget."""
    import tempfile

    from pyspark.sql import functions as F

    from scrapy_playwright_scrapegraphai_spark.plans.driver import (
        CrawlConfig,
        CrawlEngine,
    )
    from scrapy_playwright_scrapegraphai_spark.sources.synth import (
        corpus_to_spark,
        generate_corpus,
    )

    corpus = generate_corpus(n_hosts=4, pages_per_host=8, seed=5)
    pages, seeds, robots = corpus_to_spark(spark, corpus)

    def run(order_cols):
        eng = CrawlEngine(
            spark, pages, seeds, robots, tempfile.mkdtemp(),
            CrawlConfig(superstep_seconds=6.0, order_cols=order_cols),
        )
        r = eng.run()
        rows = r.frontier.filter(~F.col("is_root")).collect()
        return {x["url"] for x in rows}, r.supersteps_run

    fifo_set, _ = run(("discovery_seq",))
    bfs_set, _ = run(("depth", "discovery_seq"))
    assert fifo_set == bfs_set
    assert len(fifo_set) > 10


def test_budget_nonpositive_crawl_delay_matches_oracle(spark):
    """crawl_delay_s <= 0 or NULL must fall back to the default delay in
    BOTH the engine expression and kernels.host_budget (the oracle)."""
    work = spark.createDataFrame(
        [(f"https://h{i}.t/p{j}", f"h{i}.t", i * 100 + j)
         for i in range(4) for j in range(10)],
        "url string, main_domain string, discovery_seq long",
    )
    robots = _robots_df(spark, [
        ("h0.t", [], [], 0.0),     # zero delay
        ("h1.t", [], [], -1.0),    # negative delay
        ("h2.t", [], [], None),    # null delay
        # h3.t: no rules row at all
    ])
    tagged = admit_tagged(work, robots, 10.0, 1, native_robots=True)
    admitted = tagged.filter(F.col("_disposition") == "admitted")
    got = {r["main_domain"]: 0 for r in admitted.collect()}
    for r in admitted.collect():
        got[r["main_domain"]] = got.get(r["main_domain"], 0) + 1
    want = K.host_budget(None, 10.0)  # default delay 2.0 → budget 5
    assert got == {f"h{i}.t": want for i in range(4)}


def test_lang_id_null_text_is_und(spark):
    from scrapy_playwright_scrapegraphai_spark.functions.text import lang_id_expr

    df = spark.createDataFrame(
        [(0, None), (1, "the of and"), (2, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["g"]
           for r in df.select("doc_id", lang_id_expr(F.col("text")).alias("g")).collect()}
    assert got == {0: "und", 1: "en", 2: "und"}


def test_null_html_page_is_fetch_failure(spark, tmp_path):
    """A pages row with NULL html must behave like a missing page:
    retry then 'failed', exactly as the oracle treats it."""
    import tempfile

    from scrapy_playwright_scrapegraphai_spark.plans.driver import (
        CrawlConfig,
        CrawlEngine,
    )
    from scrapy_playwright_scrapegraphai_spark.sources.synth import (
        PAGES_DDL,
        ROBOTS_DDL,
        SEEDS_DDL,
    )
    import datetime as dt

    pages = spark.createDataFrame(
        [("https://h0.t/page/0", dt.datetime(2024, 1, 1), None, None, "en")],
        PAGES_DDL,
    )
    seeds = spark.createDataFrame(
        [(0, "c", "https://h0.t/page/0", 2, [".pdf"], "/page/", 1)], SEEDS_DDL
    )
    robots = spark.createDataFrame([], ROBOTS_DDL)
    r = CrawlEngine(
        spark, pages, seeds, robots, tempfile.mkdtemp(),
        CrawlConfig(superstep_seconds=10.0),
    ).run()
    row = r.frontier.collect()[0]
    assert row["url_state"] == "failed" and row["attempt"] == 2


def test_main_domain_native_equals_kernel(spark):
    """The JVM netloc expression that keys every frontier row (root seeds
    and discovered urls) vs the urllib kernel on adversarial url shapes:
    valid urls, scheme-relative ``//`` urls and strings with no authority
    at all — every string ``urlparse`` accepts."""
    from scrapy_playwright_scrapegraphai_spark.functions.udfs import (
        main_domain_native,
    )

    candidates = [
        "http://h.t/p",
        "https://User:p@Host.TEST:8080/x?q=1#f",
        "https://user@h.t:8080/p",
        "HTTPS://MiXeD.CaSe:443",
        "http://h.t",
        "http://h.t:80",
        "ftp://h.t/dir/",
        "a+b-c.d://weird/p",
        "http://h b/with space",
        "http://h.t/p;param?q#frag",
        " http://lead.space/x",
        "\thttp://lead.tab/x",
        "\x01http://lead.ctl/x",
        "http://ta\tb.inner/x",
        "http://trail.sp /x",
        "http://trail.sp2 ",
        "http://[::1]:8080/v6",
        "http://h.t\\backslash/x",
        "http://h\u0131host.t/\u20ac",
        "http://a?q//h",
        "http://a#f//h",
        "//h.t/p",
        "mailto:a@b",
        "not a url",
    ]
    df = spark.createDataFrame([(u,) for u in candidates], "url string")
    got = {
        r["url"]: r["md"]
        for r in df.withColumn("md", main_domain_native("url")).collect()
    }
    for u in candidates:
        assert got[u] == K.main_domain(u), repr(u)


def test_robots_dim_profile_is_aggregate_not_collect(spark):
    """The regex-free verdict + dim size come from ONE scalar aggregate
    (scales to a millions-of-hosts robots table); verdicts match the
    per-pattern Python rules exactly."""
    from scrapy_playwright_scrapegraphai_spark.operators.politeness import (
        robots_dim_profile,
    )

    clean = _robots_df(
        spark, [("h1.t", ["/ok/"], ["/private/"], 2.0), ("h2.t", [], [], 1.0)]
    )
    assert robots_dim_profile(clean) == (True, 2)
    meta = _robots_df(spark, [("h1.t", [], ["/p.*/"], 2.0), ("h2.t", [], [], 1.0)])
    assert robots_dim_profile(meta) == (False, 2)
    non_ascii = _robots_df(spark, [("h1.t", [], ["/İstanbul/"], 2.0)])
    assert robots_dim_profile(non_ascii) == (False, 1)
    # NULL pattern arrays = no rules for that host = still regex-free
    null_arrays = _robots_df(spark, [("h1.t", None, None, 2.0)])
    assert robots_dim_profile(null_arrays) == (True, 1)
    empty = _robots_df(spark, [])
    assert robots_dim_profile(empty) == (True, 0)


def test_robots_dim_profile_null_pattern_element_is_not_regex_free(spark):
    """A NULL element inside a pattern array is a malformed dim: it must
    keep the rules off the native substring path, not read as clean."""
    from scrapy_playwright_scrapegraphai_spark.operators.politeness import (
        robots_dim_profile,
    )

    null_allow = _robots_df(spark, [("h1.t", ["/ok/", None], ["/private/"], 2.0)])
    assert robots_dim_profile(null_allow) == (False, 1)
    null_deny = _robots_df(spark, [("h1.t", ["/ok/"], [None, "/private/"], 2.0)])
    assert robots_dim_profile(null_deny) == (False, 1)


def test_robots_broadcast_gate_engine_equality(spark):
    """broadcast_robots=False (the 10^10-host degradation) must produce
    the IDENTICAL admission set, and the plan must actually lose the
    forced broadcast when auto-broadcast is off."""
    work = spark.createDataFrame(
        [
            (f"https://h{i % 5}.t/p{i}", f"h{i % 5}.t", i)
            for i in range(200)
        ],
        "url string, main_domain string, discovery_seq long",
    )
    robots = _robots_df(
        spark,
        [(f"h{i}.t", ["/p1"], ["/p"], 2.0) for i in range(5)],
    )

    def rows(df):
        return sorted(
            (r["url"], r["_disposition"]) for r in df.collect()
        )

    hinted = admit_tagged(work, robots, 10.0, 4, native_robots=True,
                          broadcast_robots=True)
    unhinted = admit_tagged(work, robots, 10.0, 4, native_robots=True,
                            broadcast_robots=False)
    assert rows(hinted) == rows(unhinted)

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        # fresh plans compiled under -1: the hint must survive, the
        # unhinted join must degrade to a non-broadcast strategy
        spark.conf.set(key, "-1")
        plan_h = admit_tagged(
            work, robots, 10.0, 4, native_robots=True, broadcast_robots=True
        )._jdf.queryExecution().executedPlan().toString()
        plan_u = admit_tagged(
            work, robots, 10.0, 4, native_robots=True, broadcast_robots=False
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan_h      # hint survives -1
        assert "BroadcastHashJoin" not in plan_u  # unhinted degrades
    finally:
        spark.conf.set(key, old)
