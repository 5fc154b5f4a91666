"""Per-layer probes for the traced run.

Each probe calls one layer's public functions on what the crawl itself
produced (the frontier at the stop step, the crawl's fetched pages, the
committed checkpoint) inside a span. Every Spark call is forced by a
``noop`` write, so the span covers execution and not just plan building;
the rows a later probe needs are then materialized untimed.
"""

from __future__ import annotations

import os
import random
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from scrapy_playwright_scrapegraphai_spark.functions import kernels
from scrapy_playwright_scrapegraphai_spark.functions.udfs import (
    explode_parsed,
    parse_pages,
)
from scrapy_playwright_scrapegraphai_spark.operators import politeness
from scrapy_playwright_scrapegraphai_spark.operators.frontier import (
    anti_join_seen,
    assign_global_seq,
    first_writer_dedup,
)
from scrapy_playwright_scrapegraphai_spark.operators.seenset import BloomShards
from scrapy_playwright_scrapegraphai_spark.plans.store import SnapshotStore

import inputs as bench_inputs
from crawls import dir_bytes, engine_config

def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(tracer, name: str, fn, spark=None) -> float:
    """Seconds ``fn()`` takes, recorded as span ``name`` of layer
    ``name.split('.')[0]``."""
    with tracer.span(name, name.split(".")[0], spark):
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0


def kernel_rate(pages_path: str, min_s: float = 0.3) -> dict:
    """Single-process ``parse_page`` + ``classify_links`` over the corpus's
    first regular-page row group, repeated for at least ``min_s``."""
    f = pq.ParquetFile(pages_path)
    rg = 1 if f.num_row_groups > 1 else 0  # row group 0 holds the hubs
    tb = f.read_row_group(rg, columns=["url", "html"])
    sample = list(zip(tb.column("url").to_pylist(), tb.column("html").to_pylist()))
    n = nbytes = 0
    t0 = time.perf_counter()
    while True:
        for url, html in sample:
            found, _text = kernels.parse_page(html, url)
            kernels.classify_links(url, found, 2, [".pdf"], "/page/", 1, 1)
            nbytes += len(html)
        n += len(sample)
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return {"pages_per_s": n / dt, "mb_per_s": nbytes / dt / 1e6}


def probe_crawl_layers(spark, tracer, op: dict, prep: dict, robots, shape,
                       work: str, kernel: dict, cores: int) -> dict:
    """udfs, frontier, seenset, politeness and store probes on one traced
    crawl op's products. Returns the layer metrics."""
    cfg = engine_config(shape)
    out: dict[str, float] = {}
    pages = spark.read.parquet(prep["path"])
    mid = op["results"][0].frontier  # the frontier at the stop step
    final = op["results"][-1].frontier

    def span(name, fn):
        return timed(tracer, name, fn, spark)

    # udfs: parse + explode over every page the crawl fetched
    processed = final.filter(F.col("url_state") == "processed")
    fetched = (
        pages.select("url", "html")
        .join(F.broadcast(processed), on="url")
        .localCheckpoint(eager=True)
    )
    n_pages = fetched.count()
    parse_s = span("udfs.parse_pages", lambda: noop(parse_pages(fetched)))
    parsed = parse_pages(fetched).localCheckpoint(eager=True)
    out["udfs.explode_s"] = span(
        "udfs.explode_parsed", lambda: noop(explode_parsed(parsed))
    )
    children = explode_parsed(parsed).localCheckpoint(eager=True)
    out["udfs.parse_s"] = parse_s
    out["udfs.parse_pages_per_s"] = n_pages / parse_s
    out["udfs.udf_tax"] = (
        kernel["pages_per_s"] * cores / out["udfs.parse_pages_per_s"]
    )
    n_children = out["udfs.children_rows"] = children.count()

    # frontier: first-writer dedup → seen anti-join → dense sequencing
    order = ["parent_seq", "item_seq"]

    def dedup():
        return first_writer_dedup(children, order_cols=order, key_cols=["url"])

    out["frontier.dedup_s"] = span(
        "frontier.first_writer_dedup", lambda: noop(dedup())
    )
    batch = dedup().localCheckpoint(eager=True)
    n_unique = batch.count()
    seen = mid.filter(~F.col("is_root"))
    out["frontier.anti_join_s"] = span(
        "frontier.anti_join_seen",
        lambda: noop(anti_join_seen(batch, seen, unique_urls=True)),
    )
    new = anti_join_seen(batch, seen, unique_urls=True).localCheckpoint(eager=True)
    n_new = new.count()
    key_bound = final.agg(F.max("discovery_seq")).collect()[0][0] + 1
    out["frontier.seq_s"] = span(
        "frontier.assign_global_seq",
        lambda: noop(assign_global_seq(
            new.drop("partition_id", "found_count"), order,
            start=key_bound, mode="plan", key_bound=key_bound,
        )),
    )
    out["frontier.unique_ratio"] = n_unique / max(1, n_children)
    out["frontier.new_ratio"] = n_new / max(1, n_unique)

    # seenset: build from the stop-step seen set, probe the deduped batch
    # (shard-local above the engine's broadcast budget, as the engine does)
    bloom = BloomShards.sized_for(cfg.expected_urls, cfg.bloom_shards)
    out["seenset.add_s"] = span(
        "seenset.add_df", lambda: bloom.add_df(seen.select("url"))
    )
    probe = (
        bloom.with_maybe_flag
        if bloom.total_bytes() <= cfg.bloom_broadcast_max_bytes
        else bloom.with_maybe_flag_shard_local
    )
    out["seenset.probe_s"] = span("seenset.probe", lambda: noop(probe(batch)))
    maybe = probe(batch).filter(F.col("_maybe")).localCheckpoint(eager=True)
    out["seenset.maybe_ratio"] = maybe.count() / max(1, n_unique)
    # false positives: flagged "maybe seen" but new by the exact anti-join
    n_fp = maybe.join(new.select("url"), on="url").count()
    out["seenset.fp_ratio"] = n_fp / max(1, n_new)
    out["seenset.bytes"] = bloom.total_bytes()
    path = os.path.join(work, "probe_bloom.bin")
    bloom.save(path, 1)
    out["seenset.load_s"] = span("seenset.load", lambda: BloomShards.load(path))

    # politeness: admission over the pending frontier at the stop step
    work_df = mid.filter(
        (F.col("url_state") == "pending")
        & (F.col("is_root") | ~F.col("is_target"))
    ).localCheckpoint(eager=True)
    n_in = work_df.count()
    native, n_rules = politeness.robots_dim_profile(robots)

    def admit():
        return politeness.admit_tagged(
            work_df, robots, cfg.superstep_seconds,
            1 if n_in <= cfg.lookup_pushdown_threshold else cfg.salt_shards,
            order_cols=cfg.order_cols, native_robots=native,
            broadcast_robots=n_rules <= cfg.robots_broadcast_max_rows,
        )

    out["politeness.admit_s"] = span(
        "politeness.admit_tagged", lambda: noop(admit())
    )
    n_adm = admit().filter(F.col("_disposition") == "admitted").count()
    out["politeness.rows_in"] = n_in
    out["politeness.admitted_ratio"] = n_adm / max(1, n_in)

    # store: commit one step (stop-step frontier + the parsed page text),
    # then read it back
    store = SnapshotStore(os.path.join(work, "probe_store"))
    store.reset()
    tables = {
        "frontier": mid,
        "page_text": parsed.select(
            "discovery_seq", F.col("page_url").alias("url"), "text"
        ),
    }
    out["store.write_s"] = span(
        "store.write_step", lambda: store.write_step(1, tables, {"probe": True})
    )
    step_dir = os.path.join(store.root, "step=1")
    out["store.bytes_written"] = dir_bytes(step_dir)
    out["store.files_written"] = sum(
        len([f for f in files if f.endswith(".parquet")])
        for _r, _d, files in os.walk(step_dir)
    )

    def read_back():
        for name in store.read_manifest(1)["tables"]:
            noop(store.read_table(spark, 1, name))

    out["store.read_s"] = span("store.read", read_back)
    return out


def query_order(seed: int) -> list[str]:
    """The contract query names in the order ``seed`` shuffles them to."""
    import __spark_entry__ as entry

    names = sorted(entry.queries())
    random.Random(seed).shuffle(names)
    return names


def run_queries(spark, tracer, table_dir: str, want: dict, seed: int,
                deadline: float, perturb: bool = False) -> list[dict]:
    """Every contract query once, in the seed's order, each forced by a
    noop write inside its span and then checked against DuckDB's rows.

    A query that would start after ``deadline`` (monotonic seconds) is
    not run and is recorded as skipped, a failed op. ``perturb`` corrupts
    the first query's rows before its check."""
    import __spark_entry__ as entry

    queries = entry.queries()
    rows = []
    for name in query_order(seed):
        rec = {"name": name, "ok": False}
        rows.append(rec)
        if time.monotonic() > deadline:
            rec["skipped"] = True
            continue
        made: list = []

        def run_query():
            # building the plan is timed too: some queries (connected
            # components, IVF refinement) run Spark jobs while building it
            made.append(queries[name](spark, table_dir).cache())
            noop(made[0])

        try:
            rec["s"] = timed(tracer, f"entry_queries.{name}", run_query, spark)
            # the check reads the rows back from the cache the write filled
            got = bench_inputs.normalize(made[0].toPandas())
            if perturb and len(rows) == 1:
                got = got.iloc[1:] if len(got) else got.assign(_extra=1)
            rec["ok"] = bench_inputs.frames_equal(got, want[name])
        except Exception as e:  # noqa: BLE001 — a failing query is a failed op
            rec["error"] = repr(e)
        finally:
            if made:
                made[0].unpersist()
    return rows
