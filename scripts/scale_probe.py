"""Isolate which stage of the parse barrier limits 2->8 core scaling.

Runs, at a given core count (affinity-pinned like bench.crawl_run):
  A: scan corpus html -> trivial mapInPandas byte-count      (IPC only)
  B: scan -> parse_pages -> count                            (+ kernel + Arrow out)
  C: scan -> parse_pages -> explode -> first_writer_dedup    (+ JVM explode/agg)
  D: C + localCheckpoint(eager)                              (+ barrier store)

Reads bench.py's corpus (run ``python bench.py`` once to generate it).

Usage: python scripts/scale_probe.py <cores>
Prints one JSON line PROBEJSON:{...}.
"""
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402


def main():
    cores = int(sys.argv[1])
    bench.pin(cores)

    from pyspark.sql import functions as F

    spark = bench.make_spark(cores, f"probe-{cores}")

    import pandas as pd

    from scrapy_playwright_scrapegraphai_spark.functions.udfs import (
        parse_pages, explode_parsed,
    )
    from scrapy_playwright_scrapegraphai_spark.operators.frontier import (
        first_writer_dedup,
    )

    pages = spark.read.parquet(bench.CORPUS_PATH)
    # mimic the fetch-join output columns parse_pages expects
    fetched = pages.select(
        "url", "html",
        F.lit("bench").alias("category"),
        F.lit(2).alias("url_type"),
        F.lit(1).alias("max_depth"),
        F.array(F.lit(".pdf")).alias("target_patterns"),
        F.lit("/page/").alias("seed_pattern"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("root_seed_id"),
        F.monotonically_increasing_id().alias("discovery_seq"),
    )

    def _bytecount(batches):
        for pdf in batches:
            yield pd.DataFrame({"n": [int(pdf["html"].str.len().sum())]})

    out = {"cores": cores}

    def timed(name, fn, warm=True):
        if warm:
            fn()  # absorb first-exec codegen etc.
        t0 = time.monotonic()
        fn()
        out[name] = round(time.monotonic() - t0, 2)
        print(f"# {name}@{cores}: {out[name]}s", file=sys.stderr)

    stages = os.environ.get("PROBE_STAGES", "ABD")
    if "A" in stages:
        timed("A_ipc", lambda: fetched.select("html").mapInPandas(
            _bytecount, "n long").agg(F.sum("n")).collect(), warm=False)
    if "B" in stages:
        timed("B_parse", lambda: parse_pages(fetched).count(), warm=False)

    def run_d():
        parsed = parse_pages(fetched).cache()
        batch = first_writer_dedup(
            explode_parsed(parsed),
            order_cols=["parent_seq", "item_seq"], key_cols=["url"],
        )
        b = batch.localCheckpoint(eager=True)
        n = b.count()
        parsed.unpersist()
        b.unpersist()
        return n

    if "D" in stages:
        timed("D_barrier", run_d, warm=False)

    spark.stop()
    print("PROBEJSON:" + json.dumps(out))


if __name__ == "__main__":
    main()
