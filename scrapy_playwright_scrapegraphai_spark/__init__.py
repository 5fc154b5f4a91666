"""scrapy_playwright_scrapegraphai_spark — a from-scratch PySpark-native
crawl-frontier scheduler + web-text analytics engine.

Replicates the *semantics* of the reference crawler
(`mazzasaverio/scrapy-playwright-scrapegraphai`, read-only at
/root/reference) — frontier data model, URL classification, dedup
discipline, depth-bounded expansion, per-host politeness, run audit —
re-expressed as pure batch-iterative PySpark DataFrame jobs over a
parquet/Iceberg-style table of Common-Crawl-style pages
``pages(url, warc_ts, html, text, lang)``.

This is NOT a port: the reference is Scrapy+Playwright+PostgreSQL; this
engine is DataFrame-declarative (Catalyst-optimized), with vectorized
pandas/Arrow UDFs for HTML kernels, window-ranked politeness admission,
an exact broadcast anti-join URL-seen set, and checkpointed superstep
snapshots for exact resume.

Layout
------
functions/  pure Python kernels (shared with the single-process oracle —
            byte parity by construction) + their Spark wrappers (the fused
            page parse, the robots verdict, the JVM host key) + text
            analytics (lang-id, quality, tokens, fingerprints)
sources/    deterministic synthetic corpus generator (pages/seeds/robots)
            and driver-testdata loaders
operators/  classification, frontier dedup, politeness ranking, seen-set
            bloom shards (a standalone K5 operator the engine does not
            call), dedup suite (exact/minhash/simhash/jaccard),
            similarity search, multimodal plumbing, statistics aggregates
plans/      snapshot store (parquet + atomic manifest; Iceberg-snapshot
            stand-in) and the superstep driver loop
oracle/     single-process pure-Python oracle crawler (golden outputs)

The reference is not a streaming system (SURVEY.md §2.8): all crawl
state is batch-iterative superstep state with snapshot checkpoints.
"""

__version__ = "0.1.0"
