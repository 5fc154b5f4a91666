"""Input preparation: the seeded corpora, the query tables, and their
oracle results.

Everything here runs before the Spark session starts and is cached under
the work directory (the corpus and its oracle crawl per seed), so it is
excluded from ``setup_s`` and from every timed op.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import pyarrow.compute as pc
import pyarrow.parquet as pq

from scrapy_playwright_scrapegraphai_spark.oracle.crawler import crawl as oracle_crawl
from scrapy_playwright_scrapegraphai_spark.sources.bench_corpus import (
    bench_seeds_and_robots,
    generate_bench_corpus,
)
from scrapy_playwright_scrapegraphai_spark.sources.tables import TPCH_TABLES

# byte copies of the repo's read-only testdata tables at sf0.001 (see
# TESTDATA.md), carried here so a checkout holds every input it reads
TESTDATA = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "testdata", "sf0.001")


@dataclass(frozen=True)
class CrawlShape:
    """Generator and engine settings of one crawl workload."""

    n_hosts: int
    pages_per_host: int
    links_per_page: int
    words_per_page: int
    mega_host_factor: int
    superstep_seconds: float  # per-host budget = superstep_seconds / 1 s delay

    def key(self) -> str:
        return (
            f"h{self.n_hosts}_p{self.pages_per_host}_l{self.links_per_page}"
            f"_w{self.words_per_page}_m{self.mega_host_factor}"
            f"_s{self.superstep_seconds:g}"
        )


def frontier_digest(rows) -> tuple[int, str]:
    """(row count, sha256) of (discovery_seq, url, url_state, depth) rows,
    independent of row order."""
    h = hashlib.sha256()
    n = 0
    for seq, url, state, depth in sorted(rows):
        h.update(f"{seq}\t{url}\t{state}\t{depth}\n".encode())
        n += 1
    return n, h.hexdigest()


def prepare_crawl(work: str, shape: CrawlShape, seed: int) -> dict:
    """Generate the corpus for ``seed`` and the oracle's crawl of it.

    Returns the corpus path, the seeds/robots lists and the oracle facts
    (frontier digest, fetched pages, supersteps). Cached per seed.
    """
    d = os.path.join(work, "crawl", f"{shape.key()}_seed{seed}")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "pages.parquet")
    generate_bench_corpus(
        path, shape.n_hosts, shape.pages_per_host, shape.links_per_page,
        shape.mega_host_factor, seed=seed, words_per_page=shape.words_per_page,
    )
    seeds, robots = bench_seeds_and_robots(shape.n_hosts)
    cache = os.path.join(d, "oracle.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            oracle = json.load(fh)
    else:
        tb = pq.read_table(path, columns=["url", "html"])
        pages = dict(zip(tb.column("url").to_pylist(), tb.column("html").to_pylist()))
        res = oracle_crawl(pages, seeds, robots,
                           superstep_seconds=shape.superstep_seconds)
        n, digest = frontier_digest(
            (r.discovery_seq, r.url, r.url_state, r.depth) for r in res.frontier
        )
        oracle = {
            "frontier_rows": n,
            "digest": digest,
            "fetched_pages": sum(r.url_state == "processed" for r in res.frontier),
            "supersteps": res.supersteps,
        }
        with open(cache + ".tmp", "w") as fh:
            json.dump(oracle, fh)
        os.replace(cache + ".tmp", cache)
    return {"path": path, "seeds": seeds, "robots": robots, "oracle": oracle}


def prepare_tables(work: str, n_docs: int) -> str:
    """Directory of the query tables: the testdata tables, with
    ``documents`` cut to its first ``n_docs`` rows by ``doc_id``.

    Checks the copies against ``SHA256SUMS`` first. Cached per ``n_docs``.
    """
    with open(os.path.join(TESTDATA, "SHA256SUMS")) as fh:
        for line in fh:
            want, name = line.split()
            with open(os.path.join(TESTDATA, name), "rb") as f:
                if hashlib.sha256(f.read()).hexdigest() != want:
                    raise ValueError(f"testdata {name} differs from SHA256SUMS")
    d = os.path.join(work, "tables", f"sf0.001_docs{n_docs}")
    done = os.path.join(d, "_done")
    if not os.path.exists(done):
        os.makedirs(d, exist_ok=True)
        for t in TPCH_TABLES:
            shutil.copy(os.path.join(TESTDATA, f"{t}.parquet"), d)
        docs = pq.read_table(os.path.join(TESTDATA, "documents.parquet"))
        pq.write_table(docs.filter(pc.less(docs["doc_id"], n_docs)),
                       os.path.join(d, "documents.parquet"))
        open(done, "w").close()
    return d


def duckdb_results(table_dir: str, oracle_sql: dict[str, str]) -> dict:
    """Each oracle query's rows from DuckDB over ``table_dir``, as the
    normalized frames ``normalize`` gives."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TPCH_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(table_dir, t)}.parquet'"
            )
        return {name: normalize(con.execute(sql).df())
                for name, sql in oracle_sql.items()}
    finally:
        con.close()


def normalize(df):
    """Columns sorted by name, rows sorted by value: an order-free form."""
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def frames_equal(got, want) -> bool:
    """The contract test's comparison: same columns, row count and
    values; floats compared exactly as float64, the rest as strings."""
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    for col in got.columns:
        a, b = got[col], want[col]
        if a.dtype.kind in "fc" or b.dtype.kind in "fc":
            if not a.astype("float64").equals(b.astype("float64")):
                return False
        elif a.astype(str).tolist() != b.astype(str).tolist():
            return False
    return True
