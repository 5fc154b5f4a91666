"""Large deterministic pages corpus for throughput benchmarking.

Streams parquet via pyarrow (no driver-side createDataFrame of the whole
corpus). Same page/link semantics as synth.py but sized for measuring the
fetch-join → extract → classify → dedup pipeline throughput: many hosts,
heavier pages (more anchors, more text), one mega-host for skew.

Physical layout (hubs-first, ``_LAYOUT`` in the footer metadata): every
host's hub page (the seed superstep's entire fetch set) is written FIRST,
into one tight row group, with the regular pages streamed after it. The
seed superstep's pushed-down In(url, [hub urls]) then decodes ONE
co-located row group instead of touching one data page in every host's
block across the whole file — the single-file stand-in for an Iceberg
table whose seed tier is clustered/sorted so metadata pruning makes a
48-row point lookup cost 48 rows. Page content is derived from a
PER-PAGE rng (seed, host, page), so the layout is free to order rows
without changing any page's bytes.
"""

from __future__ import annotations

import itertools
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "the of and to in is it for on with page document archive report city "
    "council public notice meeting budget plan street light data value"
).split()

# bump to force regeneration of corpora written with an older physical
# layout (checked via the parquet schema metadata; row counts alone can't
# see a layout change)
_LAYOUT = b"hubs_first_v1"


def _page_rng(seed: int, host: int, j: int) -> random.Random:
    """Per-page rng: content depends only on (seed, host, page index),
    never on generation order — the writer may lay rows out freely."""
    return random.Random(f"{seed}/{host}/{j}")


def generate_bench_corpus(
    path: str,
    n_hosts: int = 64,
    pages_per_host: int = 256,
    links_per_page: int = 40,
    mega_host_factor: int = 8,
    seed: int = 42,
    chunk_rows: int = 400,  # one row group per chunk → enough input splits
    words_per_page: int = 120,
) -> dict:
    """Write pages parquet to ``path``; return corpus facts (row counts).

    Deterministic; idempotent (skips regeneration if the manifest row
    count AND the physical-layout version match).
    """
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ],
        metadata={b"sps_layout": _LAYOUT},
    )
    host_pages = {
        h: pages_per_host * (mega_host_factor if h == 0 else 1)
        for h in range(n_hosts)
    }
    total = sum(host_pages.values())
    # host_start[h]: pages of every host before h (warc_ts offset base)
    host_start = list(itertools.accumulate(host_pages.values(), initial=0))
    # warm-up corpus: a SMALL synthetic hub (page 0) + pages 1-3 per host
    # (pages 1-3 byte-identical to the main corpus rows). A micro-crawl
    # over it in the same JVM compiles every superstep plan shape
    # (wholestage codegen, window/join exec classes, Python worker pool)
    # that the timed crawl executes: the warm hub links to just enough
    # pages that the step-2 pending count clears the engine's
    # lookup_pushdown_threshold (4096), so the warm step 2 takes the SAME
    # salted-two-phase politeness + streaming-scan fetch path as the
    # timed step 2, while the warm step 1 takes the same In-pushdown
    # point-lookup path (48 seeds). Compiled classes depend on plan
    # SHAPE, not data values, so the hub html itself need not match the
    # main hub — reusing the real hub (2k+ links/host) made the untimed
    # warm-up process a full 56k-row frontier, burning ~100 s of host
    # CPU budget inside every measured leg for zero extra plan coverage.
    warm_hub_links = max(4, (4300 + n_hosts - 1) // n_hosts)
    warm_path = warm_corpus_path(path)
    warm_total = n_hosts * 4
    if os.path.exists(path) and os.path.exists(warm_path):
        try:
            meta = pq.read_schema(path).metadata or {}
            if (
                pq.read_metadata(path).num_rows == total
                and pq.read_metadata(warm_path).num_rows == warm_total
                and meta.get(b"sps_layout") == _LAYOUT
            ):
                return {"rows": total, "path": path, "regenerated": False}
        except Exception:
            pass
    import datetime as dt

    epoch = dt.datetime(2024, 11, 15)

    def _page_row(h: int, j: int):
        """(url, warc_ts, html, text, lang) of page j of host h —
        deterministic in (seed, h, j) alone."""
        rng = _page_rng(seed, h, j)
        count = host_pages[h]
        host = f"bench{h}.example.test"
        parts = [f"<html><head><title>p{j} {host}</title></head><body>"]
        wl = rng.choices(_WORDS, k=words_per_page)
        words = " ".join(wl)
        # spread the text over paragraphs so extract_text sees many nodes
        for w0 in range(0, words_per_page, 60):
            parts.append(f"<p>{' '.join(wl[w0:w0 + 60])}</p>")
        if j == 0:
            # page 0 is the hub: links to every page of the host, so a
            # max_depth=1 crawl reaches the full host in ONE superstep
            # (big parallel batch instead of many small BFS waves); the
            # mega-host hub is also the politeness-skew stressor
            for k in range(1, count):
                parts.append(f'<a href="/page/{k}">s{k}</a>')
        for _ in range(links_per_page):
            k = rng.randrange(count)
            parts.append(f'<a href="/page/{k}">s{k}</a>')
        for _ in range(4):
            d = rng.randrange(10000)
            parts.append(f'<a href="/files/doc{d}.pdf">t{d}</a>')
        parts.append("</body></html>")
        # warc_ts: global generation-order second offset (host blocks,
        # hub first within each) — same clock semantics as before
        ts = host_start[h] + j
        return (
            f"https://{host}/page/{j}",
            epoch + dt.timedelta(seconds=ts),
            "".join(parts).encode(),
            words,  # bench corpus: text not parity-checked
            "en",
        )

    # page indexes (parquet ColumnIndex/OffsetIndex): tight per-page url
    # min/max so pushed-down point predicates skip whole data pages; plus
    # the hubs-first row group (module docstring) so the seed superstep's
    # In(url, [hubs]) decodes one row group total
    writer = pq.ParquetWriter(path, schema, write_page_index=True)
    warm_writer = pq.ParquetWriter(warm_path, schema, write_page_index=True)
    buf = {k: [] for k in ("url", "warc_ts", "html", "text", "lang")}
    warm_buf = {k: [] for k in ("url", "warc_ts", "html", "text", "lang")}

    def _append(b, row):
        for key, v in zip(("url", "warc_ts", "html", "text", "lang"), row):
            b[key].append(v)

    def flush():
        if not buf["url"]:
            return
        writer.write_table(pa.table(buf, schema=schema))
        for v in buf.values():
            v.clear()

    # pass 1: every host's hub — ONE leading row group (the seed tier)
    for h in range(n_hosts):
        row = _page_row(h, 0)
        _append(buf, row)
        # warm hub: same url, small fan-out (see warm_hub_links)
        rng = _page_rng(seed, h, 0)
        wl = rng.choices(_WORDS, k=words_per_page)
        host = f"bench{h}.example.test"
        wparts = [
            f"<html><head><title>p0 {host}</title></head><body>",
            f"<p>{' '.join(wl[:60])}</p>",
        ]
        for k in range(1, warm_hub_links + 1):
            wparts.append(f'<a href="/page/{k}">s{k}</a>')
        for d in range(4):
            wparts.append(f'<a href="/files/doc{d}.pdf">t{d}</a>')
        wparts.append("</body></html>")
        _append(
            warm_buf,
            (row[0], row[1], "".join(wparts).encode(), row[3], row[4]),
        )
    flush()  # hubs get their own tight row group(s)

    # pass 2: regular pages, streamed in host blocks
    for h in range(n_hosts):
        for j in range(1, host_pages[h]):
            row = _page_row(h, j)
            _append(buf, row)
            if j < 4:
                _append(warm_buf, row)
            if len(buf["url"]) >= chunk_rows:
                flush()
    flush()
    writer.close()
    warm_writer.write_table(pa.table(warm_buf, schema=schema))
    warm_writer.close()
    return {"rows": total, "path": path, "regenerated": True}


def warm_corpus_path(path: str) -> str:
    """Path of the warm-up micro-corpus generated alongside ``path``.

    The ``_warm2`` suffix versions the warm-corpus FORMAT (small
    synthetic hubs) — the idempotency check above only compares row
    counts, which the format change kept identical, so a new filename is
    what forces stale warm files from the old format to regenerate.
    """
    return (
        path[: -len(".parquet")] + "_warm2.parquet"
        if path.endswith(".parquet")
        else path + "_warm2"
    )


def bench_seeds_and_robots(n_hosts: int = 64):
    seeds = [
        {
            "url_seed_root_id": h,
            "category": f"bench{h}",
            "url": f"https://bench{h}.example.test/page/0",
            "url_type": 2,
            "target_patterns": [".pdf"],
            "seed_pattern": "/page/",
            "max_depth": 1,  # hub roots reach the whole host at depth 1
        }
        for h in range(n_hosts)
    ]
    robots = [
        {
            "main_domain": f"bench{h}.example.test",
            "allow_patterns": [],
            "deny_patterns": ["/private/"],
            "crawl_delay_s": 1.0,
        }
        for h in range(n_hosts)
    ]
    return seeds, robots
