"""Spark wrappers around the pure kernels, one per job.

The Python stages are batch-vectorized (pandas UDF / mapInPandas over
Arrow record batches) — the north rule forbids per-row Python in the hot
path; the host key ``main_domain_native`` is a JVM expression. The
wrapped kernels live in ``kernels.py`` and are shared verbatim with the
single-process oracle (byte parity by construction).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import kernels

# --- scalar pandas UDFs (iterator form amortizes worker/parser setup) ------


@pandas_udf(StringType())
def canonicalize_url_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Normalization-mode canonical URL (seen-set scale key)."""
    for urls in it:
        yield urls.map(
            lambda u: kernels.canonicalize_url(u, mode="normalize") if u else None
        )


@pandas_udf(BooleanType())
def robots_allows_udf(
    it: Iterator[tuple[pd.Series, pd.Series, pd.Series]],
) -> Iterator[pd.Series]:
    """(url, allow_patterns, deny_patterns) → admission verdict."""
    for urls, allows, denies in it:
        yield pd.Series(
            [
                kernels.robots_allows(
                    u,
                    list(a) if a is not None else [],
                    list(d) if d is not None else [],
                )
                for u, a, d in zip(urls, allows, denies)
            ]
        )


# --- fused per-page parse: links + classification + text in ONE pass --------

# parse_pages output: one row per fetched page. ``items`` holds the
# classified child links (exploded JVM-side by ``explode_parsed``); page-
# constant columns ride once per page instead of being duplicated per
# link through the Arrow boundary.
PARSED_SCHEMA = StructType(
    [
        StructField("discovery_seq", LongType()),
        StructField("page_url", StringType()),
        StructField("category", StringType()),
        StructField("url_type", IntegerType()),
        StructField("max_depth", IntegerType()),
        StructField("target_patterns", ArrayType(StringType())),
        StructField("seed_pattern", StringType()),
        StructField("root_seed_id", IntegerType()),
        # per-page classified-item counts, computed inside the parse pass
        # so lineage aggregation reads 1 row/page instead of re-exploding
        # every child link (A1 semantics: crawl_manager_utils.py:33,42-48)
        StructField("n_targets", IntegerType()),
        StructField("n_seeds", IntegerType()),
        StructField("text", StringType()),
        StructField(
            "items",
            ArrayType(
                StructType(
                    [
                        StructField("url", StringType()),
                        StructField("depth", IntegerType()),
                        StructField("is_target", BooleanType()),
                        StructField("item_seq", IntegerType()),
                    ]
                )
            ),
        ),
    ]
)

_PARSE_IN_COLS = [
    "url",
    "category",
    "url_type",
    "depth",
    "max_depth",
    "target_patterns",
    "seed_pattern",
    "html",
    "discovery_seq",
    "root_seed_id",
]


def parse_pages(fetched: DataFrame) -> DataFrame:
    """Fetched frontier pages → one parsed row per page.

    Fuses K1 link extraction (frontier_spider.py:186-212), P2-P6
    classification with depth gating (crawl_manager_utils.py:18-125) AND
    K2 text extraction into a SINGLE Arrow pass — the html bytes cross
    the JVM→Python boundary exactly once per superstep and the HTML is
    parsed exactly once (the previous design parsed every page twice:
    once for links, once for text). Emits one row per input page even
    when html is null/empty (text null, items empty) so fetch-success
    bookkeeping can ride this output.
    """
    names = [f.name for f in PARSED_SCHEMA.fields]

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols: dict[str, list] = {n: [] for n in names}
            for r in pdf.itertuples(index=False):
                patterns = (
                    list(r.target_patterns) if r.target_patterns is not None else []
                )
                if r.html is None:
                    items: list = []
                    text = None
                else:
                    found, text = kernels.parse_page(r.html, r.url)
                    items = kernels.classify_links(
                        r.url, found, int(r.url_type), patterns,
                        r.seed_pattern, int(r.depth), int(r.max_depth),
                    )
                cols["discovery_seq"].append(int(r.discovery_seq))
                cols["page_url"].append(r.url)
                cols["category"].append(r.category)
                cols["url_type"].append(int(r.url_type))
                cols["max_depth"].append(int(r.max_depth))
                cols["target_patterns"].append(patterns)
                cols["seed_pattern"].append(r.seed_pattern)
                cols["root_seed_id"].append(int(r.root_seed_id))
                nt = sum(1 for i in items if i.is_target)
                cols["n_targets"].append(nt)
                cols["n_seeds"].append(len(items) - nt)
                cols["text"].append(text)
                cols["items"].append(
                    [(i.url, i.depth, i.is_target, i.item_seq) for i in items]
                )
            yield pd.DataFrame(cols) if cols["page_url"] else pd.DataFrame(
                {n: pd.Series(dtype="object") for n in names}
            )

    return fetched.select(*_PARSE_IN_COLS).mapInPandas(_parse, PARSED_SCHEMA)


def explode_parsed(parsed: DataFrame) -> DataFrame:
    """parse_pages output → one row per classified child link.

    Output columns: url, category, url_type, depth, max_depth,
    target_patterns, seed_pattern, is_target, parent_url (the page url),
    parent_seq (the page's discovery_seq), item_seq, root_seed_id.
    ``item_seq`` preserves the reference's yielded-item order (targets in
    link order, then seeds). The explode is native columnar JVM work.
    """
    return (
        parsed.select(
            "category", "url_type", "max_depth", "target_patterns",
            "seed_pattern", "root_seed_id",
            F.col("page_url").alias("parent_url"),
            F.col("discovery_seq").alias("parent_seq"),
            F.explode("items").alias("_it"),
        )
        .select(
            F.col("_it.url").alias("url"),
            "category", "url_type",
            F.col("_it.depth").alias("depth"),
            "max_depth", "target_patterns", "seed_pattern",
            F.col("_it.is_target").alias("is_target"),
            "parent_url", "parent_seq",
            F.col("_it.item_seq").alias("item_seq"),
            "root_seed_id",
        )
    )


def main_domain_native(url: "F.Column | str"):
    """JVM-side ``urlparse(url).netloc`` — the host key of every frontier
    row, root seeds and discovered urls alike.

    Replicates CPython ``urlsplit`` exactly on every string ``urlparse``
    accepts: tab/CR/LF removed anywhere, the LEADING C0-control/space run
    stripped (CPython does not strip trailing — a netloc really can end
    in a space), then the authority is everything between ``//`` (after
    an optional ``scheme:``) and the first of ``/ ? #``, else empty.
    (``urlparse`` raises on an unbalanced ``[``; ``seeds_from_config``
    rejects such seeds and ``is_valid_url`` such links.) Java's
    ``parse_url(..., 'HOST')`` is NOT equivalent (drops userinfo and
    port), hence the regexp. Property-tested against the Python kernel in
    tests/test_kernels.py; keeps the frontier free of Python workers (the
    Arrow eval was 2-3 s/superstep at 8 cores on the bench corpus)."""
    c = F.col(url) if isinstance(url, str) else url
    c = F.regexp_replace(c, "[\\t\\n\\r]", "")
    c = F.regexp_replace(c, "^[\\x00-\\x20]+", "")
    return F.regexp_extract(c, "^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//([^/?#]*)", 1)
