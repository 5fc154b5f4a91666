"""Per-host politeness admission — the flagship window operator (W2).

The reference throttles implicitly: CONCURRENT_REQUESTS_PER_DOMAIN=1 +
DOWNLOAD_DELAY=2 s (randomized 0.5–1.5×) serialize every host to ≤1
request / ~2 s (/root/reference/src/crawler/settings.py:34-35,77-78).
A batch superstep models a wall-clock window of ``superstep_seconds``;
each host therefore admits ``floor(superstep_seconds / crawl_delay)``
fetches (min 1) per superstep, oldest-first by ``discovery_seq`` (the
FIFO discipline of queries.sql:58-63 ORDER BY insert_date).

Skew: one mega-host with 10^8 pending URLs would hot-spot a single
window partition. Two-phase exact top-k defuses it (north rule "salted
repartitioning"): rank within (host, salt) where salt = pmod(xxhash64(url),
S) and keep ≤budget per salt — the global per-host top-budget is a subset
of the union of per-salt top-budgets — then re-rank the ≤ S×budget
survivors per host. Phase 1 spreads the mega-host over S partitions;
phase 2 touches only budget×S rows per host.

Robots (J5, north-rule addition; reference sets ROBOTSTXT_OBEY=False,
settings.py:49): broadcast-join ``robots_rules`` on main_domain; denied
URLs → 'skipped' (state exists in the reference enum, schema.sql:24).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.udfs import robots_allows_udf

DEFAULT_CRAWL_DELAY_S = 2.0  # settings.py:77 DOWNLOAD_DELAY = 2


_REGEX_META = set(".^$*+?{}[]()|\\")
# Java-regex mirrors of the Python per-pattern check below: any regex
# metacharacter, or any non-ASCII char (JVM lower() and str.lower()
# disagree on some case foldings, e.g. 'İ', 'ẞ')
_BAD_META_RE = r"[\^.$*+?{}\[\]()|\\]"
_NON_ASCII_RE = r"[^\x00-\x7F]"


def robots_dim_profile(robots: DataFrame) -> tuple[bool, int]:
    """(regex_free, n_rows) of the robots dim in ONE aggregate job.

    regex_free is True iff every allow/deny pattern is ASCII and free of
    regex metacharacters. For such patterns the reference's dual
    predicate (case-insensitive substring OR case-insensitive regex
    search, url_utils.py:14-24) degenerates to plain substring
    containment, which the JVM evaluates natively — no Python stage in
    the politeness path.

    Scale: the check is a distributed ``exists``-over-patterns reduced
    with ``bool_and`` — a scalar aggregate, never a collect of the
    rules, so a millions-of-hosts robots table (10^10-URL frontier)
    costs one scan. n_rows rides the same job and gates whether the
    politeness join force-broadcasts the dim (see ``with_robots``).
    """
    def _bad(p):
        # a null element would make rlike null, which the coalesce below
        # would read as "not bad"; a malformed dim stays off the native path
        return p.isNull() | p.rlike(_BAD_META_RE) | p.rlike(_NON_ASCII_RE)

    row = (
        robots.select(
            F.coalesce(
                F.exists("allow_patterns", _bad)
                | F.exists("deny_patterns", _bad),
                F.lit(False),
            ).alias("_bad")
        )
        .agg(
            F.coalesce(F.bool_and(~F.col("_bad")), F.lit(True)).alias("ok"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    return bool(row["ok"]), int(row["n"])


def _contains_any(patterns: str) -> "F.Column":
    """Some lower-cased pattern is a substring of the ``_lurl`` column."""
    return F.exists(patterns, lambda p: F.col("_lurl").contains(p))


def with_robots(work: DataFrame, robots: DataFrame,
                native: bool = False, broadcast: bool = True) -> DataFrame:
    """Join politeness rules onto work rows.

    ``native=True`` (the caller's ``robots_dim_profile`` found the rules
    regex-free) keeps the allow/deny verdict entirely JVM-side; otherwise
    the Python-parity UDF evaluates the reference's dual substring/regex
    semantics.

    ``broadcast=True`` hints the rules as the broadcast build side — the
    right plan while the dim is genuinely small (the reference's config
    is a handful of hosts). A 10^10-URL frontier spans millions of
    hosts; above ``CrawlConfig.robots_broadcast_max_rows`` the engine
    passes ``broadcast=False`` and the join is left UNHINTED, so
    Catalyst/AQE picks broadcast vs shuffle from runtime stats instead
    of being forced to ship an over-sized dim to every executor.
    """
    rules = robots.select(
        "main_domain", "allow_patterns", "deny_patterns", "crawl_delay_s"
    )
    if native:
        # lower-case each pattern once per rules row, on the small side
        rules = rules.withColumns({
            f"_{c}": F.transform(c, F.lower)
            for c in ("allow_patterns", "deny_patterns")
        })
    side = F.broadcast(rules) if broadcast else rules
    joined = work.join(side, on="main_domain", how="left")
    if native:
        # and the url once per row: a lambda that captured lower(url)
        # would evaluate it once per pattern
        joined = joined.withColumn("_lurl", F.lower("url"))
        denied = _contains_any("_deny_patterns") & ~F.coalesce(
            _contains_any("_allow_patterns"), F.lit(False)
        )
        verdict = ~F.coalesce(denied, F.lit(False))
    else:
        verdict = robots_allows_udf(
            F.col("url"), F.col("allow_patterns"), F.col("deny_patterns")
        )
    return joined.withColumn(
        "_robots_ok",
        F.when(F.col("deny_patterns").isNull(), F.lit(True)).otherwise(verdict),
    ).drop("_lurl", "_allow_patterns", "_deny_patterns")


def admit_tagged(
    work: DataFrame,
    robots: DataFrame,
    superstep_seconds: float,
    salt_shards: int = 8,
    order_cols: tuple[str, ...] = ("discovery_seq",),
    native_robots: bool = False,
    broadcast_robots: bool = True,
) -> DataFrame:
    """Tag every work row with ``_disposition`` ∈ admitted/deferred/denied.

    Single-DataFrame form for the superstep driver: one cache, one
    groupBy('_disposition') count job covers all admission metrics, and
    the split DataFrames are cheap filters over the cached plan. The
    deferred set is built by UNION of the phase-1 and phase-2 window
    losers — no anti-join back against the eligible set.
    """
    base_cols = work.columns
    order = [F.col(c) for c in order_cols]
    # non-positive/NULL crawl delays fall back to the default — matching
    # kernels.host_budget (the oracle's budget) exactly; a bare coalesce
    # would divide by zero (NULL in non-ANSI Spark) for crawl_delay_s <= 0
    # and let 1 URL/host through where the oracle admits superstep/default
    _delay = F.coalesce(F.col("crawl_delay_s"), F.lit(DEFAULT_CRAWL_DELAY_S))
    _delay = F.when(_delay > 0, _delay).otherwise(F.lit(DEFAULT_CRAWL_DELAY_S))
    w = with_robots(
        work, robots, native=native_robots, broadcast=broadcast_robots
    ).withColumn(
        "_budget",
        F.greatest(
            F.lit(1),
            F.floor(F.lit(float(superstep_seconds)) / _delay).cast("int"),
        ),
    )

    if salt_shards <= 1:
        # single-phase: one per-host window, running count of eligible
        # rows ≤ budget → admitted. Identical output to the two-phase
        # salted rank (asserted in tests); the right shape for SMALL
        # batches where skew cannot bite and every extra exchange is
        # pure fixed cost.
        w1 = (
            Window.partitionBy("main_domain")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        r = w.withColumn(
            "_ok_rank",
            F.sum(F.when(F.col("_robots_ok"), 1).otherwise(0)).over(w1),
        )
        return r.select(
            *base_cols,
            F.when(~F.col("_robots_ok"), F.lit("denied"))
            .when(F.col("_ok_rank") <= F.col("_budget"), F.lit("admitted"))
            .otherwise(F.lit("deferred"))
            .alias("_disposition"),
        )

    w = w.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("url")), F.lit(salt_shards))
    )

    # phase 1 over ALL rows (denied included) via a running count of
    # robots-eligible rows — rank-among-eligible without a pre-filter, so
    # the (host, salt) window exchange is computed once and reused by both
    # union branches (the robots UDF therefore runs exactly once).
    w1 = (
        Window.partitionBy("main_domain", "_salt")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r1 = w.withColumn(
        "_ok_rank",
        F.sum(F.when(F.col("_robots_ok"), 1).otherwise(0)).over(w1),
    )
    survives1 = F.col("_robots_ok") & (F.col("_ok_rank") <= F.col("_budget"))
    branch_out = r1.filter(~survives1).select(
        *base_cols,
        F.when(~F.col("_robots_ok"), F.lit("denied"))
        .otherwise(F.lit("deferred"))
        .alias("_disposition"),
    )
    # phase 2: exact per-host top-budget over the ≤ S×budget survivors
    # (the mega-host never sees all its rows in one window partition)
    w2 = Window.partitionBy("main_domain").orderBy(*order)
    branch_in = (
        r1.filter(survives1)
        .withColumn("_r2", F.row_number().over(w2))
        .select(
            *base_cols,
            F.when(F.col("_r2") <= F.col("_budget"), F.lit("admitted"))
            .otherwise(F.lit("deferred"))
            .alias("_disposition"),
        )
    )
    return branch_in.unionByName(branch_out)

