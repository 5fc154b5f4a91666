"""One benchmark invocation: inputs, set-up, timed ops, output checks, the
traced run, the artifact and the result line."""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time
import traceback

import crawls
import inputs
import layers
import sparkenv
from eventlog import busy_seconds, read_jobs
from procstat import PeakRss
from spans import Tracer

# the whole invocation must end inside this many seconds from process
# start; an op or query that could not end before the deadline is
# skipped, counted as a failed op, and the partial result is reported
BUDGET_S = 165.0
SHAPES = {"crawl_wide": crawls.WIDE, "crawl_polite": crawls.POLITE}
# layers whose Spark jobs the event log totals as <layer>.tasks/.task_s
TASK_LAYERS = (
    "udfs", "frontier", "seenset", "politeness", "store", "driver",
    "entry_queries",
)
TINY_SHAPES = {
    "crawl_wide": inputs.CrawlShape(4, 10, 6, 20, 2, 1e6),
    "crawl_polite": inputs.CrawlShape(4, 10, 6, 20, 2, 4.0),
}
# documents the contract queries read (the testdata's first rows by
# doc_id): text_winnowing costs ~0.18 s per document on a 4-core host,
# 90 s for all 500, and a traced run must end within the budget
QUERY_DOCS = 40
TINY_QUERY_DOCS = 8
# the slowest contract query on those tables (text_winnowing, 7-8 s)
QUERY_MAX_S = 12.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; with ten or fewer samples, the maximum."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


class Artifact:
    """The run's full record, rewritten after every completed step so a
    killed run still leaves a parseable file."""

    def __init__(self, path: str, header: dict):
        self.path = path
        self.data = dict(header, ops=[], status="running")

    def save(self, **fields) -> None:
        self.data.update(fields)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self.data, fh, indent=1, default=str)
        os.replace(tmp, self.path)


def op_record(op: dict, oracle: dict, perturb: bool = False) -> dict:
    """The op's facts and its check against the oracle's crawl."""
    if perturb:
        op = dict(op, digest="perturbed:" + op["digest"])
    keep = ("wall_s", "walls", "intervals", "resume_s", "frontier_rows",
            "fetched_pages", "digest", "supersteps", "ckpt_bytes",
            "engine_step_wall_s")
    rec = {k: op[k] for k in keep}
    rec["urls_per_s"] = (op["frontier_rows"] + op["fetched_pages"]) / op["wall_s"]
    rec["mismatch"] = crawls.check(op, oracle)
    rec["ok"] = not rec["mismatch"]
    return rec


def spec_units(section: str) -> dict[str, str]:
    """name → unit of the metrics BENCHMARK.json lists under ``section``."""
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCHMARK.json")
    with open(path) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def with_units(values: dict, section: str) -> dict:
    units = spec_units(section)
    return {n: {"value": v, "unit": units[n]} for n, v in values.items()}


def end_to_end(setup_s: float, ops: list[dict], peak_rss: int) -> tuple[dict, dict]:
    """The end-to-end metrics over the correct ops, plus their notes."""
    good = [o for o in ops if o["ok"]]
    if not good:
        return {}, {}
    intervals = [x for o in good for x in o["intervals"]]
    tail_v, tail_p, tail_n = tail(intervals)
    resumes = [o["resume_s"] for o in good if o["resume_s"] is not None]
    values = {
        "setup_s": setup_s,
        "urls_per_s": statistics.median(o["urls_per_s"] for o in good),
        "commit_interval_s_p50": statistics.median(intervals),
        "commit_interval_s_tail": tail_v,
        "resume_s": statistics.median(resumes) if resumes else None,
        "ckpt_bytes_per_url": statistics.median(
            o["ckpt_bytes"] / o["frontier_rows"] for o in good
        ),
        "peak_rss_mb": peak_rss / 2**20,
    }
    metrics = with_units(
        {n: v for n, v in values.items() if v is not None}, "end_to_end"
    )
    notes = {
        "commit_interval_s_tail": {"percentile": tail_p, "n": tail_n},
        "commit_interval_s_p50": {"n": len(intervals)},
        "ops": len(good),
    }
    return metrics, notes


def tally(ops: list[dict], traced_op: dict | None,
          q_rows: list[dict]) -> tuple[int, int]:
    """(attempted, failed): every crawl op, the traced op and every
    contract query, a skipped query included, is one op."""
    recs = ops + ([traced_op] if traced_op is not None else []) + q_rows
    return len(recs), sum(not r["ok"] for r in recs)


def run(args, t_start: float) -> int:
    work = os.path.abspath(args.work)
    deadline = t_start + BUDGET_S
    os.makedirs(os.path.join(work, "artifacts"), exist_ok=True)
    shape = (TINY_SHAPES if args.tiny else SHAPES)[args.workload]
    n_cores = sparkenv.cores()
    art = Artifact(
        os.path.join(
            work, "artifacts",
            f"{args.workload}_seed{args.seed}_trace{args.trace}.json",
        ),
        {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
         "trace": args.trace, "shape": shape.__dict__, "cores": n_cores,
         "budget_s": BUDGET_S, "load": "closed loop, 1 client, 1 op at a time"},
    )
    rss = PeakRss().start()

    # -- input preparation (cached per seed; excluded from setup_s) --------
    t0 = time.monotonic()
    prep = inputs.prepare_crawl(work, shape, args.seed)
    witness = {"before": layers.kernel_rate(prep["path"])}
    queries = None
    if args.trace:
        import __spark_entry__ as entry

        table_dir = inputs.prepare_tables(
            work, TINY_QUERY_DOCS if args.tiny else QUERY_DOCS
        )
        queries = (table_dir, inputs.duckdb_results(table_dir, entry.oracle_sql()))
    prep_s = time.monotonic() - t0
    art.save(oracle=prep["oracle"], prep_s=prep_s, host_witness=witness)

    # -- set-up: Spark session, JVM, Python workers, warm-up ---------------
    sparkenv.redirect_temp(work)
    log_dir = os.path.join(work, "eventlog", str(os.getpid()))
    spark = sparkenv.make_spark(work, n_cores, log_dir if args.trace else None)
    tracer = Tracer(run_id=f"{args.workload}-{args.seed}")
    try:
        from scrapy_playwright_scrapegraphai_spark import entry_queries as EQ

        EQ.ensure_worker_imports(spark)
        engine_in = crawls.engine_inputs(spark, prep)
        t_warm = time.monotonic()
        crawls.warm_up(spark, prep, shape, work,
                       wide=args.workload == "crawl_wide")
        setup_s = time.monotonic() - t_start - prep_s
        art.save(setup_s=setup_s, warm_up_s=time.monotonic() - t_warm)

        # -- timed ops: a fresh crawl stopped after half its supersteps,
        # then resumed to completion by a fresh engine. The traced run
        # makes one, untraced, as the base of its tracing overhead --------
        half = max(1, math.ceil(prep["oracle"]["supersteps"] / 2))
        limits = (half, None)
        ckpt = os.path.join(work, "ckpt")
        ops = art.data["ops"]
        last_op_s = 0.0
        t_meas = time.monotonic()
        while not ops or (
            not args.trace and time.monotonic() - t_meas < args.seconds
        ):
            if ops and time.monotonic() + last_op_s > deadline:
                art.save(skipped="timed ops past the budget")
                break
            t_op = time.monotonic()
            try:
                op = crawls.run_crawl(spark, engine_in, shape, ckpt, limits)
                ops.append(op_record(op, prep["oracle"],
                                     args.perturb == "frontier"))
            except Exception:  # noqa: BLE001 — a failing op is counted
                ops.append({"ok": False, "error": traceback.format_exc()})
            last_op_s = time.monotonic() - t_op
            art.save()
        traced_op, q_rows = None, []
        if args.trace:
            base = ops[0]["urls_per_s"] if ops[0]["ok"] else None
            art.save(overhead_base_urls_per_s=base)
            metrics, q_rows = traced(
                spark, tracer, args, prep, engine_in, shape, work, ckpt,
                limits, base, n_cores, queries, deadline, art,
            )
            traced_op = art.data["traced_op"]
        attempted, failed = tally(ops, traced_op, q_rows)
    finally:
        sparkenv.stop(spark)
    peak_rss = rss.stop()
    if args.trace:
        metrics.update(eventlog_metrics(
            log_dir, tracer, art.data.get("traced_op", {}).get("supersteps", 0)
        ))
        metrics = with_units(metrics, "per_layer")
        art.save(spans=[s.__dict__ for s in tracer.spans])
    else:
        metrics, notes = end_to_end(setup_s, ops, peak_rss)
        art.save(notes=notes)
    witness["after"] = layers.kernel_rate(prep["path"])
    shutil.rmtree(os.path.join(work, "ckpt"), ignore_errors=True)
    # a metric BENCHMARK.json lists that this run could not measure
    missing = sorted(
        set(spec_units("per_layer" if args.trace else "end_to_end")) - set(metrics)
    )
    result = {
        "correct": failed == 0 and attempted > 0 and not missing,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    art.save(host_witness=witness, metrics=metrics, missing_metrics=missing,
             result=result, status="done")
    print(f"# error_rate = {failed / max(1, attempted):.6g} "
          f"({failed} failed of {attempted} ops)")
    for name, m in metrics.items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


def traced(spark, tracer, args, prep, engine_in, shape, work, ckpt, limits,
           base, n_cores, queries, deadline, art) -> tuple[dict, list]:
    """One traced crawl op, the per-layer probes on its products and the
    contract queries. Returns the per-layer metrics (the event-log totals
    are added once the session has stopped) and the query records."""

    def on_run(i, call):
        with tracer.span(f"driver.run[{i}]", "driver", spark):
            return call()

    op = crawls.run_crawl(spark, engine_in, shape, ckpt, limits, on_run)
    rec = op_record(op, prep["oracle"], args.perturb == "frontier")
    art.save(traced_op=rec)
    with tracer.span("kernels.parse_classify", "kernels"):
        kernel = layers.kernel_rate(prep["path"])
    out = {
        "kernels.pages_per_s": kernel["pages_per_s"],
        "kernels.mb_per_s": kernel["mb_per_s"],
    }
    out.update(layers.probe_crawl_layers(
        spark, tracer, op, prep, engine_in[2], shape, work, kernel, n_cores
    ))
    if base is not None:
        # the untraced op ran in this process just before: same corpus,
        # code, session (event log on in both) and host window
        out["trace.overhead_ratio"] = base / rec["urls_per_s"]
    out["driver.supersteps"] = op["supersteps"]
    out["driver.superstep_s_p50"] = statistics.median(op["engine_step_wall_s"])
    art.save(layer_metrics=out, udf_tax_base=(
        f"kernels.pages_per_s (one process, no Spark) x {n_cores} cores "
        "/ udfs.parse_pages_per_s"
    ))
    table_dir, want = queries
    q_rows = layers.run_queries(
        spark, tracer, table_dir, want, args.seed, deadline - QUERY_MAX_S,
        perturb=args.perturb == "query",
    )
    out.update({f"query.{r['name']}_s": r["s"] for r in q_rows if "s" in r})
    art.save(queries=q_rows)
    return out, q_rows


def eventlog_metrics(log_dir: str, tracer: Tracer, steps: int) -> dict:
    """<layer>.tasks / <layer>.task_s / <layer>.self_s and the driver's
    jobs per step and idle time, from the event log and the spans."""
    jobs = read_jobs(log_dir)
    per: dict[str, list] = {}
    for j in jobs:
        s = tracer.innermost(j.submit)
        if s is not None:
            per.setdefault(s.layer, []).append(j)
    out = {}
    for layer in TASK_LAYERS:
        js = per.get(layer, [])
        out[f"{layer}.tasks"] = sum(j.tasks for j in js)
        out[f"{layer}.task_s"] = sum(j.task_s for j in js)
    for layer in {s.layer for s in tracer.spans}:
        out[f"{layer}.self_s"] = sum(
            tracer.self_seconds(s.sid) for s in tracer.spans if s.layer == layer
        )
    runs = [s for s in tracer.spans if s.name.startswith("driver.run[")]
    run_jobs = [j for j in jobs if any(s.start <= j.submit <= s.end for s in runs)]
    out["driver.jobs_per_step"] = len(run_jobs) / max(1, steps)
    out["driver.idle_s"] = sum(
        (s.end - s.start) - busy_seconds(jobs, s.start, s.end) for s in runs
    )
    return out
