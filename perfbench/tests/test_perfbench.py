"""Tests of the benchmark itself, at a tiny size.

    python3 -m pytest perfbench/tests -q

The end-to-end cases start the benchmark as a subprocess (one Spark JVM
each) on a 4-host corpus and the query tables with 8 documents.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
import layers  # noqa: E402
from spans import Tracer, union_length  # noqa: E402
from workload import tail, tally  # noqa: E402


def _bench(tmp_path, *args, cwd=ROOT, timeout=300):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--seed", "3",
           "--seconds", "1", "--tiny", "--work", str(tmp_path / "work"), *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=timeout)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("workload", ["crawl_wide", "crawl_polite"])
def test_every_end_to_end_metric_printed_with_unit(tmp_path, workload):
    res = _result(_bench(tmp_path, "--workload", workload, "--trace", "0"))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _benchmark_json()["end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_perturbed_frontier_is_a_failed_op(tmp_path):
    res = _result(_bench(tmp_path, "--workload", "crawl_polite", "--trace", "0",
                         "--perturb", "frontier"))
    assert not res["correct"]
    assert res["failed"] == res["attempted"] >= 1


def test_traced_run_reports_every_layer_metric_and_a_perturbed_query_fails(
    tmp_path,
):
    res = _result(_bench(tmp_path, "--workload", "crawl_wide", "--trace", "1",
                         "--perturb", "query"))
    want = {m["name"]: m["unit"] for m in _benchmark_json()["per_layer"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    # one crawl op, the traced crawl op and 50 queries; only the perturbed
    # query fails
    assert res["attempted"] == 52
    assert res["failed"] == 1 and not res["correct"]


def test_fails_without_the_engine(tmp_path):
    """A directory holding only BENCHMARK.json and the benchmark: no result
    line and a non-zero exit."""
    bare = tmp_path / "bare"
    shutil.copytree(BENCH, bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_wide",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_seed_changes_the_generated_corpus_and_the_query_order(tmp_path):
    shape = inputs.CrawlShape(3, 6, 4, 10, 2, 1e6)
    a = inputs.prepare_crawl(str(tmp_path / "a"), shape, seed=1)
    a2 = inputs.prepare_crawl(str(tmp_path / "a2"), shape, seed=1)
    b = inputs.prepare_crawl(str(tmp_path / "b"), shape, seed=2)

    def html(prep):
        return pq.read_table(prep["path"], columns=["html"]).column(0).to_pylist()

    assert html(a) == html(a2)
    assert html(a) != html(b)
    assert a["oracle"] == a2["oracle"]
    assert a["oracle"]["digest"] != b["oracle"]["digest"]
    assert layers.query_order(1) == layers.query_order(1)
    assert layers.query_order(1) != layers.query_order(2)
    assert sorted(layers.query_order(1)) == sorted(layers.query_order(2))


def test_queries_past_the_deadline_are_skipped_and_failed(tmp_path):
    tables = inputs.prepare_tables(str(tmp_path), n_docs=8)
    docs = pq.read_table(os.path.join(tables, "documents.parquet"))
    assert docs.column("doc_id").to_pylist() == list(range(8))
    rows = layers.run_queries(None, Tracer("t"), tables, {}, seed=1,
                              deadline=0.0)
    assert len(rows) == 50
    assert all(r["skipped"] and not r["ok"] for r in rows)
    ok_op = {"ok": True}
    assert tally([ok_op], ok_op, rows) == (52, 50)


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 41)]
    v, p, n = tail(xs)
    assert (v, p, n) == (30.0, 75.0, 40)
    assert sum(x > v for x in xs) == 10
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_self_time_subtracts_child_spans():
    tr = Tracer("t")
    with tr.span("outer", "a"):
        with tr.span("inner", "b"):
            pass
    outer, inner = tr.spans
    # pin the times: outer 0-10, children cover 2-5 and 4-6
    outer.start, outer.end = 0.0, 10.0
    inner.start, inner.end = 2.0, 5.0
    with tr.span("inner2", "b"):
        pass
    tr.spans[2].start, tr.spans[2].end, tr.spans[2].parent = 4.0, 6.0, 0
    assert union_length([(2.0, 5.0), (4.0, 6.0)]) == 4.0
    assert tr.self_seconds(0) == 6.0
    assert tr.innermost(3.0).name == "inner"
