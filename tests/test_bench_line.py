"""bench.py's stdout contract line, built without Spark: it must parse as
JSON with the six contract keys, hold every contract query, and stay under
the 2 000-character output tail its reader keeps."""

import json

import pytest

import __spark_entry__ as entry
import bench

CONTRACT_KEYS = {"metric", "value", "unit", "queries", "sf", "scaling"}
EFFICIENCY_KEYS = (
    "efficiency", "hw_control_efficiency", "efficiency_normalized",
    "parallel_section_scaling",
)


def _leg(cores: int, urls_per_sec: float) -> dict:
    return {
        "cores": cores, "wall_s": 9999.99, "frontier_rows": 123_456_789,
        "fetched_pages": 123_456_789, "urls_per_sec": urls_per_sec,
        "checksum": 123_456_789_012, "superstep_wall_s": [9999.99, 1234.56],
        "control_pre_post": [12345.6, 23456.7],
    }


def _record(monkeypatch, allowed_cpus: int) -> dict:
    monkeypatch.setattr(bench, "ALLOWED_CPUS", allowed_cpus)
    lo, hi = bench.LEG_CORES
    legs = [_leg(lo, 1234.5), _leg(hi, 4321.9)] * bench.MAX_PAIRS
    pairs = [
        bench.pair_row(legs[0], legs[1], "lo_first", hi > allowed_cpus)
    ] * bench.MAX_PAIRS
    return {
        "sf": bench.SF_DIR,
        # 4-digit seconds: the widest time a query can show in the budget
        "queries": {name: 9999.99 for name in entry.queries()},
        "scaling": bench.scaling(pairs, legs),
    }


def test_result_line_worst_case_fits_the_tail(monkeypatch):
    record = _record(monkeypatch, allowed_cpus=64)
    assert all(v is not None for v in record["scaling"].values())
    line = bench.result_line(record)
    assert len(line) < 1900, len(line)
    out = json.loads(line)
    assert set(out) == CONTRACT_KEYS
    assert set(out["queries"]) == set(entry.queries())
    assert out["metric"] == f"crawl_urls_per_sec_local{bench.LEG_CORES[1]}"


def test_bench_times_exactly_the_contract_queries():
    assert list(bench.QUERIES) == list(entry.queries())
    assert len(bench.QUERIES) == 50


@pytest.mark.parametrize("allowed_cpus", [4, 64])
def test_oversubscribed_record_carries_null_efficiencies(
    monkeypatch, allowed_cpus
):
    sc = _record(monkeypatch, allowed_cpus)["scaling"]
    over = bench.LEG_CORES[1] > allowed_cpus
    assert sc["oversubscribed"] is over
    assert sc["allowed_cpus"] == allowed_cpus
    for key in EFFICIENCY_KEYS:
        assert (sc[key] is None) is over, key
    assert sc["speedup"] is not None
