"""Checkpoint/resume exactness (SURVEY.md §5.4, north-rule requirement):
a run killed after superstep k and resumed must produce a final state
identical to an uninterrupted run."""

import pytest
from pyspark.sql import functions as F

from scrapy_playwright_scrapegraphai_spark.plans.driver import CrawlConfig, CrawlEngine
from scrapy_playwright_scrapegraphai_spark.plans.store import SnapshotStore

SS = 12.0


def _key(frontier):
    return sorted(
        (
            r["url"], r["category"], r["depth"], r["is_target"], r["parent_url"],
            r["url_state"], r["discovery_seq"], r["superstep"], r["is_root"],
            r["attempt"],
        )
        for r in frontier.collect()
    )


def _metric_counts(result):
    cols = [
        "superstep", "n_work", "n_admitted", "n_denied", "n_deferred",
        "n_fetched_ok", "n_fetch_failed", "n_new",
    ]
    return [
        tuple(r[c] for c in cols)
        for r in result.metrics.orderBy("superstep").collect()
    ]


def _engine(spark, corpus_spark, ckpt):
    pages, seeds, robots = corpus_spark
    return CrawlEngine(
        spark, pages, seeds, robots, ckpt,
        CrawlConfig(superstep_seconds=SS),
    )


def test_resume_equals_uninterrupted(spark, corpus_spark, tmp_path):
    full = _engine(spark, corpus_spark, str(tmp_path / "full")).run()
    assert full.supersteps_run >= 3

    # "kill" after 2 supersteps, then resume to completion
    part_dir = str(tmp_path / "part")
    partial = _engine(spark, corpus_spark, part_dir).run(max_supersteps=2)
    assert partial.supersteps_run == 2
    resumed = _engine(spark, corpus_spark, part_dir).run()
    assert resumed.resumed_from == 2
    assert resumed.supersteps_run == full.supersteps_run - 2
    assert _key(resumed.frontier) == _key(full.frontier)

    # metrics history is complete and identical
    assert _metric_counts(resumed) == _metric_counts(full)


@pytest.fixture(scope="module")
def uninterrupted(spark, corpus_spark, tmp_path_factory):
    return _engine(spark, corpus_spark, str(tmp_path_factory.mktemp("full"))).run()


def _fail_in_step_2(eng, fail_at, err):
    """Make step 2's background ``fail_at`` task (advance or write) raise
    ``err``."""
    if fail_at == "advance":
        apply_updates, calls = eng._apply_updates, []

        def failing_apply_updates(*args, **kwargs):
            calls.append(1)
            if len(calls) == 2:  # one call per advance, no rebuild folds
                raise err
            return apply_updates(*args, **kwargs)

        eng._apply_updates = failing_apply_updates
    else:
        write_step = eng.store.write_step

        def failing_write_step(step, tables, meta):
            if step == 2:
                raise err
            return write_step(step, tables, meta)

        eng.store.write_step = failing_write_step


@pytest.mark.parametrize("fail_at", ["advance", "write"])
def test_background_failure_surfaces_and_resume_recovers(
    spark, corpus_spark, tmp_path, uninterrupted, fail_at
):
    """Step 2's advance or snapshot write dies on the run's executor: the
    error reaches the caller of run(), no part of step 2 is visible, and
    a fresh engine resuming the directory ends equal to an uninterrupted
    run."""
    assert uninterrupted.supersteps_run >= 3
    ckpt = str(tmp_path / "dies")
    eng = _engine(spark, corpus_spark, ckpt)
    err = RuntimeError(f"injected {fail_at} failure")
    _fail_in_step_2(eng, fail_at, err)
    with pytest.raises(RuntimeError) as raised:
        eng.run()
    assert raised.value is err
    assert SnapshotStore(ckpt).latest_step() == 1

    resumed = _engine(spark, corpus_spark, ckpt).run()
    assert resumed.resumed_from == 1
    assert _key(resumed.frontier) == _key(uninterrupted.frontier)
    assert _metric_counts(resumed) == _metric_counts(uninterrupted)


def test_max_supersteps_zero_commits_only_the_base(
    spark, corpus_spark, tmp_path, uninterrupted
):
    """run(max_supersteps=0) bootstraps and stops: step 0 is the only
    commit and no superstep runs. A later run() resumes from it and ends
    equal to an uninterrupted crawl."""
    import os

    ckpt = str(tmp_path / "zero")
    zero = _engine(spark, corpus_spark, ckpt).run(max_supersteps=0)
    assert zero.supersteps_run == 0
    assert sorted(os.listdir(ckpt)) == ["manifest_0.json", "step=0"]
    assert not SnapshotStore(ckpt).read_manifest(0)["meta"]["done"]

    resumed = _engine(spark, corpus_spark, ckpt).run()
    assert resumed.resumed_from == 0
    assert resumed.supersteps_run == uninterrupted.supersteps_run
    assert _key(resumed.frontier) == _key(uninterrupted.frontier)
    assert _metric_counts(resumed) == _metric_counts(uninterrupted)


def test_empty_seed_list(spark, corpus_spark, tmp_path):
    """No seeds: the bootstrap commits an empty base already marked done,
    the result equals the oracle's crawl of nothing, and a second run()
    changes nothing."""
    import os

    from scrapy_playwright_scrapegraphai_spark.oracle.crawler import crawl
    from scrapy_playwright_scrapegraphai_spark.sources.synth import SEEDS_DDL

    pages, _, robots = corpus_spark
    seeds = spark.createDataFrame([], SEEDS_DDL)
    ckpt = str(tmp_path / "empty")

    def run():
        return CrawlEngine(
            spark, pages, seeds, robots, ckpt, CrawlConfig(superstep_seconds=SS)
        ).run()

    oracle = crawl({}, [], [])
    first = run()
    assert first.supersteps_run == oracle.supersteps == 0
    assert first.frontier.count() == len(oracle.frontier) == 0
    assert _metric_counts(first) == oracle.metrics == []
    assert first.lineage.count() == 0
    assert sorted(os.listdir(ckpt)) == ["manifest_0.json", "step=0"]
    manifest = os.path.join(ckpt, "manifest_0.json")
    with open(manifest) as fh:
        committed = fh.read()
    assert SnapshotStore(ckpt).read_manifest(0)["meta"]["done"] is True

    again = run()
    assert again.supersteps_run == 0 and again.resumed_from == 0
    assert again.frontier.count() == 0
    assert sorted(os.listdir(ckpt)) == ["manifest_0.json", "step=0"]
    with open(manifest) as fh:
        assert fh.read() == committed


def test_resume_ignores_partial_step_without_manifest(spark, corpus_spark, tmp_path):
    """A step directory without its manifest (kill mid-write) must be
    invisible: resume restarts from the last committed manifest."""
    ckpt = str(tmp_path / "ck")
    _engine(spark, corpus_spark, ckpt).run(max_supersteps=2)
    store = SnapshotStore(ckpt)
    assert store.latest_step() == 2
    # simulate a kill mid-step-3 write: directory exists, manifest absent
    import os

    os.makedirs(os.path.join(ckpt, "step=3", "frontier"), exist_ok=True)
    with open(os.path.join(ckpt, "step=3", "frontier", "junk.parquet"), "w") as fh:
        fh.write("partial garbage")
    assert store.latest_step() == 2  # manifest-last protocol hides step 3

    resumed = _engine(spark, corpus_spark, ckpt).run()
    assert resumed.resumed_from == 2
    # completes without error and reaches the done mark
    assert store.read_manifest(store.latest_step())["meta"]["done"] is True


def test_completed_run_resume_is_noop(spark, corpus_spark, tmp_path):
    ckpt = str(tmp_path / "ck2")
    full = _engine(spark, corpus_spark, ckpt).run()
    again = _engine(spark, corpus_spark, ckpt).run()
    assert again.supersteps_run == 0
    assert _key(again.frontier) == _key(full.frontier)


def test_all_fetches_fail_superstep_empty_batch(spark, corpus_spark, tmp_path):
    """Regression: a superstep where every admitted fetch fails produces an
    empty new-URL batch; assign_global_seq must handle empty offsets."""
    pages, _, robots = corpus_spark
    ghost = spark.createDataFrame(
        [(0, "Ghost", "https://nowhere.example.test/x", 2, [".pdf"], "/page/", 1)],
        "url_seed_root_id int, category string, url string, url_type int, "
        "target_patterns array<string>, seed_pattern string, max_depth int",
    )
    r = CrawlEngine(
        spark, pages, ghost, robots, str(tmp_path / "g"),
        CrawlConfig(superstep_seconds=SS),
    ).run()
    row = r.frontier.collect()[0]
    # RETRY_TIMES=1 semantics: two attempts then failed
    assert row["url_state"] == "failed" and row["attempt"] == 2


def test_store_reset_truncates_all_state(spark, corpus_spark, tmp_path):
    """S7 (clean_db.py:22-51): reset reports before-counts, wipes every
    step + manifest, and a subsequent run() bootstraps from scratch."""
    ckpt = str(tmp_path / "reset")
    eng = _engine(spark, corpus_spark, ckpt)
    first = eng.run()
    n_rows = first.frontier.count()
    store = SnapshotStore(ckpt)
    counts = store.reset(spark)
    assert counts["steps_before"] == first.supersteps_run + 1  # + step 0
    assert counts["frontier_rows_before"] == n_rows
    assert store.latest_step() is None
    rerun = _engine(spark, corpus_spark, ckpt).run()
    assert rerun.supersteps_run == first.supersteps_run
    assert _key(rerun.frontier) == _key(first.frontier)
    store.reset(spark)  # wipe the rerun's state
    # idempotent on empty state
    assert store.reset(spark) == {
        "steps_before": 0, "frontier_rows_before": 0
    }


def test_bloom_persisted_and_loaded_on_resume(spark, corpus_spark, tmp_path):
    """Checkpoints written before the seen check became the exact
    anti-join alone also hold a persisted ``bloom_shards.bin``. Resume
    from such a checkpoint (here with a corrupt file) must neither read
    nor rewrite it, and must end equal to an uninterrupted run."""
    import os

    full = _engine(spark, corpus_spark, str(tmp_path / "bloomfull")).run()

    ckpt = str(tmp_path / "bloomres")
    _engine(spark, corpus_spark, ckpt).run(max_supersteps=2)  # incomplete run
    stale = os.path.join(ckpt, "bloom_shards.bin")
    with open(stale, "wb") as fh:
        fh.write(b"garbage")
    resumed = _engine(spark, corpus_spark, ckpt).run()
    assert resumed.resumed_from == 2
    assert _key(resumed.frontier) == _key(full.frontier)
    with open(stale, "rb") as fh:
        assert fh.read() == b"garbage"


def test_bloom_gap_merge_on_mid_run_resume(spark, corpus_spark, tmp_path):
    """Kill after superstep 1, resume to completion: the final state
    equals an uninterrupted run. (The name is kept from when resume also
    topped up persisted bloom shards with the later steps' deltas; the
    seen check is now the exact anti-join and has no such state.)"""
    full = _engine(spark, corpus_spark, str(tmp_path / "full")).run()

    ckpt = str(tmp_path / "killed")
    _engine(spark, corpus_spark, ckpt).run(max_supersteps=1)  # "killed"
    resumed = _engine(spark, corpus_spark, ckpt).run()
    assert resumed.resumed_from == 1
    assert _key(resumed.frontier) == _key(full.frontier)


def test_finished_checkpoint_holds_only_manifests_and_steps(spark, corpus_spark, tmp_path):
    """A finished checkpoint dir holds the snapshot commits alone: one
    manifest and one step directory per committed step, nothing else."""
    import os

    ckpt = str(tmp_path / "only")
    done = _engine(spark, corpus_spark, ckpt).run()
    n = done.supersteps_run + 1  # + step 0
    assert sorted(os.listdir(ckpt)) == sorted(
        [f"manifest_{k}.json" for k in range(n)]
        + [f"step={k}" for k in range(n)]
    )


def test_fresh_start_wipes_stale_higher_steps(spark, corpus_spark, tmp_path):
    """run(resume=False) into a populated checkpoint truncates ALL prior
    state; a later resume must see only the new run (never fold deltas
    from two different runs)."""
    ckpt = str(tmp_path / "stale")
    old = _engine(spark, corpus_spark, ckpt).run()  # e.g. 4-5 supersteps
    assert old.supersteps_run >= 3
    store = SnapshotStore(ckpt)
    old_latest = store.latest_step()

    # fresh run, DIFFERENT workload (single root seed), fewer supersteps
    pages, seeds, robots = corpus_spark
    one_seed = seeds.filter(F.col("url_seed_root_id") == 1)
    eng = CrawlEngine(
        spark, pages, one_seed, robots, ckpt,
        CrawlConfig(superstep_seconds=SS),
    )
    fresh = eng.run(resume=False)
    assert store.latest_step() < old_latest  # stale manifests are gone
    resumed = CrawlEngine(
        spark, pages, one_seed, robots, ckpt,
        CrawlConfig(superstep_seconds=SS),
    ).run()
    assert resumed.supersteps_run == 0  # fresh run had completed
    assert _key(resumed.frontier) == _key(fresh.frontier)


def test_manifest_kill_between_table_writes_and_rename(
    spark, corpus_spark, tmp_path, uninterrupted
):
    """A kill between step 2's table writes and its manifest rename:
    the error reaches the caller, step 2's directory holds tables but no
    manifest, and a fresh resuming engine rewrites that directory and
    ends equal to an uninterrupted run."""
    import os

    ckpt = str(tmp_path / "norename")
    eng = _engine(spark, corpus_spark, ckpt)
    err = RuntimeError("injected kill before the manifest rename")
    commit_manifest = eng.store._commit_manifest

    def failing_commit_manifest(step, manifest):
        # write_step's commit carries no phase record yet; the
        # settle-time update_meta of an earlier step does
        if step == 2 and "phase_s" not in manifest["meta"]:
            raise err
        return commit_manifest(step, manifest)

    eng.store._commit_manifest = failing_commit_manifest
    with pytest.raises(RuntimeError) as raised:
        eng.run()
    assert raised.value is err
    store = SnapshotStore(ckpt)
    assert store.latest_step() == 1
    assert os.listdir(os.path.join(ckpt, "step=2"))
    assert not os.path.exists(os.path.join(ckpt, "manifest_2.json"))

    resumed = _engine(spark, corpus_spark, ckpt).run()
    assert resumed.resumed_from == 1
    assert store.read_manifest(2)["meta"]["phase_s"]
    assert _key(resumed.frontier) == _key(uninterrupted.frontier)
    assert _metric_counts(resumed) == _metric_counts(uninterrupted)


MAIN_PHASES = {
    "politeness", "fetch_join", "plan_build", "parse_barrier",
    "expand_dedup_seq", "metrics_lineage", "state_write", "advance",
}
TASK_PHASES = {"politeness_fill", "advance_job", "write_job"}


def test_manifests_record_phases_and_the_size_path(spark, corpus_spark, tmp_path):
    """A crawl_wide-shaped crawl: a lookup threshold of the seed count
    puts the seed step on the point-lookup path and the next wave on the
    streaming scan. Every manifest k >= 1 commits the step's phase
    seconds and its size decisions, ``CrawlResult.steps`` reads them
    back, and a kill after step 1 plus a resume records the same
    decisions and ends in the same frontier."""
    pages, seeds, robots = corpus_spark
    n_seeds = seeds.count()
    cfg = CrawlConfig(superstep_seconds=SS, lookup_pushdown_threshold=n_seeds)

    def engine(ckpt):
        return CrawlEngine(spark, pages, seeds, robots, ckpt, cfg)

    full_dir = str(tmp_path / "full")
    full = engine(full_dir).run()
    assert full.supersteps_run >= 3
    store = SnapshotStore(full_dir)
    assert [s["superstep"] for s in full.steps] == list(
        range(1, full.supersteps_run + 1))
    for s in full.steps:
        meta = store.read_manifest(s["superstep"])["meta"]
        assert meta["phase_s"] == s["phase_s"]
        assert meta["decisions"] == s["decisions"]
        assert MAIN_PHASES | TASK_PHASES <= set(s["phase_s"])
        assert all(v >= 0 for v in s["phase_s"].values())
    assert "term_check" in full.steps[-1]["phase_s"]

    seed, wave = full.steps[0]["decisions"], full.steps[1]["decisions"]
    assert seed["small"] and seed["salt_shards"] == 1
    assert seed["in_list"] == n_seeds and seed["in_pushed"] is True
    assert seed["broadcast_admitted"] is True
    assert wave["small"] is False and wave["salt_shards"] == cfg.salt_shards
    assert wave["in_list"] is None and wave["in_pushed"] is None

    part_dir = str(tmp_path / "part")
    engine(part_dir).run(max_supersteps=1)
    resumed = engine(part_dir).run()
    assert resumed.resumed_from == 1
    assert [s["decisions"] for s in resumed.steps] == [
        s["decisions"] for s in full.steps]
    assert _key(resumed.frontier) == _key(full.frontier)


def test_phase_clock_labels_and_restores_job_description(spark):
    """``with clock(phase)`` labels the thread's Spark jobs
    ``"<phase> step <k>"`` and restores the previous description on
    exit, also when the block raises; the block's seconds are kept."""
    from scrapy_playwright_scrapegraphai_spark.plans.driver import _PhaseClock

    sc = spark.sparkContext
    key = "spark.job.description"
    sc.setLocalProperty(key, "outer")
    clock = _PhaseClock(spark, 7)
    try:
        with clock("x"):
            assert sc.getLocalProperty(key) == "x step 7"
        assert sc.getLocalProperty(key) == "outer"
        with pytest.raises(ValueError):
            with clock("y"):
                assert sc.getLocalProperty(key) == "y step 7"
                raise ValueError
        assert sc.getLocalProperty(key) == "outer"
    finally:
        sc.setLocalProperty(key, None)
    assert set(clock.phase_s()) == {"x", "y"}
