"""Superstep snapshot store — parquet + atomic manifest.

Iceberg-snapshot stand-in (the sandbox ships no Iceberg runtime jars; the
semantics are identical and the switch is this module only): every
superstep commits its state tables under ``<root>/step=<k>/<table>/`` and
then writes ``<root>/manifest_<k>.json`` via tmp-file + ``os.replace``
(atomic on POSIX) — a step is visible iff its manifest exists, so a kill
mid-write leaves the previous step as the resume point. With Iceberg this
whole class collapses to ``writeTo(...).overwritePartitions()`` +
snapshot IDs; MERGE-style state updates (queries.sql:1-29 upserts) become
``MERGE INTO`` instead of the join-and-overwrite in driver.py.

Reference analogue: PostgreSQL transactional commits per item batch
(pipelines.py:26-31) + the schema_version table (schema.sql:109-115).
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Any

from pyspark.sql import DataFrame, SparkSession

# Manifest format version. 2 = delta snapshots (step-0 base frontier +
# per-step updates/new_rows/lineage/page_text tables). Bumped whenever the
# on-disk layout changes so resume fails with a clear message instead of a
# KeyError deep in the rebuild fold.
SNAPSHOT_FORMAT = 2

# Older formats this engine can still RESUME from. Format 1 manifests
# (written before the "format" key existed — read_manifest defaults the
# missing key to 1) use the identical step/table layout; only the manifest
# gained a key, so invalidating a resumable crawl over it would force a
# pointless recrawl.
COMPATIBLE_SNAPSHOT_FORMATS = {1, SNAPSHOT_FORMAT}


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths ---------------------------------------------------------------

    def _step_dir(self, step: int) -> str:
        return os.path.join(self.root, f"step={step}")

    def _manifest_path(self, step: int) -> str:
        return os.path.join(self.root, f"manifest_{step}.json")

    # -- commit protocol -------------------------------------------------------

    def write_step(self, step: int, tables: dict[str, DataFrame],
                   meta: dict[str, Any] | Any) -> None:
        """Write all state tables for ``step``, then the manifest (last).

        Tables are written CONCURRENTLY (Spark schedules jobs from
        multiple driver threads); the commit point is still the single
        manifest rename after every write has finished, so atomicity is
        unchanged — a kill mid-write leaves no manifest.

        ``meta`` may be a callable evaluated AFTER the table writes and
        before the manifest rename — for meta fields (row counts via
        Observations) that only become known once the writes have
        executed the plans.
        """
        step_dir = self._step_dir(step)
        if os.path.exists(step_dir):  # stale partial write from a killed run
            shutil.rmtree(step_dir)
        written = {}
        from concurrent.futures import ThreadPoolExecutor

        def _write(item):
            name, df = item
            path = os.path.join(step_dir, name)
            df.write.mode("overwrite").parquet(path)
            return name, path

        with ThreadPoolExecutor(max_workers=max(1, len(tables))) as pool:
            for name, path in pool.map(_write, tables.items()):
                written[name] = path
        if callable(meta):
            meta = meta()
        self._commit_manifest(step, {
            "format": SNAPSHOT_FORMAT, "step": step, "tables": written,
            "meta": meta,
        })

    def update_meta(self, step: int, **fields: Any) -> dict[str, Any]:
        """Merge ``fields`` into a step's manifest meta without touching
        table files (the state DataFrames still lazily read this step's
        parquet, so files must not be rewritten); returns the manifest."""
        manifest = self.read_manifest(step)
        manifest["meta"].update(fields)
        self._commit_manifest(step, manifest)
        return manifest

    def _commit_manifest(self, step: int, manifest: dict[str, Any]) -> None:
        """Publish ``manifest`` as step's manifest: write a tmp file, then
        ``os.replace`` it into place — atomic on POSIX, so readers see the
        old manifest or the new one, never a partial file. Compact
        separators: each step's manifest carries its phase seconds and
        decisions, a few hundred bytes that whitespace would inflate."""
        tmp = self._manifest_path(step) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, separators=(",", ":"))
        os.replace(tmp, self._manifest_path(step))

    def reset(self, spark: SparkSession | None = None) -> dict[str, int]:
        """S7 — truncate all crawl state (clean_db.py:22-51 analogue).

        The reference's reset tool DELETEs frontier_url + config_url_log
        and reports before/after row counts; here the unit of state is
        the snapshot directory. Returns the before counts (frontier rows
        of the latest resumable step when a SparkSession is supplied,
        else just the step count), then removes every step directory and
        manifest — after which ``latest_step()`` is None and a new run()
        bootstraps from scratch.
        """
        latest = self.latest_step()
        counts = {"steps_before": 0 if latest is None else latest + 1,
                  "frontier_rows_before": 0}
        if latest is not None and spark is not None:
            base = self.read_table(spark, 0, "frontier").count()
            new = 0
            for k in range(1, latest + 1):
                if self.has_table(k, "new_rows"):
                    new += self.read_table(spark, k, "new_rows").count()
            counts["frontier_rows_before"] = base + new
        for name in os.listdir(self.root):
            path = os.path.join(self.root, name)
            if name.startswith("step=") and os.path.isdir(path):
                shutil.rmtree(path)
            elif name.startswith("manifest_") and name.endswith(".json"):
                os.remove(path)
        return counts

    def latest_step(self) -> int | None:
        steps = []
        for name in os.listdir(self.root):
            if name.startswith("manifest_") and name.endswith(".json"):
                steps.append(int(name[len("manifest_"):-len(".json")]))
        return max(steps) if steps else None

    def read_manifest(self, step: int) -> dict[str, Any]:
        with open(self._manifest_path(step)) as fh:
            return json.load(fh)

    def read_table(self, spark: SparkSession, step: int, name: str) -> DataFrame:
        return spark.read.parquet(self.read_manifest(step)["tables"][name])

    def has_table(self, step: int, name: str) -> bool:
        return name in self.read_manifest(step)["tables"]
