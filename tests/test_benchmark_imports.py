"""The benchmark under ``perfbench/`` imports the engine's public names
and reads ``CrawlConfig`` fields directly. A deletion that breaks one of
those imports makes every benchmark run end without its result line, so
this tier-1 test imports the benchmark's modules the way ``run.py`` does.

It runs in a subprocess: perfbench's module names (``inputs``, ``spans``,
...) are top-level and must not land on this test session's
``sys.path``. No Spark session is started.
"""

import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")

PROBE = """
import sys
sys.path[:0] = [{bench!r}, {root!r}]
import crawls, inputs, layers, workload
for shape in (crawls.WIDE, crawls.POLITE):
    for cfg in (crawls.engine_config(shape),
                crawls.engine_config(shape, retry_times=0)):
        for name in {fields!r}:
            getattr(cfg, name)
print("ok")
"""


def test_perfbench_imports_and_config_fields_resolve():
    with open(os.path.join(BENCH, "layers.py")) as fh:
        fields = sorted(set(re.findall(r"\bcfg\.(\w+)", fh.read())))
    assert "superstep_seconds" in fields  # the scan found layers' reads
    proc = subprocess.run(
        [sys.executable, "-c",
         PROBE.format(bench=BENCH, root=ROOT, fields=fields)],
        cwd=ROOT, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip() == "ok"
