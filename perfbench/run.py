"""Crawl-engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a traced
run. The full record (every op, the oracle facts, the host-state witness,
spans) is written to ``.perfbench_work/artifacts/`` after every completed
op. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_wide", "crawl_polite")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", default=os.path.join(ROOT, ".perfbench_work"),
                   help="work and artifact directory")
    p.add_argument("--tiny", action="store_true",
                   help="tiny corpus and query tables (the benchmark's own tests)")
    p.add_argument("--perturb", choices=("frontier", "query"),
                   help="corrupt one output before its check (tests only)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import scrapy_playwright_scrapegraphai_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import workload

    return workload.run(args, T_START)


if __name__ == "__main__":
    sys.exit(main())
