"""One profiled crawl leg, for the developer loop (not part of any bench
artifact).

Generates the bench corpus if absent, then runs ``bench.py --crawl-run
CORES`` (CORES = first argument, default 8) as a child process with
``SPARK_GRAFT_PROFILE=1`` unless the caller set it. The child's
per-phase superstep breakdown prints to stderr, and its result line
(``CRAWLJSON:{...}``) to stdout; the exit code is the child's.

    python scripts/profile_seed_step.py [CORES]
"""
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

os.environ.setdefault("SPARK_GRAFT_PROFILE", "1")

import bench  # noqa: E402
from scrapy_playwright_scrapegraphai_spark.sources.bench_corpus import (  # noqa: E402
    generate_bench_corpus,
)

facts = generate_bench_corpus(
    bench.CORPUS_PATH,
    n_hosts=bench.N_HOSTS,
    pages_per_host=bench.PAGES_PER_HOST,
    links_per_page=bench.LINKS_PER_PAGE,
    words_per_page=bench.WORDS_PER_PAGE,
)
print(f"# corpus: {facts}", file=sys.stderr)

cores = int(sys.argv[1]) if len(sys.argv) > 1 else 8
proc = subprocess.run(
    [sys.executable, os.path.join(REPO, "bench.py"), "--crawl-run", str(cores)],
    env=os.environ.copy(),
)
sys.exit(proc.returncode)
