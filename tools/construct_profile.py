"""Plan-CONSTRUCTION timing for declared entities (guide §5, driver
latency): time fixtures.entity_query(name)(spark, sf_dir) alone — no
action — so the py4j/analysis cost of building each plan is isolated
from execution. Store-backed entities (replay, streaming gates, merge
loops) execute real jobs during construction and are reported but not
meaningful here.

Usage:
    python tools/construct_profile.py [--cprofile name] [name...]

With --cprofile, additionally dumps a cProfile top-40 (cumtime) for
that one entity's construction.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import build_session, warmup  # noqa: E402


def main():
    args = sys.argv[1:]
    cprof = None
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--cprofile":
            cprof = args[i + 1]; i += 2
        else:
            names.append(args[i]); i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from datavault4dbt_spark import fixtures

    if not names:
        names = fixtures.all_entity_names()

    spark = build_session()
    warmup(spark, sf_dir)

    for name in names:
        best = None
        for _ in range(3):
            t0 = time.time()
            fixtures.entity_query(name)(spark, sf_dir)
            el = time.time() - t0
            best = el if best is None else min(best, el)
            spark.catalog.clearCache()
        print(f"{name}\t{best:.3f}", flush=True)

    if cprof:
        import cProfile
        import pstats

        pr = cProfile.Profile()
        pr.enable()
        fixtures.entity_query(cprof)(spark, sf_dir)
        pr.disable()
        pstats.Stats(pr).sort_stats("cumulative").print_stats(40)
    spark.stop()


if __name__ == "__main__":
    main()
