"""Interleaved A/B of a conf setting on one entity (qbench methodology).

Usage: python tools/ab_replay.py <entity> <conf_key> [cycles] [valA] [valB]
Alternates conf=valA/valB (default true/false) inside ONE session,
reports per-variant minima.
"""
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import build_session, warmup  # noqa: E402


def main():
    entity = sys.argv[1]
    conf = sys.argv[2]
    cycles = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    vals = sys.argv[4:6] or ["true", "false"]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from datavault4dbt_spark import fixtures

    spark = build_session()
    warmup(spark, sf_dir)
    results = {v: [] for v in vals}
    for c in range(cycles):
        for val in vals:
            spark.conf.set(conf, val)
            t0 = time.time()
            fixtures.entity_query(entity)(spark, sf_dir) \
                .write.format("noop").mode("overwrite").save()
            el = round(time.time() - t0, 2)
            results[val].append(el)
            spark.catalog.clearCache()
            print(f"cycle {c} {conf}={val}: {el}s  load="
                  f"{os.getloadavg()[0]:.1f}", flush=True)
    print({k: {"min": min(v), "all": v} for k, v in results.items()})
    spark.stop()


if __name__ == "__main__":
    main()
