"""Per-query measurement harness for the optimization rounds.

Times individual declared entities with bench.py's exact methodology
(same session confs, same warmups, noop sink, min-of-N) and optionally
captures ``explain("formatted")`` into plans/<tag>/<name>_<suffix>.txt
so plan claims in OPTIMIZATION_r*.md are reproducible artifacts.

``--all-explain DIR`` only dumps plans, without timing: one
``DIR/<name>_plan.txt`` per named entity, or per declared entity (all
of them, bundle members included) when no names are given. Point DIR
outside the checkout; ``tools/plan_diff.py`` compares two such DIRs.

Usage:
    python tools/qbench.py [--trials N] [--explain TAG:SUFFIX] name...
    python tools/qbench.py --all-explain DIR [name...]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import build_session, warmup  # noqa: E402


def main():
    args = sys.argv[1:]
    trials = 3
    explain_spec = None
    plan_dir = None
    explain_only = False
    names = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--trials":
            trials = int(args[i + 1]); i += 2
        elif a == "--explain":
            explain_spec = args[i + 1]; i += 2
        elif a == "--all-explain":
            plan_dir = args[i + 1]; explain_only = True; i += 2
        else:
            names.append(a); i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from datavault4dbt_spark import fixtures

    if explain_only and not names:
        names = fixtures.declared_entity_names()

    spark = build_session()
    warmup(spark, sf_dir)

    suffix = "plan"
    if explain_spec:
        tag, _, suffix = explain_spec.partition(":")
        suffix = suffix or "plan"
        plan_dir = os.path.join(REPO, "plans", tag)
    if plan_dir:
        os.makedirs(plan_dir, exist_ok=True)

    timings = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"qbench: {name}")
        if explain_only:
            df = fixtures.entity_query(name)(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted"))
            with open(os.path.join(plan_dir, f"{name}_{suffix}.txt"),
                      "w") as f:
                f.write(plan)
            spark.catalog.clearCache()
            print(f"explained {name}")
            continue
        best = None
        per = []
        for t in range(trials):
            q0 = time.time()
            df = fixtures.entity_query(name)(spark, sf_dir)
            if plan_dir and t == 0:
                plan = df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution
                    .ExplainMode.fromString("formatted"))
                with open(os.path.join(plan_dir, f"{name}_{suffix}.txt"),
                          "w") as f:
                    f.write(plan)
            df.write.format("noop").mode("overwrite").save()
            el = time.time() - q0
            per.append(round(el, 3))
            spark.catalog.clearCache()
            best = el if best is None else min(best, el)
        timings[name] = {"min": round(best, 3), "all": per}
        print(json.dumps({name: timings[name]}), flush=True)
    if timings:
        print(json.dumps(
            {"total_min": round(sum(v["min"] for v in timings.values()), 3),
             "sf": sf_dir, "load": [round(x, 2) for x in os.getloadavg()]}))
    spark.stop()


if __name__ == "__main__":
    main()
