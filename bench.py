"""Benchmark: run the declared Data Vault queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and print ONE JSON line.

Each query executes fully via the noop sink (no collect overhead, no
driver materialization) — what a cluster run would do."""

from __future__ import annotations

import json
import os
import sys
import time


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from datavault4dbt_spark import fixtures

    spark = build_session()
    warmup(spark, sf_dir)

    # Per-query time = MIN over `trials` runs. The container shares its
    # host with other tenants and single-shot timings swing 3-10x under
    # neighbor bursts (identical code measured 62s..380s totals); the
    # min approximates the uncontended plan cost, which is what the
    # benchmark is meant to measure. Each trial still executes the full
    # plan (caches cleared between runs).
    trials = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3")))
    # Bound the retry cost so a contended first pass cannot double an
    # already-slow run: re-trials only apply to queries whose first run
    # exceeded MIN_RETRY_SEC (sub-second queries sit on the fixed job
    # floor; noise there is small in absolute terms), and stop entirely
    # once the retry passes have spent RETRY_BUDGET_SEC.
    MIN_RETRY_SEC = float(os.environ.get("SPARK_GRAFT_BENCH_RETRY_MIN", "0.75"))
    RETRY_BUDGET_SEC = float(
        os.environ.get("SPARK_GRAFT_BENCH_RETRY_BUDGET", "600"))
    # One extra settle trial when the first `trials` runs DISAGREE by
    # more than 1.5x on a multi-second query: that spread is the
    # neighbor-burst signature (same plan, same data), and a single
    # extra sample usually lands near the true cost. Still budget-
    # bounded. (Round-8 postmortem: min-of-2 with a 1.0 spread did not
    # filter a sustained burst that inflated the driver run +35% on code
    # that re-measured at-or-below the prior round; min-of-3 with a
    # tighter settle trigger is the fix.)
    SETTLE_SPREAD = 0.5   # (max-min)/min above this -> one extra trial
    names = fixtures.all_entity_names()
    timings = {}
    load_start = round(os.getloadavg()[0], 2)  # host-noise witness
    t0 = time.time()
    retry_spent = 0.0
    for name in names:
        best = None
        worst = None
        ran = 0
        while True:
            if ran >= trials:
                if not (best > 2.0 and worst is not None
                        and (worst - best) / best > SETTLE_SPREAD
                        and ran < trials + 1
                        and retry_spent <= RETRY_BUDGET_SEC):
                    break
            elif ran and (best <= MIN_RETRY_SEC
                          or retry_spent > RETRY_BUDGET_SEC):
                break
            q0 = time.time()
            df = fixtures.entity_query(name)(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            el = time.time() - q0
            spark.catalog.clearCache()  # drop per-query stage caches
            if ran:
                retry_spent += el
            best = el if best is None else min(best, el)
            worst = el if worst is None else max(worst, el)
            ran += 1
        timings[name] = round(best, 3)
    wall = round(time.time() - t0, 3)
    total = round(sum(timings.values()), 3)

    # Per-member bundle attribution (r9 advice #7): time each bundle
    # member standalone (single trial — attribution, not headline), so
    # a bundle-line regression localizes to a member instead of one
    # opaque number. Budget-bounded; anything skipped is COUNTED in the
    # output (no silent caps).
    member_budget = float(os.environ.get(
        "SPARK_GRAFT_BENCH_MEMBER_BUDGET", "420"))
    bundle_members = {}
    members_skipped = 0
    m0 = time.time()
    for bname, bcfg in fixtures.BUNDLES.items():
        per = {}
        for m in bcfg.members:
            if time.time() - m0 > member_budget:
                members_skipped += 1
                continue
            q0 = time.time()
            fixtures.entity_query(m.entity)(spark, sf_dir) \
                .write.format("noop").mode("overwrite").save()
            per[m.entity] = round(time.time() - q0, 3)
            spark.catalog.clearCache()
        bundle_members[bname] = per

    # Composed-pipeline headline: ONE end-to-end run_project load of the
    # example vault (stage -> hub/link/sat -> snapshot -> PIT DAG) in
    # this same session. The per-query table above pays a fixed job
    # floor per entity (every query is its own cold plan); a real
    # scheduled load amortizes that across the DAG — this number shows
    # the amortized cost. count_rows=False matches a production run
    # (no per-entity count action).
    import shutil
    import tempfile
    from datavault4dbt_spark.context import testdata_registry
    from datavault4dbt_spark.plans.incremental import ParquetStore
    from datavault4dbt_spark.plans.project import run_project

    proj_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "examples", "project")
    project_e2e = None
    if os.path.isdir(proj_dir):
        wh = tempfile.mkdtemp(prefix="dv4dbt_bench_wh_")
        try:
            p0 = time.time()
            run_project(spark, proj_dir, ParquetStore(spark, wh),
                        testdata_registry(sf_dir), count_rows=False)
            project_e2e = round(time.time() - p0, 3)
        finally:
            shutil.rmtree(wh, ignore_errors=True)
        spark.catalog.clearCache()

    # ---- Optional scale probe (r12 verdict #8) ------------------------
    # SPARK_GRAFT_BENCH_SCALE_PROBE=<mult> ADDITIONALLY times a fixed set
    # of heavy, data-parallel declared queries over a row-multiplied copy
    # of the sources, so an 8-vs-32-core comparison of THESE numbers
    # measures data parallelism instead of the per-job floors that
    # dominate sf0.1 (where 8 cores beat 32 overall in BENCH_r12).
    # Integer key/id columns are shifted per copy (consistently across
    # tables, dtype preserved) so join/window/group cardinalities scale
    # like a larger SF rather than hot-key-inflating. Additions only:
    # off unless the env var is set, the timing loop below is the
    # headline loop (noop sink, min over trials, clearCache between),
    # the probe rows are written to a fresh temp dir (computed from the
    # parquet inputs in THIS run, removed afterwards), and the headline
    # JSON line is unchanged and still printed last.
    probe_env = os.environ.get("SPARK_GRAFT_BENCH_SCALE_PROBE")
    scale_probe = None
    if probe_env:
        import shutil as _sh
        import tempfile as _tf

        from pyspark.sql import functions as SF

        mult = max(2, int(probe_env))
        probe_trials = max(1, int(os.environ.get(
            "SPARK_GRAFT_BENCH_SCALE_PROBE_TRIALS", "2")))
        probe_queries = ("stage_events", "link_part_supplier",
                         "ma_sat_customer_orders", "pit_customer",
                         "text_tfidf", "pii_redact")
        probe_dir = _tf.mkdtemp(prefix="dv4dbt_scaleprobe_")
        try:
            for t in ("region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents",
                      "embeddings"):
                src = spark.read.parquet(f"{sf_dir}/{t}.parquet")
                out = src.crossJoin(
                    spark.range(mult).select(SF.col("id").alias("__copy__")))
                shift = []
                for f_ in src.schema.fields:
                    st = f_.dataType.simpleString()
                    if st in ("bigint", "int") and (
                            f_.name.endswith("key")
                            or f_.name.endswith("id")):
                        # offset fits INT for mult <= ~200
                        shift.append(
                            (SF.col(f_.name)
                             + SF.col("__copy__") * SF.lit(10_000_000))
                            .cast(st).alias(f_.name))
                    else:
                        shift.append(SF.col(f_.name))
                (out.select(*shift)
                    .write.mode("overwrite")
                    .parquet(f"{probe_dir}/{t}.parquet"))
            spark.catalog.clearCache()
            probe_timings = {}
            for name in probe_queries:
                best = None
                for _ in range(probe_trials):
                    q0 = time.time()
                    fixtures.entity_query(name)(spark, probe_dir) \
                        .write.format("noop").mode("overwrite").save()
                    el = time.time() - q0
                    spark.catalog.clearCache()
                    best = el if best is None else min(best, el)
                probe_timings[name] = round(best, 3)
            scale_probe = {"metric": "dv_scale_probe", "unit": "sec",
                           "mult": mult, "trials": probe_trials,
                           "base_sf_dir": sf_dir,
                           "value": round(sum(probe_timings.values()), 3),
                           "queries": probe_timings}
        finally:
            _sh.rmtree(probe_dir, ignore_errors=True)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # `value` = sum of per-query minima (the noise-robust plan cost the
    # per-query table reports) — the metric NAME says so, so no consumer
    # can misread it as wall time; `wall_sec` = actual elapsed time for
    # all trials including retries.
    # Two stdout lines, members FIRST: the driver captures only the
    # last ~2000 bytes of stdout and parses the final JSON line, so the
    # per-member map (which grew past that in r10 and truncated the
    # headline's leading "value" field away -> BENCH_r10 parsed: null)
    # goes on its own earlier line, and the compact headline is LAST.
    if scale_probe is not None:
        print(json.dumps(scale_probe))
    print(json.dumps({"bundle_members": bundle_members,
                      "bundle_members_skipped": members_skipped}))
    # loadavg at start/end makes a neighbor-burst-loaded run
    # self-documenting (three rounds of BENCH.md postmortems adjudicated
    # host noise after the fact; r11 verdict #4 asks for it inline)
    base = {"metric": "dv_load_sum_of_query_minima", "value": total,
            "unit": "sec", "sf": sf, "trials": trials, "wall_sec": wall,
            "project_e2e_sec": project_e2e,
            "load": [load_start, round(os.getloadavg()[0], 2)]}
    # Shrink until the headline fits the driver's ~2000-byte stdout
    # tail capture: drop field groups in priority order instead of the
    # r11 single one-shot fallback, and ASSERT the survivor fits so a
    # future size regression fails here, not as parsed:null (r11 advice)
    drop_order = [("queries",), ("project_e2e_sec", "load"),
                  ("trials", "wall_sec")]
    headline = json.dumps(
        {**base, "queries": {k: round(v, 2) for k, v in timings.items()}})
    cand = dict(base, queries={k: round(v, 2) for k, v in timings.items()})
    for group in drop_order:
        if len(headline) <= 1900:
            break
        for f in group:
            cand.pop(f, None)
        headline = json.dumps(cand)
    assert len(headline) <= 1900, len(headline)
    print(headline)
    spark.stop()


def build_session():
    """The bench session on $SPARK_GRAFT_CPUS local cores: the engine's
    confs plus three size settings tuned for CPU-heavy hashing over
    small-ish inputs (finer scan splits and finer AQE coalescing keep
    all local cores busy). A cluster at 100 TB keeps Spark's defaults
    (128m/64m). Shared by the tools/ harnesses."""
    from pyspark.sql import SparkSession
    from datavault4dbt_spark.context import configure_session_builder

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    spark = configure_session_builder(
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("dv4dbt-spark-bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # keep AQE from coalescing small-but-fanning-out shuffles to 1
        # task (a 1.5 MB hub shuffle feeds a 31x snapshot cross join in
        # PIT: coalescing it serializes the whole downstream pipeline)
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                "64k"),
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warmup(spark, sf_dir: str):
    """Warm the JVM paths shared by every query so per-query numbers
    measure the plan, not first-use JIT."""
    from datavault4dbt_spark import fixtures

    # scheduler, codegen, parquet reader, shuffle, window, noop sink:
    # run the smallest real stage
    fixtures.entity_query("stage_nation")(spark, sf_dir) \
        .write.format("noop").mode("overwrite").save()
    # warm every table's parquet footer (schema inference reads the
    # footer on the driver) so no query pays a cold metadata read
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").schema
    # warm the higher-order-function eval path (cosine/ANN fold lambdas)
    spark.range(256).selectExpr(
        "aggregate(zip_with(array(cast(id AS DOUBLE)), array(2.0d), "
        "(x, y) -> x * y), cast(0.0 AS DOUBLE), (acc, v) -> acc + v) s") \
        .write.format("noop").mode("overwrite").save()
    # prefork the Python worker pool (Arrow mapInPandas path): worker
    # daemon + per-core fork costs seconds on first use and the workers
    # are reused afterwards (spark.python.worker.reuse defaults true) —
    # session infrastructure, same category as the JIT warmups above
    cpus = spark.sparkContext.defaultParallelism
    spark.range(cpus * 4).repartition(cpus) \
        .mapInPandas(lambda it: it, "id bigint") \
        .write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()


if __name__ == "__main__":
    main()
