"""Pins for the driver-latency caches in context.py (r12 advice):
the parquet-schema cache must not survive a file rewrite, the
npart-probe memo must not leak across shuffle-layout changes, and
register_parquet's scale witness must not double-count on
re-registration."""

import os

from pyspark.sql import functions as F

from datavault4dbt_spark import context
from datavault4dbt_spark.context import (
    Registry, _read_source_parquet, ensure_min_parallelism,
    _RDD_NPART_CACHE)
from datavault4dbt_spark.streaming.staging import scoped_stream_shuffle


def test_schema_cache_invalidated_by_rewrite(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(4).selectExpr("id AS a").write.parquet(p)
    assert _read_source_parquet(spark, p).columns == ["a"]
    # rewrite with a different schema: the cache must re-infer, not
    # serve the stale single-column schema (which would read NULLs)
    import shutil
    shutil.rmtree(p)
    spark.range(4).selectExpr("id AS a", "id * 2 AS b").write.parquet(p)
    df = _read_source_parquet(spark, p)
    assert sorted(df.columns) == ["a", "b"]
    assert df.agg(F.sum("b")).collect()[0][0] == 12


def test_npart_probe_keyed_on_shuffle_layout(spark, monkeypatch):
    # a shuffle-bearing plan's partition count depends on the session's
    # shuffle.partitions, which scoped_stream_shuffle mutates
    # mid-session: the memo must key on the conf so a probe cached
    # under one layout is never replayed under another (r12 advice).
    # The size gate is lowered so the tiny plan reaches the probe.
    monkeypatch.setattr(context, "MIN_PARALLELISM_BYTES", 0)
    df = (spark.range(1000)
          .groupBy((F.col("id") % 10).alias("k")).count())
    ensure_min_parallelism(df)
    outer_conf = spark.conf.get("spark.sql.shuffle.partitions")
    with scoped_stream_shuffle(spark, default=2):
        ensure_min_parallelism(df)
    per_session = _RDD_NPART_CACHE.get(spark, {})
    confs = {k[0][0] for k in per_session}
    # one entry per layout — same plan, two distinct keys
    assert outer_conf in confs and "2" in confs


def test_register_parquet_rereg_does_not_double_count(spark, tmp_path):
    p = str(tmp_path / "s.parquet")
    spark.range(64).write.parquet(p)
    reg = Registry()
    reg.register_parquet("s", p)
    once = reg.source_bytes
    assert once > 0
    reg.register_parquet("s", p)
    assert reg.source_bytes == once
