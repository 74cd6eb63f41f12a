"""Focused pins for stage_epoch_frames (the r12 optimization that
collapses per-gate sequential coalesce(1) staging writes into one
distributed partitioned write): the arrival layout the file stream
reads — one file per epoch named batch_<k>.parquet, strictly increasing
mtimes, epoch column stripped — including the empty-epoch fallback the
batch-id numbering contract relies on; and for run_arrivals, the one
stream runner, on its failure path."""

import glob
import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from datavault4dbt_spark.streaming.staging import (EPOCH_COL, run_arrivals,
                                                   stage_epoch_frames)


def test_one_file_per_epoch_ordered_and_stripped(spark, tmp_path):
    src = str(tmp_path / "arrivals")
    os.makedirs(src)
    df = (spark.range(100).selectExpr("id", "id * 2 AS v")
          .withColumn(EPOCH_COL, (F.col("id") % 3).cast("int")))
    stage_epoch_frames(df, 3, src)

    files = sorted(glob.glob(f"{src}/batch_*.parquet"))
    assert [os.path.basename(f) for f in files] == [
        "batch_0.parquet", "batch_1.parquet", "batch_2.parquet"]
    mtimes = [os.path.getmtime(f) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    # no staging leftovers next to the watched dir
    assert not glob.glob(f"{src}.__stage*__")

    for k, f in enumerate(files):
        got = spark.read.parquet(f)
        # epoch column stripped; payload columns intact
        assert got.columns == ["id", "v"]
        ids = sorted(r.id for r in got.collect())
        assert ids == [i for i in range(100) if i % 3 == k]


def test_empty_epoch_still_gets_schema_only_file(spark, tmp_path):
    src = str(tmp_path / "arrivals")
    os.makedirs(src)
    # epoch 1 has no rows: the file must still exist (foreachBatch
    # batch_id numbering == epoch k contract, e.g. incdedup verdicts)
    df = (spark.range(10).selectExpr("id")
          .withColumn(EPOCH_COL,
                      F.when(F.col("id") < 5, 0).otherwise(2)
                      .cast("int")))
    stage_epoch_frames(df, 3, src)
    files = sorted(glob.glob(f"{src}/batch_*.parquet"))
    assert len(files) == 3
    empty = spark.read.parquet(f"{src}/batch_1.parquet")
    assert empty.columns == ["id"] and empty.count() == 0
    assert spark.read.parquet(f"{src}/batch_0.parquet").count() == 5
    assert spark.read.parquet(f"{src}/batch_2.parquet").count() == 5


def test_run_arrivals_failed_batch_raises_stops_and_restores(spark):
    """A micro-batch that raises must surface from the runner as
    StreamingQueryException, leave no active query behind, and restore
    the session's shuffle layout after the state-partition scope."""
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    arrivals = (spark.range(6).selectExpr("id")
                .withColumn(EPOCH_COL, (F.col("id") % 2).cast("int")))

    def fail(_batch_df, _batch_id):
        raise RuntimeError("micro-batch failed")

    with pytest.raises(StreamingQueryException, match="micro-batch failed"):
        run_arrivals(spark, "run_arrivals_failure", arrivals, 2,
                     lambda stream, _store:
                     stream.writeStream.foreachBatch(fail),
                     state_partitions=3)
    assert spark.streams.active == []
    assert spark.conf.get(key) == prior
