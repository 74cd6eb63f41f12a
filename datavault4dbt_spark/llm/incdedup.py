"""Incremental corpus dedup: dedup each NEW batch of documents against
a PERSISTED MinHash signature index — the operator a 100 TB crawl
pipeline actually runs daily (the one-shot pair-finder in llm/dedup.py
is the backfill job; this is the steady-state job).

Semantics: **first occurrence wins.** A document is dropped iff some
EARLIER document (earlier batch, or lower id within its batch — batches
are contiguous id ranges, so "earlier" is exactly "lower id") shares at
least one LSH band bucket with it. Signatures of EVERY processed
document (kept or dropped) are appended to the index: a near-duplicate
of a dropped document is itself a near-duplicate of something earlier,
and dropping it keeps the incremental run equivalent to the one-shot
rule below.

Per batch the engine runs the real incremental machinery:

1. signature the new batch only (shingle -> md5 digests -> k-min ->
   banded bucket keys — `minhash_bucket_frame`, shared with the batch
   pair-finder so the two cannot drift);
2. drop ids with a same-(band, sig) match in the stored index (one
   left-semi hash join — the new batch is the small side, bucket keys
   are md5 outputs so the join is skew-free) or a lower-id match within
   the batch (the pair-finder's aliased self-join);
3. append the batch's verdict rows to the result table and its bucket
   rows to the index (insert-only, the HWM/append pattern of
   plans/incremental.py).

At 100 TB the index is the persisted state: appends are insert-only,
the per-batch cost is one batch scan plus one hash join against the
index on (band, sig), and the daily batch never rescans the corpus.
(Bucketing the index table by `sig` would co-locate that join across
runs; not done here, to keep the scratch store layout-free.)

Oracle: the one-shot rule is SQL-expressible — kept(d) iff d never
appears as the HIGHER id of a candidate pair — so the oracle is the
pair-finder's own CTE chain (minhash_lsh_oracle) plus one NOT-IN, and
the driver's hash compare certifies the batch-by-batch store loop
against the one-shot run (the replay verification pattern,
plans/replay.py). Reference anchor: the reference has no dedup
operators at all (it is a Data Vault loader); this extends the build
brief's training-data-pipeline surface.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from ..context import GlobalConfig, DEFAULT, Registry, ensure_identifier
from ..plans.incremental import (ParquetStore, rebalance_for_write,
                                 scratch_store)
from ..plans.sqlbuild import SqlBuilder
from .dedup import MinHashLshConfig, minhash_bucket_frame, minhash_lsh_oracle


@dataclass(frozen=True)
class IncrementalDedupConfig:
    name: str
    source: str = "documents"
    id_col: str = "doc_id"
    text_col: str = "text"
    shingle_n: int = 3
    num_perm: int = 16
    bands: int = 4
    n_batches: int = 3   # contiguous id-range batches, processed in order

    def __post_init__(self):
        for c in (self.id_col, self.text_col):
            ensure_identifier(c, "column", self.name)
        if self.n_batches < 1:
            raise ValueError(f"{self.name}: n_batches must be >= 1")
        if self.num_perm % self.bands:
            raise ValueError(f"{self.name}: bands must divide num_perm")

    def minhash(self) -> MinHashLshConfig:
        return MinHashLshConfig(
            f"{self.name}__mh", source=self.source, id_col=self.id_col,
            text_col=self.text_col, shingle_n=self.shingle_n,
            num_perm=self.num_perm, bands=self.bands)


# one scratch store per config name — the shared process-lifetime
# registry in plans/incremental.py (tables cleared per run)


def _store(spark, name: str) -> ParquetStore:
    return scratch_store(spark, name, prefix="dv4dbt_incdedup")


def _batch_expr(cfg: IncrementalDedupConfig, bound: int, dialect: str) -> str:
    """Batch id = floor(id * K / (max_id + 1)) via exact integer
    division (Spark `div`, DuckDB `//`) — K contiguous id ranges whose
    order agrees with id order, so 'earlier batch' == 'lower id'."""
    idiv = " div " if dialect == "spark" else " // "
    return (f"CAST(({cfg.id_col} * {cfg.n_batches}){idiv}{bound} AS INT)")


def build_incremental_dedup(spark, reg: Registry,
                            cfg: IncrementalDedupConfig,
                            g: GlobalConfig = DEFAULT) -> DataFrame:
    docs = reg.load(spark, cfg.source)
    # driver-side scalar probe, like the HWM probes (the literal is
    # baked into every batch filter so the scan prunes on it)
    max_id = docs.agg(F.max(cfg.id_col)).collect()[0][0]
    if max_id is None:
        return docs.selectExpr(cfg.id_col, "CAST(0 AS INT) AS batch_id",
                               "CAST(true AS BOOLEAN) AS is_kept")
    bound = int(max_id) + 1
    mh = cfg.minhash()
    store = _store(spark, cfg.name)
    import shutil as _sh
    for t in ("result", "index"):
        _sh.rmtree(store.path(t), ignore_errors=True)

    batch_of = F.expr(_batch_expr(cfg, bound, "spark"))
    for k in range(cfg.n_batches):
        process_dedup_batch(store, docs.filter(batch_of == k), mh,
                            cfg.id_col, batch_id=k)
    return store.read("result")


def process_dedup_batch(store: ParquetStore, batch_docs: DataFrame,
                        mh: MinHashLshConfig, id_col: str,
                        batch_id: int) -> None:
    """One batch through the persisted index — the shared core of the
    batch replay loop above and the foreachBatch streaming twin
    (streaming/incdedup.py). "Earlier" = previously processed batch, or
    lower id within this batch."""
    buckets = minhash_bucket_frame(batch_docs, mh).persist()
    # lower-id match within the batch: the pair-finder's self-join
    a, bb = buckets.alias("a"), buckets.alias("b")
    within = (a.join(bb, on=[F.col("a.band") == F.col("b.band"),
                             F.col("a.sig") == F.col("b.sig"),
                             F.col(f"a.{id_col}")
                             < F.col(f"b.{id_col}")])
              .select(F.col(f"b.{id_col}").alias(id_col)))
    if store.exists("index"):
        # any match in the index is an earlier doc by construction;
        # left-semi keeps the new batch the probe side (no row
        # explosion on multi-bucket matches)
        vs_index = (buckets.join(store.read("index"),
                                 on=["band", "sig"], how="left_semi")
                    .select(id_col))
        dropped = within.union(vs_index).distinct()
    else:
        dropped = within.distinct()
    verdict = (batch_docs.select(id_col)
               .join(dropped.withColumn("__dropped", F.lit(True)),
                     on=id_col, how="left")
               .select(id_col,
                       F.lit(batch_id).cast("int").alias("batch_id"),
                       F.col("__dropped").isNull().alias("is_kept")))
    # verdict is WRITTEN (action) before the batch's buckets land in
    # the index, so its plan can never see its own batch as "earlier".
    # Both tables are hive-partitioned on batch_id so the streaming
    # twin's at-least-once replay probes (streaming/incdedup.py) prune
    # to one partition directory instead of scanning history. Writes
    # are REBALANCE-clustered: the per-batch loop re-reads both tables
    # every later batch, so tiny-file fanout multiplies across batches.
    store.append("result", rebalance_for_write(verdict, "batch_id"),
                 partition_by=("batch_id",))
    append_batch_index(store, buckets, batch_id)
    buckets.unpersist()


def append_batch_index(store: ParquetStore, buckets: DataFrame,
                       batch_id: int) -> None:
    """Append a batch's bucket signatures under its batch_id tag —
    split out so the streaming twin can repair an index append that
    failed AFTER its verdict landed (llm/incdedup write order)."""
    store.append("index",
                 rebalance_for_write(
                     buckets.withColumn("batch_id",
                                        F.lit(batch_id).cast("int")),
                     "batch_id"),
                 partition_by=("batch_id",))


def incremental_dedup_oracle(b: SqlBuilder, reg: Registry,
                             cfg: IncrementalDedupConfig,
                             g: GlobalConfig = DEFAULT) -> str:
    src = reg.duckdb_relation(cfg.source)
    pairs = minhash_lsh_oracle(b, reg, cfg.minhash(), g)
    bound = f"(SELECT max({cfg.id_col}) + 1 FROM {src})"
    return b.cte(
        cfg.name,
        f"SELECT {cfg.id_col}, "
        f"{_batch_expr(cfg, bound, 'duckdb')} AS batch_id, "
        f"{cfg.id_col} NOT IN (SELECT id_b FROM {pairs}) AS is_kept "
        f"FROM {src}")
