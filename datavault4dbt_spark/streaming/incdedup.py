"""Streaming incremental corpus dedup: the foreachBatch twin of
``llm.incdedup`` — new documents ARRIVE as a stream and each
micro-batch is deduplicated against the persisted MinHash signature
index, then appended to it.

This is the steady-state shape of a crawl pipeline: the index is the
durable state (a plain parquet table, not Spark streaming state), so
restarts recover from checkpoint + idempotent re-probe, state never
lives in the state store, and the same index serves batch backfills
(``build_incremental_dedup``) and the live stream interchangeably.
Both paths call the SAME per-batch core (``process_dedup_batch``), so
they cannot drift — the pytest pin feeds identical batches through
both and asserts identical verdicts. ``dedup_incremental``'s driver
entry hash-certifies that shared core against the one-shot DuckDB
rule every round.

Semantics: first occurrence wins across the whole processed history —
a document is dropped iff an earlier-arriving document (previous
micro-batch, or lower id within its own micro-batch) shares an LSH
band bucket with it. Signatures of every processed document are
appended so later near-duplicates of dropped documents are still
caught (see llm/incdedup.py's equivalence argument).

Scale: per micro-batch cost is one batch scan + one left-semi hash
join against the index on (band, sig) — md5-uniform keys, no skew; the
index grows insert-only and is never rescanned in full. At-least-once
replay safety comes from per-epoch presence probes against the
hive-partitioned batch_id layout — see ``micro_batch_dedup``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from pyspark.sql import functions as F

from ..context import GlobalConfig, DEFAULT, Registry
from ..llm.dedup import MinHashLshConfig, minhash_bucket_frame
from ..llm.incdedup import (IncrementalDedupConfig, append_batch_index,
                            incremental_dedup_oracle, process_dedup_batch,
                            _batch_expr)
from ..plans.incremental import ParquetStore
from ..plans.sqlbuild import SqlBuilder
from .staging import (ARRIVALS, EPOCH_COL, read_arrivals, run_arrivals,
                      start_available_now)


@dataclass(frozen=True)
class StreamingDedupConfig:
    source_dir: str              # directory watched by readStream
    id_col: str = "doc_id"
    text_col: str = "text"
    shingle_n: int = 3
    num_perm: int = 16
    bands: int = 4

    def minhash(self) -> MinHashLshConfig:
        return MinHashLshConfig(
            "stream_dedup__mh", id_col=self.id_col,
            text_col=self.text_col, shingle_n=self.shingle_n,
            num_perm=self.num_perm, bands=self.bands)


def _has_epoch(store: ParquetStore, table: str, epoch: int) -> bool:
    """Did `epoch` already land in `table`? The tables are
    hive-partitioned on batch_id (llm/incdedup.py), so this probe
    prunes to one partition directory — O(epoch size), not O(history)."""
    if not store.exists(table):
        return False
    return bool(store.read(table)
                .filter(F.col("batch_id") == epoch)
                .limit(1).count())


def micro_batch_dedup(cfg: StreamingDedupConfig, store: ParquetStore):
    """foreachBatch callback sharing llm.incdedup's per-batch core,
    made idempotent under Spark's at-least-once epoch replay:

    - verdict AND index present for this epoch -> no-op (fully done);
    - verdict present, index missing (crash between the two appends —
      the core writes verdict first) -> repair by appending only the
      recomputed signatures; re-running the verdict probe here would
      be WRONG once the index held this epoch's own signatures (every
      doc would match itself and be flagged duplicate);
    - neither present -> normal processing.

    Same epoch => same micro-batch data is Spark's replay contract, so
    the recomputed signatures equal the lost ones."""
    mh = cfg.minhash()

    def dedup(batch_df: DataFrame, batch_id: int):
        k = int(batch_id)
        if _has_epoch(store, "result", k):
            if not _has_epoch(store, "index", k):
                append_batch_index(
                    store, minhash_bucket_frame(batch_df, mh), k)
            return
        process_dedup_batch(store, batch_df, mh, cfg.id_col, batch_id=k)
    return dedup


def start_dedup_stream(spark, cfg: StreamingDedupConfig,
                       store: ParquetStore, schema,
                       checkpoint_dir: str):
    """Wire stream -> foreachBatch(dedup) and start it. Returns the
    StreamingQuery; verdicts land in store table 'result', signatures
    in 'index'."""
    stream = read_arrivals(spark, cfg.source_dir, schema)
    return start_available_now(
        stream.writeStream.foreachBatch(micro_batch_dedup(cfg, store)),
        checkpoint_dir)


# ----------------------------------------------- driver-gated entity --
#
# The entity below runs the REAL structured-streaming path end-to-end
# under the driver's oracle gate (round-8 advice #3): the corpus is
# staged as n_batches arriving files, the file stream delivers them as
# micro-batch epochs 0..n-1 through the foreachBatch core above, and
# the persisted verdict table is returned for the hash compare against
# the ONE-SHOT first-occurrence-wins SQL (llm/incdedup.py's oracle).
# What this certifies that the pytest twin tests cannot: a green row in
# CORRECTNESS_r{N}.json produced by an actual readStream ->
# foreachBatch -> checkpointed availableNow execution.

@dataclass(frozen=True)
class StreamingDedupEntityConfig:
    """Same knobs as IncrementalDedupConfig — the oracle IS that
    config's oracle (same batch split rule, same one-shot semantics),
    so the two entities certify the shared per-batch core through both
    execution engines (batch loop / structured streaming)."""

    name: str
    source: str = "documents"
    id_col: str = "doc_id"
    text_col: str = "text"
    shingle_n: int = 3
    num_perm: int = 16
    bands: int = 4
    n_batches: int = 3

    def as_batch(self) -> IncrementalDedupConfig:
        return IncrementalDedupConfig(
            self.name, source=self.source, id_col=self.id_col,
            text_col=self.text_col, shingle_n=self.shingle_n,
            num_perm=self.num_perm, bands=self.bands,
            n_batches=self.n_batches)


def build_streaming_incremental_dedup(spark, reg: Registry,
                                      cfg: StreamingDedupEntityConfig,
                                      g: GlobalConfig = DEFAULT
                                      ) -> DataFrame:
    """Stage the corpus as n_batches id-range arrivals -> stream ->
    return the persisted verdicts."""
    docs = reg.load(spark, cfg.source)
    max_id = docs.agg(F.max(cfg.id_col)).collect()[0][0]
    if max_id is None:
        return docs.selectExpr(cfg.id_col, "CAST(true AS BOOLEAN) AS is_kept",
                               "CAST(0 AS INT) AS batch_id")
    batch_of = F.expr(_batch_expr(cfg.as_batch(), int(max_id) + 1, "spark"))

    def dedup(stream, store):
        scfg = StreamingDedupConfig(
            source_dir=store.path(ARRIVALS), id_col=cfg.id_col,
            text_col=cfg.text_col, shingle_n=cfg.shingle_n,
            num_perm=cfg.num_perm, bands=cfg.bands)
        return stream.writeStream.foreachBatch(micro_batch_dedup(scfg, store))

    store = run_arrivals(
        spark, cfg.name,
        docs.select(cfg.id_col, cfg.text_col).withColumn(EPOCH_COL, batch_of),
        cfg.n_batches, dedup)
    return store.read("result")


def streaming_incremental_dedup_oracle(b: SqlBuilder, reg: Registry,
                                       cfg: StreamingDedupEntityConfig,
                                       g: GlobalConfig = DEFAULT) -> str:
    """Epoch k receives exactly id-range batch k (one file per trigger,
    mtime-pinned arrival order, fresh checkpoint), so the streamed
    verdict table equals the batch loop's — one oracle serves both."""
    return incremental_dedup_oracle(b, reg, cfg.as_batch(), g)
