"""Bundle operator: row-union of several small entities into one
driver-checkable result.

The external correctness harness compares only the first 50 ``queries()``
keys. Rather than letting any declared entity fall outside that window
(or choosing which — see round-4 ADVICE), redundant small entities
(extra instances of operators that already have their own in-window
slots) are verified through ONE bundle query that unions their rows at
full fidelity: every member row contributes ``(entity, hk, hd, ldts,
rsrc)``, where ``hk``/``hd`` are the member's hash key and hashdiff (or
a portable business-key rendering for hubs). Because the hashes are
computed FROM the member's payload and the driver value-hashes every
returned cell, any regression in a bundled member's build — dropped or
duplicated rows, hash/payload/ldts/rsrc drift — changes the bundle
result and fails the external gate, with no slot left unverified.

There is no reference analogue (the reference's test harness has no
query-count cap); this is harness plumbing, not a vault operator.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame

from ..context import GlobalConfig, DEFAULT, Registry
from ..plans.sqlbuild import SqlBuilder


@dataclass(frozen=True)
class BundleMember:
    """One bundled entity: ``hk`` and ``hd`` are SQL expressions valid in
    BOTH Spark SQL and DuckDB over the member's output columns (plain
    column names or portable CASTs). ``ldts``/``rsrc`` default to the
    global alias columns; entities without them (a PIT carries ``sdts``
    and no rsrc) override with any portable expression — the output
    column names stay the global aliases either way."""

    entity: str
    hk: str
    hd: str
    ldts: str | None = None
    rsrc: str | None = None


@dataclass(frozen=True)
class BundleConfig:
    name: str
    members: tuple  # BundleMember


def _member_exprs(m: BundleMember, g: GlobalConfig) -> list:
    return [f"'{m.entity}' AS entity",
            f"{m.hk} AS hk",
            f"{m.hd} AS hd",
            f"{m.ldts or g.ldts_alias} AS {g.ldts_alias}",
            f"{m.rsrc or g.rsrc_alias} AS {g.rsrc_alias}"]


# Registered-source bytes below which split_small_union fires.
UNION_SPLIT_MAX_SOURCE_BYTES = 1024 * 1024 * 1024


def _pooled_loads(spark, reg: Registry, entities):
    """Construct member plans from a small thread pool (guide §2.6:
    overlap independent driver-side work). Member CONSTRUCTION is the
    serial half of a bundle's cost — store-backed members (SCD1/OHLC
    streaming replays, merge loops) execute their whole certified store
    loop while building, and every member pays driver-side probes and
    plan analysis; none of that work depends on any other member, so a
    pool overlaps it. Registry.load's per-name build locks keep each
    shared dependency built exactly once. pool.map preserves member
    order, so the returned union plan is byte-identical to the serial
    build's."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(
            max_workers=min(8, len(entities))) as pool:
        return list(pool.map(lambda e: reg.load(spark, e), entities))


def split_small_union(reg: Registry, parts: list) -> DataFrame:
    """Union ``parts`` by name, with a per-branch AQE rebalance when the
    vault is small (shared by the bundle and the incremental replay).

    Executed as one stage, a wide union's task binary carries every
    branch's full lineage and every task deserializes it — measured 565
    tasks x ~78 ms deser (44 core-s) for the replay union at sf0.1. A
    per-branch rebalance bounds each stage's closure to one branch. It
    also reshuffles each branch's full output, so it only pays when the
    registered sources are small: gated on ``reg.source_bytes`` (0 =
    unknown scale, assume large) against
    ``UNION_SPLIT_MAX_SOURCE_BYTES``. At production scale the gate
    never fires and the zero-shuffle union stands."""
    if 0 < reg.source_bytes < UNION_SPLIT_MAX_SOURCE_BYTES:
        parts = [p.hint("rebalance") for p in parts]
    return reduce(lambda a, b: a.unionByName(b), parts)


def build_bundle(spark, reg: Registry, cfg: BundleConfig,
                 g: GlobalConfig = DEFAULT) -> DataFrame:
    loaded = _pooled_loads(spark, reg, [m.entity for m in cfg.members])
    return split_small_union(
        reg, [df.selectExpr(*_member_exprs(m, g))
              for m, df in zip(cfg.members, loaded)])


def bundle_oracle(b: SqlBuilder, reg: Registry, cfg: BundleConfig,
                  g: GlobalConfig = DEFAULT) -> str:
    """Members must already be CTEs in ``b`` (dependency-resolved by the
    fixture walker)."""
    selects = [
        f"SELECT {', '.join(_member_exprs(m, g))} "
        f"FROM {reg.duckdb_relation(m.entity)}"
        for m in cfg.members]
    return b.cte(cfg.name, "\nUNION ALL\n".join(selects))


@dataclass(frozen=True)
class UnionBundleConfig:
    """Row-union of several SAME-SCHEMA entities (e.g. the ANN variants,
    which all emit (query_id, neighbor_id, rank, cosine)): each member's
    full result rides into one driver-checked query under an entity tag,
    so N operator variants cost one exposed slot with no loss of
    external verification."""

    name: str
    members: tuple   # entity names
    columns: tuple   # shared output columns, unioned verbatim


def build_union_bundle(spark, reg: Registry, cfg: UnionBundleConfig,
                       g: GlobalConfig = DEFAULT) -> DataFrame:
    loaded = _pooled_loads(spark, reg, cfg.members)
    parts = [df.selectExpr(f"'{m}' AS entity", *cfg.columns)
             for m, df in zip(cfg.members, loaded)]
    return reduce(lambda a, b: a.unionByName(b), parts)


def union_bundle_oracle(b: SqlBuilder, reg: Registry,
                        cfg: UnionBundleConfig,
                        g: GlobalConfig = DEFAULT) -> str:
    selects = [
        f"SELECT '{m}' AS entity, {', '.join(cfg.columns)} "
        f"FROM {reg.duckdb_relation(m)}"
        for m in cfg.members]
    return b.cte(cfg.name, "\nUNION ALL\n".join(selects))
