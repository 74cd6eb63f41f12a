"""Point-in-time (PIT) table operator.

Reference: macros/tables/pit.sql:14-140 /
macros/tables/databricks/pit.sql:1-120 — tracked entity x active
snapshots (FULL OUTER ON trigger / 1=1), per-satellite interval LEFT
JOIN ``sdts BETWEEN ldts AND ledts`` (inline LEAD end-dating when the
satellite lacks ``ledts``, 90-96), ghost-record COALESCE fallback
(66-68), surrogate dimension key = hash(hk, sdts) (60-62), DISTINCT +
anti-insert (108-114).

Scale notes: the snapshot spine is tiny -> broadcast; each interval
join is an equi-join on the hashkey with a range residual, which Spark
executes as a broadcast/SMJ with the BETWEEN as post-join filter on the
equi-matches — no cartesian blowup.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from ..context import GlobalConfig, DEFAULT, Registry
from ..functions.hashing import HashSpec, hash_expr_sql, sql_str, SPARK, DUCKDB
from ..plans.sqlbuild import SqlBuilder
from .sat import end_dating_sql


@dataclass(frozen=True)
class PitConfig:
    name: str
    tracked_entity: str          # hub/link registry name
    hashkey: str
    sat_names: tuple             # satellites keyed by the same hashkey
    snapshot_relation: str       # control_snap registry name
    dimension_key: str
    snapshot_trigger_column: str | None = None  # e.g. 'is_active'
    refer_to_ghost_records: bool = True
    custom_rsrc: str | None = None
    pit_type: str | None = None
    sats_have_ledts: tuple = ()  # sat names that already carry ledts


def _dim_hash_spec(cfg: PitConfig, g: GlobalConfig, te: str = "", snap: str = "") -> HashSpec:
    cols = ((("!" + cfg.pit_type,) if cfg.pit_type else ())
            + (te + cfg.hashkey, snap + g.sdts_alias))
    return HashSpec(cfg.dimension_key, cols)


def build_pit(spark, reg: Registry, cfg: PitConfig, g: GlobalConfig = DEFAULT,
              target: DataFrame | None = None) -> DataFrame:
    te = reg.load(spark, cfg.tracked_entity).select(cfg.hashkey)
    snap = reg.load(spark, cfg.snapshot_relation)
    if cfg.snapshot_trigger_column:
        snap = snap.filter(F.col(cfg.snapshot_trigger_column))
    snap = snap.select(g.sdts_alias)
    base = te.crossJoin(F.broadcast(snap))

    # string projections: one py4j round trip per frame instead of a
    # Column object per field (guide §5); the end-dating window rides
    # inside the same selectExpr (identical expression to the former
    # lead/coalesce Column chain)
    bot = f"CAST('{g.beginning_of_all_times}' AS TIMESTAMP)"
    sel = []
    if cfg.pit_type:
        sel.append(f"{sql_str(cfg.pit_type)} AS type")
    if cfg.custom_rsrc:
        sel.append(f"{sql_str(cfg.custom_rsrc)} AS {g.rsrc_alias}")
    sel += [cfg.hashkey, g.sdts_alias]

    out = base
    for sat in cfg.sat_names:
        s = reg.load(spark, sat)
        if sat in cfg.sats_have_ledts:
            s = s.selectExpr(f"{cfg.hashkey} AS __hk_{sat}",
                             f"{g.ldts_alias} AS __ldts_{sat}",
                             f"{g.ledts_alias} AS __ledts_{sat}")
        else:
            s = s.selectExpr(
                f"{cfg.hashkey} AS __hk_{sat}",
                f"{g.ldts_alias} AS __ldts_{sat}",
                f"{end_dating_sql((cfg.hashkey,), g)} AS __ledts_{sat}")
        out = out.join(
            s, (out[cfg.hashkey] == s[f"__hk_{sat}"])
            & (out[g.sdts_alias] >= s[f"__ldts_{sat}"])
            & (out[g.sdts_alias] <= s[f"__ledts_{sat}"]), "left")
        if cfg.refer_to_ghost_records:
            sel += [f"COALESCE(__hk_{sat}, {sql_str(g.unknown_key)}) "
                    f"AS hk_{sat}",
                    f"COALESCE(__ldts_{sat}, {bot}) "
                    f"AS {g.ldts_alias}_{sat}"]
        else:
            sel += [f"__hk_{sat} AS hk_{sat}",
                    f"__ldts_{sat} AS {g.ldts_alias}_{sat}"]

    # dimension_key = hash(hk, sdts) is a pure function of columns in
    # the DISTINCT set: computing it AFTER the dedup halves the string
    # bytes through the exchange and hashes each surviving row once
    result = out.selectExpr(*sel).distinct().selectExpr(
        f"{hash_expr_sql(_dim_hash_spec(cfg, g), g, SPARK, alias=False)} "
        f"AS {cfg.dimension_key}", "*")
    if target is not None:
        result = result.join(target.select(cfg.dimension_key).distinct(),
                             on=cfg.dimension_key, how="left_anti")
    return result


def pit_oracle(b: SqlBuilder, reg: Registry, cfg: PitConfig,
               g: GlobalConfig = DEFAULT) -> str:
    te_rel = reg.duckdb_relation(cfg.tracked_entity)
    snap_rel = reg.duckdb_relation(cfg.snapshot_relation)
    eot = f"CAST('{g.end_of_all_times}' AS TIMESTAMP)"
    bot = f"CAST('{g.beginning_of_all_times}' AS TIMESTAMP)"

    trig = (f"WHERE {cfg.snapshot_trigger_column}" if cfg.snapshot_trigger_column else "")
    snap = b.cte(f"{cfg.name}__snap",
                 f"SELECT {g.sdts_alias} FROM {snap_rel} {trig}")

    sel = []
    if cfg.pit_type:
        sel.append(f"{sql_str(cfg.pit_type)} AS type")
    if cfg.custom_rsrc:
        sel.append(f"{sql_str(cfg.custom_rsrc)} AS {g.rsrc_alias}")
    dim = hash_expr_sql(_dim_hash_spec(cfg, g, "te.", "snap."), g, DUCKDB, alias=False)
    sel += [f"{dim} AS {cfg.dimension_key}",
            f"te.{cfg.hashkey}", f"snap.{g.sdts_alias}"]

    joins = []
    for sat in cfg.sat_names:
        rel = reg.duckdb_relation(sat)
        if sat not in cfg.sats_have_ledts:
            ed = b.cte(f"{cfg.name}__ed_{sat}", f"""SELECT {cfg.hashkey}, {g.ldts_alias},
COALESCE(LEAD({g.ldts_alias} - INTERVAL 1 MICROSECOND) OVER
  (PARTITION BY {cfg.hashkey} ORDER BY {g.ldts_alias}), {eot}) AS {g.ledts_alias}
FROM {rel}""")
            rel = ed
        joins.append(f"""LEFT JOIN {rel} AS {sat}
  ON {sat}.{cfg.hashkey} = te.{cfg.hashkey}
  AND snap.{g.sdts_alias} BETWEEN {sat}.{g.ldts_alias} AND {sat}.{g.ledts_alias}""")
        if cfg.refer_to_ghost_records:
            sel += [f"COALESCE({sat}.{cfg.hashkey}, {sql_str(g.unknown_key)}) AS hk_{sat}",
                    f"COALESCE({sat}.{g.ldts_alias}, {bot}) AS {g.ldts_alias}_{sat}"]
        else:
            sel += [f"{sat}.{cfg.hashkey} AS hk_{sat}",
                    f"{sat}.{g.ldts_alias} AS {g.ldts_alias}_{sat}"]

    body = (f"SELECT DISTINCT {', '.join(sel)}\nFROM {te_rel} te\n"
            f"CROSS JOIN {snap} snap\n" + "\n".join(joins))
    return b.cte(cfg.name, body)
