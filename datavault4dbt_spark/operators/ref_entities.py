"""Reference-data family: ref_hub, ref_sat_v0, ref_sat_v1, ref_table.

ref_hub — reference: macros/tables/ref_hub.sql:1 /
macros/tables/databricks/ref_hub.sql:150-233: hub keyed on natural ref
keys (no hashkey), earliest-ldts dedup per ref-key tuple.

ref_sat_v0/v1 — reference: macros/tables/databricks/ref_sat_v0.sql:60-150
(sat_v0 keyed on composite ref keys), ref_sat_v1.sql:35-73.

ref_table — reference: macros/tables/databricks/ref_table.sql:46-151:
date spine (distinct sat ldts for historized='full', MAX for 'latest',
or an active snapshot) x ref hub, LEFT JOIN each (end-dated) ref sat on
ref keys AND date BETWEEN ldts AND ledts, excluding business objects
before their first appearance.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, functions as F

from ..context import GlobalConfig, DEFAULT, Registry
from ..plans.sqlbuild import SqlBuilder
from ..plans.incremental import hwm_filter
from .hub import load_earliest_arrival
from .sat import end_dating_sql, insert_changed, with_is_current


@dataclass(frozen=True)
class RefHubConfig:
    name: str
    ref_keys: tuple
    source_models: tuple  # EntitySource (bk_columns = per-source ref keys)
    additional_columns: tuple = ()


def build_ref_hub(spark, reg: Registry, cfg: RefHubConfig, g: GlobalConfig = DEFAULT,
                  target: DataFrame | None = None) -> DataFrame:
    return load_earliest_arrival(
        spark, reg, cfg, g, cfg.ref_keys,
        lambda sm: (zip(sm.bk_columns or cfg.ref_keys, cfg.ref_keys), ()),
        target)


def ref_hub_oracle(b: SqlBuilder, reg: Registry, cfg: RefHubConfig,
                   g: GlobalConfig = DEFAULT) -> str:
    selects = []
    for sm in cfg.source_models:
        keys = sm.bk_columns or cfg.ref_keys
        cols = [f"{s} AS {t}" for s, t in zip(keys, cfg.ref_keys)]
        cols += list(cfg.additional_columns) + [g.ldts_alias, g.rsrc_alias]
        selects.append(f"SELECT {', '.join(cols)} FROM {reg.duckdb_relation(sm.name)}")
    u = b.cte(f"{cfg.name}__union", "\nUNION ALL\n".join(selects))
    keys = ", ".join(cfg.ref_keys)
    return b.cte(cfg.name, f"""SELECT * FROM {u}
QUALIFY ROW_NUMBER() OVER (PARTITION BY {keys} ORDER BY {g.ldts_alias}, {g.rsrc_alias}) = 1""")


@dataclass(frozen=True)
class RefSatConfig:
    name: str
    source_model: str
    parent_ref_keys: tuple
    src_hashdiff: str
    payload: tuple = ()
    source_is_single_batch: bool = False


def build_ref_sat_v0(spark, reg: Registry, cfg: RefSatConfig,
                     g: GlobalConfig = DEFAULT,
                     target: DataFrame | None = None) -> DataFrame:
    src = reg.load(spark, cfg.source_model).selectExpr(
        *cfg.parent_ref_keys, cfg.src_hashdiff, g.rsrc_alias, g.ldts_alias,
        *cfg.payload)
    if target is not None:
        src = hwm_filter(src, target, g)
    return insert_changed(src, target, cfg.parent_ref_keys, cfg.src_hashdiff,
                          g, cfg.source_is_single_batch)


def ref_sat_v0_oracle(b: SqlBuilder, reg: Registry, cfg: RefSatConfig,
                      g: GlobalConfig = DEFAULT) -> str:
    cols = [*cfg.parent_ref_keys, cfg.src_hashdiff, g.rsrc_alias, g.ldts_alias,
            *cfg.payload]
    src = b.cte(f"{cfg.name}__source",
                f"SELECT {', '.join(cols)} FROM {reg.duckdb_relation(cfg.source_model)}")
    if cfg.source_is_single_batch:
        return b.cte(cfg.name, f"SELECT * FROM {src}")
    keys = ", ".join(cfg.parent_ref_keys)
    return b.cte(cfg.name, f"""SELECT * FROM {src}
QUALIFY CASE WHEN {cfg.src_hashdiff} = LAG({cfg.src_hashdiff}) OVER
  (PARTITION BY {keys} ORDER BY {g.ldts_alias}) THEN FALSE ELSE TRUE END""")


@dataclass(frozen=True)
class RefSatV1Config:
    name: str
    ref_sat_v0: str
    parent_ref_keys: tuple
    hashdiff: str
    payload: tuple = ()
    add_is_current_flag: bool = False


def build_ref_sat_v1(spark, reg: Registry, cfg: RefSatV1Config,
                     g: GlobalConfig = DEFAULT) -> DataFrame:
    # one string projection = one py4j round trip (guide §5); the
    # end-dating window rides inside the same selectExpr
    out = reg.load(spark, cfg.ref_sat_v0).selectExpr(
        *cfg.parent_ref_keys, cfg.hashdiff, g.rsrc_alias, g.ldts_alias,
        f"{end_dating_sql(cfg.parent_ref_keys, g)} AS {g.ledts_alias}",
        *cfg.payload)
    return with_is_current(out, g) if cfg.add_is_current_flag else out


def ref_sat_v1_oracle(b: SqlBuilder, reg: Registry, cfg: RefSatV1Config,
                      g: GlobalConfig = DEFAULT) -> str:
    rel = reg.duckdb_relation(cfg.ref_sat_v0)
    keys = ", ".join(cfg.parent_ref_keys)
    eot = f"CAST('{g.end_of_all_times}' AS TIMESTAMP)"
    payload = ("," + ", ".join(cfg.payload)) if cfg.payload else ""
    inner = b.cte(f"{cfg.name}__ed", f"""SELECT {keys}, {cfg.hashdiff}, {g.rsrc_alias}, {g.ldts_alias},
COALESCE(LEAD({g.ldts_alias} - INTERVAL 1 MICROSECOND) OVER
  (PARTITION BY {keys} ORDER BY {g.ldts_alias}), {eot}) AS {g.ledts_alias}{payload}
FROM {rel}""")
    cur = (f", ({g.ledts_alias} = {eot}) AS {g.is_current_col_alias}"
           if cfg.add_is_current_flag else "")
    return b.cte(cfg.name, f"SELECT *{cur} FROM {inner}")


@dataclass(frozen=True)
class RefTableConfig:
    name: str
    ref_hub: str
    ref_keys: tuple
    ref_satellites: tuple  # (sat_name, (payload cols...)) — v1 sats with ledts
    historized: str = "full"  # 'full' | 'latest'
    snapshot_relation: str | None = None


def build_ref_table(spark, reg: Registry, cfg: RefTableConfig,
                    g: GlobalConfig = DEFAULT) -> DataFrame:
    hub = reg.load(spark, cfg.ref_hub)
    eot = F.to_timestamp(F.lit(g.end_of_all_times))

    if cfg.historized in ("full", "latest"):
        spines = [reg.load(spark, s).select(g.ldts_alias).filter(
            F.col(g.ldts_alias) != eot).distinct()
            for s, _ in cfg.ref_satellites]
        dates = reduce(lambda a, b: a.unionByName(b), spines).distinct()
        if cfg.historized == "latest":
            dates = dates.agg(F.max(g.ldts_alias).alias(g.ldts_alias))
        date_col = g.ldts_alias
    else:
        dates = reg.load(spark, cfg.snapshot_relation).filter(
            F.col(g.snapshot_trigger_column)).select(g.sdts_alias)
        date_col = g.sdts_alias

    dates = dates.withColumnRenamed(date_col, "__date")
    out = hub.alias("h").crossJoin(F.broadcast(dates)).filter(
        f"h.{g.ldts_alias} <= __date")
    sel = [f"h.{k}" for k in cfg.ref_keys] + \
          [f"__date AS {date_col}", f"h.{g.rsrc_alias}"]
    for i, (sat, payload) in enumerate(cfg.ref_satellites):
        s = reg.load(spark, sat).alias(f"s{i}")
        cond = F.expr(" AND ".join(
            [f"h.{k} = s{i}.{k}" for k in cfg.ref_keys]
            + [f"__date BETWEEN s{i}.{g.ldts_alias} "
               f"AND s{i}.{g.ledts_alias}"]))
        out = out.join(s, cond, "left")
        sel += [f"s{i}.{c}" for c in payload]
    return out.selectExpr(*sel)


def ref_table_oracle(b: SqlBuilder, reg: Registry, cfg: RefTableConfig,
                     g: GlobalConfig = DEFAULT) -> str:
    eot = f"CAST('{g.end_of_all_times}' AS TIMESTAMP)"
    if cfg.historized in ("full", "latest"):
        date_col = g.ldts_alias
        spine = "\nUNION\n".join(
            f"SELECT DISTINCT {g.ldts_alias} FROM {reg.duckdb_relation(s)} "
            f"WHERE {g.ldts_alias} != {eot}" for s, _ in cfg.ref_satellites)
        if cfg.historized == "latest":
            spine = (f"SELECT MAX({g.ldts_alias}) AS {g.ldts_alias} "
                     f"FROM ({spine})")
        dates = b.cte(f"{cfg.name}__dates", spine)
    else:
        date_col = g.sdts_alias
        dates = b.cte(f"{cfg.name}__dates",
                      f"SELECT {g.sdts_alias} FROM "
                      f"{reg.duckdb_relation(cfg.snapshot_relation)} "
                      f"WHERE {g.snapshot_trigger_column}")

    keys = ", ".join(f"h.{k}" for k in cfg.ref_keys)
    sel = [keys, f"ld.{date_col}", f"h.{g.rsrc_alias}"]
    joins = []
    for i, (sat, payload) in enumerate(cfg.ref_satellites):
        on = " AND ".join(f"h.{k} = s_{i}.{k}" for k in cfg.ref_keys)
        joins.append(
            f"LEFT JOIN {reg.duckdb_relation(sat)} s_{i} ON {on} "
            f"AND ld.{date_col} BETWEEN s_{i}.{g.ldts_alias} AND s_{i}.{g.ledts_alias}")
        sel += [f"s_{i}.{c}" for c in payload]
    return b.cte(cfg.name, f"""SELECT {', '.join(sel)}
FROM {reg.duckdb_relation(cfg.ref_hub)} h
CROSS JOIN {dates} ld
{chr(10).join(joins)}
WHERE h.{g.ldts_alias} <= ld.{date_col}""")
