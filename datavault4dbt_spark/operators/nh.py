"""Non-historized (transactional) satellite and link.

nh_sat — reference: macros/tables/nh_sat.sql:11 /
macros/tables/databricks/nh_sat.sql:25-81 (first row per hashkey when
multi-batch at 42-43, NOT-IN insert at 68-75).

nh_link — reference: macros/tables/nh_link.sql:9 /
macros/tables/databricks/nh_link.sql:1-298 (per-source payload mapping
at 219-235, union_strategy 'all'|'distinct' at 33-42, optional
earliest-per-hashkey dedup at 253-264).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..context import GlobalConfig, DEFAULT, Registry
from ..plans.sqlbuild import SqlBuilder
from ..plans.incremental import hwm_filter, first_per_key, anti_join_new
from .hub import load_earliest_arrival
from .link import link_key_pairs


@dataclass(frozen=True)
class NhSatConfig:
    name: str
    source_model: str
    parent_hashkey: str
    payload: tuple
    source_is_single_batch: bool = True
    additional_columns: tuple = ()


def build_nh_sat(spark, reg: Registry, cfg: NhSatConfig, g: GlobalConfig = DEFAULT,
                 target: DataFrame | None = None, disable_hwm: bool = False) -> DataFrame:
    cols = [cfg.parent_hashkey, g.ldts_alias, g.rsrc_alias, *cfg.payload,
            *cfg.additional_columns]
    # one string projection = one py4j round trip (guide §5)
    src = reg.load(spark, cfg.source_model).selectExpr(*cols)
    if target is not None and not disable_hwm:
        src = hwm_filter(src, target, g)
    if not cfg.source_is_single_batch:
        src = first_per_key(src, (cfg.parent_hashkey,), g.ldts_alias)
    return anti_join_new(src, target, [cfg.parent_hashkey])


def nh_sat_oracle(b: SqlBuilder, reg: Registry, cfg: NhSatConfig,
                  g: GlobalConfig = DEFAULT) -> str:
    cols = [cfg.parent_hashkey, g.ldts_alias, g.rsrc_alias, *cfg.payload,
            *cfg.additional_columns]
    sel = f"SELECT {', '.join(cols)} FROM {reg.duckdb_relation(cfg.source_model)}"
    if not cfg.source_is_single_batch:
        sel += (f"\nQUALIFY ROW_NUMBER() OVER (PARTITION BY {cfg.parent_hashkey} "
                f"ORDER BY {g.ldts_alias}) = 1")
    return b.cte(cfg.name, sel)


@dataclass(frozen=True)
class NhLinkConfig:
    name: str
    link_hashkey: str
    foreign_hashkeys: tuple
    payload: tuple  # target payload names
    source_models: tuple  # EntitySource with fk_columns / payload mapping
    union_strategy: str = "all"  # 'all' | 'distinct'
    source_is_single_batch: bool = True
    additional_columns: tuple = ()


def build_nh_link(spark, reg: Registry, cfg: NhLinkConfig, g: GlobalConfig = DEFAULT,
                  target: DataFrame | None = None, disable_hwm: bool = False) -> DataFrame:
    return load_earliest_arrival(
        spark, reg, cfg, g, (cfg.link_hashkey,),
        lambda sm: (link_key_pairs(sm, cfg),
                    zip(sm.payload or cfg.payload, cfg.payload)),
        target, hwm=not disable_hwm,
        distinct=cfg.union_strategy == "distinct",
        first=not cfg.source_is_single_batch)


def nh_link_oracle(b: SqlBuilder, reg: Registry, cfg: NhLinkConfig,
                   g: GlobalConfig = DEFAULT) -> str:
    selects = []
    for sm in cfg.source_models:
        hk = sm.hk_column or cfg.link_hashkey
        fks = sm.fk_columns or cfg.foreign_hashkeys
        pay = sm.payload or cfg.payload
        cols = [f"{hk} AS {cfg.link_hashkey}"]
        cols += [f"{s} AS {t}" for s, t in zip(fks, cfg.foreign_hashkeys)]
        cols += list(cfg.additional_columns)
        cols += [g.ldts_alias, g.rsrc_alias]
        cols += [f"{s} AS {t}" for s, t in zip(pay, cfg.payload)]
        selects.append(f"SELECT {', '.join(cols)} FROM {reg.duckdb_relation(sm.name)}")
    joiner = "\nUNION\n" if (cfg.union_strategy == "distinct"
                             and len(selects) > 1) else "\nUNION ALL\n"
    u = b.cte(f"{cfg.name}__union", joiner.join(selects))
    sel = f"SELECT * FROM {u}"
    if not cfg.source_is_single_batch:
        sel += (f"\nQUALIFY ROW_NUMBER() OVER (PARTITION BY {cfg.link_hashkey} "
                f"ORDER BY {g.ldts_alias}, {g.rsrc_alias}) = 1")
    return b.cte(cfg.name, sel)
