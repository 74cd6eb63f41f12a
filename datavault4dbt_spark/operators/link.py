"""Link operator: earliest-arrival distinct relationships.

Re-implements reference: macros/tables/link.sql:8 /
macros/tables/databricks/link.sql:1-267 — identical algorithm to the hub
keyed on the link hashkey with >= 2 foreign hashkeys (validation at
databricks/link.sql:4-10), so the builder is a config shim over the
hub's ``load_earliest_arrival``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..context import GlobalConfig, DEFAULT, Registry
from ..plans.sqlbuild import SqlBuilder
from .hub import load_earliest_arrival


@dataclass(frozen=True)
class LinkConfig:
    name: str
    link_hashkey: str
    foreign_hashkeys: tuple  # >= 2
    source_models: tuple  # EntitySource (fk_columns maps per-source names)
    additional_columns: tuple = ()

    def __post_init__(self):
        if len(self.foreign_hashkeys) < 2:
            raise ValueError(
                f"link {self.name}: needs >=2 foreign hashkeys "
                "(reference: macros/tables/databricks/link.sql:4-10)")


def link_key_pairs(sm, cfg) -> list:
    """(source, target) column pairs of a link's own and foreign
    hashkeys for one source (shared with nh_link)."""
    return [(sm.hk_column or cfg.link_hashkey, cfg.link_hashkey),
            *zip(sm.fk_columns or cfg.foreign_hashkeys, cfg.foreign_hashkeys)]


def build_link(spark, reg: Registry, cfg: LinkConfig, g: GlobalConfig = DEFAULT,
               target: DataFrame | None = None, disable_hwm: bool = False) -> DataFrame:
    return load_earliest_arrival(
        spark, reg, cfg, g, (cfg.link_hashkey,),
        lambda sm: (link_key_pairs(sm, cfg), ()), target, hwm=not disable_hwm)


def link_oracle(b: SqlBuilder, reg: Registry, cfg: LinkConfig,
                g: GlobalConfig = DEFAULT) -> str:
    selects = []
    for sm in cfg.source_models:
        hk = sm.hk_column or cfg.link_hashkey
        fks = sm.fk_columns or cfg.foreign_hashkeys
        cols = [f"{hk} AS {cfg.link_hashkey}"]
        cols += [f"{s} AS {t}" for s, t in zip(fks, cfg.foreign_hashkeys)]
        cols += list(cfg.additional_columns)
        cols += [g.ldts_alias, g.rsrc_alias]
        selects.append(f"SELECT {', '.join(cols)} FROM {reg.duckdb_relation(sm.name)}")
    u = b.cte(f"{cfg.name}__union", "\nUNION ALL\n".join(selects))
    return b.cte(cfg.name,
                 f"SELECT * FROM {u} QUALIFY ROW_NUMBER() OVER "
                 f"(PARTITION BY {cfg.link_hashkey} ORDER BY {g.ldts_alias}, {g.rsrc_alias}) = 1")
