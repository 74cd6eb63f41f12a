"""Hub operator: earliest-arrival distinct business keys, and the
earliest-arrival loader that link, nh_link and ref_hub share.

Re-implements reference: macros/tables/hub.sql:13-129 (dispatcher) /
macros/tables/databricks/hub.sql:1-261. Pipeline: per-source select with
column mapping -> UNION ALL -> earliest row per hashkey (ROW_NUMBER) ->
[incremental: anti-join vs target] -> insert. A link is "the same
pattern as hub" in the reference, so every builder of the pattern calls
``load_earliest_arrival``; only the oracles stay written per entity.

Determinism note: the reference orders the dedup window by ldts only
(hub.sql:228), which is nondeterministic under ties; we add rsrc as a
tie-breaker in BOTH the Spark plan and the oracle SQL.

Scale: the window + anti-join shuffle on the same key (hashkey), so AQE
reuses the exchange; hashkeys are uniformly-distributed hashes, so no
skew handling is needed.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame

from ..context import GlobalConfig, DEFAULT, Registry
from ..plans.sqlbuild import SqlBuilder
from ..plans.incremental import (hwm_filter, hwm_filter_static,
                                 first_per_key, anti_join_new)


@dataclass(frozen=True)
class EntitySource:
    """One source stage feeding an entity, with per-source column mapping
    (reference: macros/supporting/source_models.sql:40-62)."""

    name: str
    hk_column: str | None = None   # defaults to target hashkey name
    bk_columns: tuple | None = None  # defaults to target business keys
    rsrc_static: str | None = None
    fk_columns: tuple | None = None  # links: foreign hashkeys mapping
    payload: tuple | None = None     # nh_link: per-source payload mapping


@dataclass(frozen=True)
class HubConfig:
    name: str
    hashkey: str
    business_keys: tuple
    source_models: tuple  # EntitySource
    additional_columns: tuple = ()


def load_earliest_arrival(spark, reg: Registry, cfg, g: GlobalConfig,
                          keys: tuple, mapping, target: DataFrame | None,
                          hwm: bool = True, distinct: bool = False,
                          first: bool = True) -> DataFrame:
    """Insert the earliest-arriving row of every key absent from target.

    ``cfg`` supplies ``source_models`` and ``additional_columns``;
    ``mapping(sm)`` returns the source's (key pairs, payload pairs) of
    (source column, target column): keys lead the select list, payload
    trails ldts/rsrc (the reference's select order). ``distinct`` is
    nh_link's union_strategy='distinct'; ``first=False`` skips the
    earliest-per-key window (single-batch nh_link)."""
    parts = []
    for sm in cfg.source_models:
        head, tail = mapping(sm)
        # one string projection = one py4j round trip (guide §5); every
        # name here is interpolated into the oracle SQL already, so the
        # plain-identifier contract holds
        sel = [f"{s} AS {t}" for s, t in head]
        sel += [*cfg.additional_columns, g.ldts_alias, g.rsrc_alias]
        sel += [f"{s} AS {t}" for s, t in tail]
        src = reg.load(spark, sm.name).selectExpr(*sel)
        if hwm:
            # per-source watermark when the source declares rsrc_static
            # (reference: hub.sql:44-131, link.sql:44-131, ref_hub.sql:
            # 39-100, nh_link.sql:61-100 record-source lookup — a NEW
            # source's history predates the global HWM and must not be
            # filtered by the other sources' watermarks), global
            # max(ldts) otherwise
            src = (hwm_filter_static(src, target, sm.rsrc_static, g)
                   if sm.rsrc_static else hwm_filter(src, target, g))
        parts.append(src)
    union = reduce(lambda a, b: a.unionByName(b), parts)
    if distinct and len(parts) > 1:
        union = union.distinct()
    if first:
        union = first_per_key(union, keys, f"{g.ldts_alias}, {g.rsrc_alias}")
    return anti_join_new(union, target, list(keys))


def build_hub(spark, reg: Registry, cfg: HubConfig, g: GlobalConfig = DEFAULT,
              target: DataFrame | None = None, disable_hwm: bool = False) -> DataFrame:
    return load_earliest_arrival(
        spark, reg, cfg, g, (cfg.hashkey,),
        lambda sm: ([(sm.hk_column or cfg.hashkey, cfg.hashkey),
                     *zip(sm.bk_columns or cfg.business_keys,
                          cfg.business_keys)], ()),
        target, hwm=not disable_hwm)


def hub_oracle(b: SqlBuilder, reg: Registry, cfg: HubConfig,
               g: GlobalConfig = DEFAULT) -> str:
    """DuckDB SQL for the initial (full) hub load; stages must already be
    CTEs in ``b``."""
    selects = []
    for sm in cfg.source_models:
        hk = sm.hk_column or cfg.hashkey
        bks = sm.bk_columns or cfg.business_keys
        cols = [f"{hk} AS {cfg.hashkey}"]
        cols += [f"{s} AS {t}" for s, t in zip(bks, cfg.business_keys)]
        cols += list(cfg.additional_columns)
        cols += [g.ldts_alias, g.rsrc_alias]
        selects.append(f"SELECT {', '.join(cols)} FROM {reg.duckdb_relation(sm.name)}")
    union = "\nUNION ALL\n".join(selects)
    u = b.cte(f"{cfg.name}__union", union)
    return b.cte(cfg.name,
                 f"SELECT * FROM {u} QUALIFY ROW_NUMBER() OVER "
                 f"(PARTITION BY {cfg.hashkey} ORDER BY {g.ldts_alias}, {g.rsrc_alias}) = 1")
