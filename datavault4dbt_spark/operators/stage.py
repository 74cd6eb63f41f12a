"""Stage operator: hash-enrich one source relation.

Re-implements the reference's staging pipeline (reference:
macros/staging/stage.sql:8-193 dispatcher; databricks implementation
macros/staging/databricks/stage.sql:190-636) as a chained DataFrame
transformation:

    source -> ldts/rsrc aliasing -> missing columns -> prejoins ->
    derived columns -> hash columns (single- or multi-active) ->
    UNION ALL of 2 ghost records

All scalar logic is built-in-function SQL (``F.expr``), so the whole
stage stays inside Catalyst/whole-stage-codegen; the only joins are the
prejoin lookups (left joins on small dims -> broadcast by AQE) and the
multi-active group-hashdiff aggregation.

The sibling ``stage_oracle`` emits the equivalent DuckDB SQL from the
same config for the correctness gate.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from ..context import GlobalConfig, DEFAULT, Registry, ensure_min_parallelism
from ..functions.hashing import (HashSpec, hash_expr_sql, ma_hash_window_sql,
                                 sql_str, SPARK, DUCKDB)
from ..functions.ghost import (ghost_value_sql, ghost_hash_sql, ghost_ldts_sql,
                               ghost_rsrc_sql)
from ..plans.sqlbuild import SqlBuilder


@dataclass(frozen=True)
class DerivedColumn:
    name: str
    value: str  # SQL expression (dialect-neutral) or '!literal'
    datatype: str = "STRING"  # used for ghost-record generation


@dataclass(frozen=True)
class Prejoin:
    """LEFT JOIN ref_model ON this.<k> = ref.<v>, extracting columns.

    reference: macros/staging/databricks/stage.sql:268-330.
    """

    ref_model: str
    on: tuple  # ((this_col, ref_col), ...)
    extract: tuple  # ((alias, ref_col, dtype), ...)


@dataclass(frozen=True)
class MultiActiveConfig:
    multi_active_key: tuple
    main_hashkey_column: str


@dataclass(frozen=True)
class StageConfig:
    name: str
    source_model: str
    ldts: str  # SQL expression over source columns (dialect-neutral)
    rsrc: str  # SQL expression or '!literal'
    # ((col, dtype), ...) — projection + ghost typing. None = introspect
    # from the source DataFrame at plan-build time (the reference's
    # adapter.get_columns_in_relation, stage.sql:103); the oracle
    # generator needs it explicit.
    source_schema: tuple | None = None
    hashed_columns: tuple = ()  # HashSpec
    derived_columns: tuple = ()
    prejoined_columns: tuple = ()
    missing_columns: tuple = ()  # ((name, dtype), ...)
    multi_active: MultiActiveConfig | None = None
    enable_ghost_records: bool = True
    include_source_columns: bool = True
    # Name of a source column holding an extraction-time sequence
    # number; emitted as `edwSequence` right after ldts/rsrc and
    # removed from the plain source columns (reference:
    # macros/staging/stage.sql:8,134,176; databricks/stage.sql:88-90,
    # 218-220). `sequence_dtype` types the ghost-record value.
    sequence: str | None = None
    sequence_dtype: str = "BIGINT"


def _rsrc_expr(rsrc: str) -> str:
    return sql_str(rsrc[1:]) if rsrc.startswith("!") else rsrc


def _source_cols(cfg: StageConfig) -> list:
    """Plain source columns: the sequence column is surfaced only as
    `edwSequence` (reference: databricks/stage.sql:88-90 adds it to the
    exclude list), so drop it from the raw projection."""
    return [(c, dt) for c, dt in cfg.source_schema if c != cfg.sequence]


def final_columns(cfg: StageConfig, g: GlobalConfig = DEFAULT) -> list:
    cols = [g.ldts_alias, g.rsrc_alias]
    if cfg.sequence:
        cols.append("edwSequence")
    if cfg.include_source_columns:
        cols += [c for c, _ in _source_cols(cfg)]
    cols += [c for c, _ in cfg.missing_columns]
    for pj in cfg.prejoined_columns:
        cols += [a for a, _, _ in pj.extract]
    cols += [d.name for d in cfg.derived_columns]
    cols += [h.name for h in cfg.hashed_columns]
    return cols


def _ghost_row_sql(cfg: StageConfig, kind: str, g: GlobalConfig, dialect: str) -> str:
    """SELECT of one ghost record, columns in final_columns order."""
    exprs = [f"{ghost_ldts_sql(kind, g)} AS {g.ldts_alias}",
             f"{ghost_rsrc_sql(kind, g)} AS {g.rsrc_alias}"]
    if cfg.sequence:
        exprs.append(f"{ghost_value_sql(cfg.sequence_dtype, kind, g)} AS edwSequence")
    if cfg.include_source_columns:
        exprs += [f"{ghost_value_sql(dt, kind, g)} AS {c}" for c, dt in _source_cols(cfg)]
    exprs += [f"{ghost_value_sql(dt, kind, g)} AS {c}" for c, dt in cfg.missing_columns]
    for pj in cfg.prejoined_columns:
        exprs += [f"{ghost_value_sql(dt, kind, g)} AS {a}" for a, _, dt in pj.extract]
    exprs += [f"{ghost_value_sql(d.datatype, kind, g)} AS {d.name}" for d in cfg.derived_columns]
    exprs += [f"{ghost_hash_sql(kind, g)} AS {h.name}" for h in cfg.hashed_columns]
    return "SELECT " + ", ".join(exprs)


def build_stage(spark, reg: Registry, cfg: StageConfig, g: GlobalConfig = DEFAULT,
                hwm_ldts=None) -> DataFrame:
    """Spark plan for the stage. ``hwm_ldts``: optional high-water-mark
    literal — rows with ldts <= hwm are filtered at the source (enables
    parquet min-max skipping at scale; reference: stage.sql:200-205)."""
    src = reg.load(spark, cfg.source_model)
    if cfg.source_schema is None:
        from dataclasses import replace
        cfg = replace(cfg, source_schema=tuple(
            (c, t.upper()) for c, t in src.dtypes))
    if cfg.include_source_columns:
        keep = ([cfg.sequence] if cfg.sequence else []) + [c for c, _ in _source_cols(cfg)]
        src = src.selectExpr(*dict.fromkeys(keep))
    # hashing is CPU-bound: make sure the scan's effective parallelism
    # matches the session's cores (no-op on well-partitioned sources)
    src = ensure_min_parallelism(src)

    # single selectExpr: per-Column F.col/alias objects each pay a py4j
    # round trip; one string projection is one call (guide §5 — the
    # construction batching that _append_columns applies below)
    df = src.selectExpr(
        f"CAST(({cfg.ldts}) AS TIMESTAMP) AS {g.ldts_alias}",
        f"CAST(({_rsrc_expr(cfg.rsrc)}) AS STRING) AS {g.rsrc_alias}",
        *([f"{cfg.sequence} AS edwSequence"] if cfg.sequence else []),
        *([c for c, _ in _source_cols(cfg)]
          if cfg.include_source_columns else []),
    )
    if hwm_ldts is not None:
        df = df.filter(F.col(g.ldts_alias) > F.lit(hwm_ldts))

    def _append_columns(frame, pairs):
        """One projection for a batch of (name, sql_expr) additions —
        the per-column withColumn loop pays a py4j round trip + plan
        relayer per column, a measurable slice of every query's plan
        construction (guide §5, driver latency). Falls back to the
        exact sequential semantics when a name overwrites an existing
        column or an expression references another new name (resolution
        order would differ)."""
        import re as _re
        # case-insensitive like withColumn's replace semantics under
        # spark.sql.caseSensitive=false (r12 advice): a new name
        # differing only in case from an existing column must take the
        # sequential replace path, not the batched append
        existing = {c.lower() for c in frame.columns}
        names = [n for n, _ in pairs]
        refs_other = any(
            _re.search(rf"\b{_re.escape(other)}\b", expr)
            for name, expr in pairs for other in names if other != name)
        if all(n.lower() not in existing for n in names) and not refs_other:
            return frame.selectExpr(
                "*", *[f"({expr}) AS {name}" for name, expr in pairs])
        out = frame
        for name, expr in pairs:
            out = out.withColumn(name, F.expr(expr))
        return out

    if cfg.missing_columns:
        df = _append_columns(df, [(name, f"CAST(NULL AS {dtype})")
                                  for name, dtype in cfg.missing_columns])

    for pj in cfg.prejoined_columns:
        ref_df = reg.load(spark, pj.ref_model)
        keep = [rc for _, rc in pj.on] + [rc for _, rc, _ in pj.extract]
        ref_df = ref_df.select(*dict.fromkeys(keep)).alias("pj")
        cond = None
        for tc, rc in pj.on:
            c = df[tc] == ref_df[rc]
            cond = c if cond is None else (cond & c)
        joined = df.alias("lcte").join(F.broadcast(ref_df), cond, "left")
        df = joined.selectExpr(
            *[f"lcte.{c}" for c in df.columns],
            *[f"pj.{rc} AS {a}" for a, rc, _ in pj.extract],
        )

    if cfg.derived_columns:
        df = _append_columns(df, [(d.name, _rsrc_expr(d.value))
                                  for d in cfg.derived_columns])

    if cfg.multi_active is None:
        if cfg.hashed_columns:
            df = _append_columns(
                df, [(h.name, hash_expr_sql(h, g, SPARK, alias=False))
                     for h in cfg.hashed_columns])
    else:
        ma = cfg.multi_active
        main_specs = [h for h in cfg.hashed_columns
                      if h.name == ma.main_hashkey_column and not h.is_hashdiff]
        other_keys = [h for h in cfg.hashed_columns
                      if h.name != ma.main_hashkey_column and not h.is_hashdiff]
        hashdiffs = [h for h in cfg.hashed_columns if h.is_hashdiff]
        if main_specs + other_keys:
            df = _append_columns(
                df, [(h.name, hash_expr_sql(h, g, SPARK, alias=False))
                     for h in main_specs + other_keys])
        # group hashdiff over the active set (reference: stage.sql:391-444)
        # — Spark-first: window aggregation instead of GROUP BY + re-join
        # (one shuffle, no duplicate computation of the stage subtree)
        ma_specs = [HashSpec(h.name, h.columns, True, tuple(ma.multi_active_key))
                    for h in hashdiffs]
        part = (ma.main_hashkey_column, g.ldts_alias)
        if ma_specs:
            # separate batch: the window hashdiffs PARTITION BY the
            # main hashkey added in the previous batch
            df = _append_columns(
                df, [(h.name, ma_hash_window_sql(h, g, part))
                     for h in ma_specs])

    df = df.selectExpr(*final_columns(cfg, g))

    if cfg.enable_ghost_records:
        # one parse for both ghost rows (same rows, same order as the
        # former two spark.sql calls + unionByName)
        ghosts = spark.sql(
            f"{_ghost_row_sql(cfg, 'unknown', g, SPARK)} UNION ALL "
            f"{_ghost_row_sql(cfg, 'error', g, SPARK)}")
        # align ghost dtypes to the staged plan (e.g. INT vs BIGINT
        # sources) — one string projection, not a Column per field
        ghosts = ghosts.selectExpr(
            *[f"CAST({c} AS {t.dataType.simpleString()}) AS {c}"
              for c, t in zip(ghosts.columns, df.schema.fields)])
        df = df.unionByName(ghosts)
    return df


def stage_oracle(b: SqlBuilder, reg: Registry, cfg: StageConfig,
                 g: GlobalConfig = DEFAULT) -> str:
    """DuckDB CTE chain for the same stage; returns final CTE name."""
    rel = reg.duckdb_relation(cfg.source_model)
    src_cols = ", ".join(c for c, _ in _source_cols(cfg)) if cfg.include_source_columns else ""

    sel = [f"CAST(({cfg.ldts}) AS TIMESTAMP) AS {g.ldts_alias}",
           f"CAST(({_rsrc_expr(cfg.rsrc)}) AS STRING) AS {g.rsrc_alias}"]
    if cfg.sequence:
        sel.append(f"{cfg.sequence} AS edwSequence")
    if src_cols:
        sel.append(src_cols)
    base = b.cte(f"{cfg.name}__ldts_rsrc",
                 f"SELECT {', '.join(sel)} FROM {rel}")

    cols = [g.ldts_alias, g.rsrc_alias] \
        + (["edwSequence"] if cfg.sequence else []) \
        + ([c for c, _ in _source_cols(cfg)] if cfg.include_source_columns else [])

    if cfg.missing_columns:
        mc = [f"CAST(NULL AS {dt}) AS {c}" for c, dt in cfg.missing_columns]
        base = b.cte(f"{cfg.name}__missing",
                     f"SELECT {', '.join(cols)}, {', '.join(mc)} FROM {base}")
        cols += [c for c, _ in cfg.missing_columns]

    for i, pj in enumerate(cfg.prejoined_columns):
        ref_rel = reg.duckdb_relation(pj.ref_model)
        on = " AND ".join(f"lcte.{tc} = pj.{rc}" for tc, rc in pj.on)
        ext = ", ".join(f"pj.{rc} AS {a}" for a, rc, _ in pj.extract)
        lcols = ", ".join(f"lcte.{c}" for c in cols)
        base = b.cte(f"{cfg.name}__prejoin_{i}",
                     f"SELECT {lcols}, {ext} FROM {base} lcte "
                     f"LEFT JOIN {ref_rel} pj ON {on}")
        cols += [a for a, _, _ in pj.extract]

    for d in cfg.derived_columns:
        base = b.cte(f"{cfg.name}__derived_{d.name}",
                     f"SELECT {', '.join(cols)}, ({_rsrc_expr(d.value)}) AS {d.name} FROM {base}")
        cols.append(d.name)

    if cfg.multi_active is None:
        hx = [hash_expr_sql(h, g, DUCKDB) for h in cfg.hashed_columns]
        base = b.cte(f"{cfg.name}__hashed",
                     f"SELECT {', '.join(cols + hx)} FROM {base}")
    else:
        ma = cfg.multi_active
        keys = [h for h in cfg.hashed_columns if not h.is_hashdiff]
        hashdiffs = [h for h in cfg.hashed_columns if h.is_hashdiff]
        kx = [hash_expr_sql(h, g, DUCKDB) for h in keys]
        base = b.cte(f"{cfg.name}__mainhk",
                     f"SELECT {', '.join(cols + kx)} FROM {base}")
        cols += [h.name for h in keys]
        ma_specs = [HashSpec(h.name, h.columns, True, tuple(ma.multi_active_key))
                    for h in hashdiffs]
        ax = [hash_expr_sql(h, g, DUCKDB) for h in ma_specs]
        agg = b.cte(f"{cfg.name}__ma_prep",
                    f"SELECT {ma.main_hashkey_column}, {g.ldts_alias}, {', '.join(ax)} "
                    f"FROM {base} GROUP BY {ma.main_hashkey_column}, {g.ldts_alias}")
        lcols = ", ".join(f"m.{c}" for c in cols)
        dcols = ", ".join(f"a.{h.name} AS {h.name}" for h in hashdiffs)
        base = b.cte(f"{cfg.name}__hashed",
                     f"SELECT {lcols}, {dcols} FROM {base} m LEFT JOIN {agg} a "
                     f"ON m.{ma.main_hashkey_column} = a.{ma.main_hashkey_column} "
                     f"AND m.{g.ldts_alias} = a.{g.ldts_alias}")

    fcols = ", ".join(final_columns(cfg, g))
    body = f"SELECT {fcols} FROM {base}"
    if cfg.enable_ghost_records:
        body += ("\nUNION ALL\n" + _ghost_row_sql(cfg, "unknown", g, DUCKDB)
                 + "\nUNION ALL\n" + _ghost_row_sql(cfg, "error", g, DUCKDB))
    return b.cte(cfg.name, body)
