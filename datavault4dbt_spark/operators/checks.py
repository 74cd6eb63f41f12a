"""Soft-constraint vault checks: the reference's documented `dbt test`
suite as one declarative operator.

Reference: docs/26_general-usage-notes/40_testing-a-data-vault/
40_testing-a-data-vault.md — Data Vault 2.0 rejects hard database
constraints (raw data must always land) and instead runs SOFT
constraints after loading: not_null / unique on hub & link hashkeys,
unique_combination_of_columns on satellite (hashkey, load-date[, MA
keys]) grains, and relationship (foreign-hashkey containment) from
links/satellites to their parents. That doc's per-entity-type test
table is exactly what this operator declares and evaluates; the result
is a violations report (one row per check), the soft-constraint
analogue of `dbt test`'s summary.

Check semantics (dbt generic-test parity):

- ``not_null``: rows where ANY listed column is NULL;
- ``unique`` / ``unique_combination``: surplus rows beyond one per
  distinct tuple — ``count(*) - count(DISTINCT tuple)`` over an
  injective per-component-md5 encoding (fixed-width components cannot
  collide across separator placement) with NULLs folded to a sentinel
  md5 can never emit, so NULL tuples count identically in both
  engines;
- ``relationship``: child rows whose (non-NULL, like dbt's
  relationships test) foreign key has no parent — the child rows of
  the key groups no parent row shares.

Scale: the whole suite is one aggregation. Each checked entity is
scanned once, whatever the number of checks that read it (as subject
or as relationship parent): a ``stack()`` emits one ``(check id, key,
counted, parent)`` row per check that reads the row, one
``groupBy(check id, key)`` — a single shuffle, with partial
aggregation collapsing the not_null rows map-side — counts every
key group, and one global aggregate sums the groups per check. No
join, no per-check branch; nothing collects beyond the per-check
counts themselves.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegralType

from ..context import GlobalConfig, DEFAULT, Registry, ensure_identifier
from ..plans.sqlbuild import SqlBuilder

_KINDS = ("not_null", "unique", "unique_combination", "relationship")


@dataclass(frozen=True)
class Check:
    entity: str
    kind: str
    columns: tuple
    to_entity: str = ""      # relationship parent
    to_columns: tuple = ()   # parent key columns (default: columns)

    def __post_init__(self):
        if self.kind not in _KINDS:
            raise ValueError(f"check on {self.entity}: unknown kind "
                             f"{self.kind!r} (expected one of {_KINDS})")
        if not self.columns:
            raise ValueError(f"check on {self.entity}: needs >= 1 column")
        for c in (*self.columns, *self.to_columns):
            ensure_identifier(c, "column", f"check on {self.entity}")
        if self.kind == "relationship":
            if not self.to_entity:
                raise ValueError(
                    f"check on {self.entity}: relationship needs "
                    f"to_entity")
            if self.to_columns and \
                    len(self.to_columns) != len(self.columns):
                raise ValueError(
                    f"check on {self.entity}: to_columns arity must "
                    f"match columns")

    @property
    def parent_cols(self) -> tuple:
        return self.to_columns or self.columns


@dataclass(frozen=True)
class VaultChecksConfig:
    name: str
    checks: tuple = field(default=())

    def __post_init__(self):
        if not self.checks:
            raise ValueError(f"{self.name}: needs >= 1 check")


def _tuple_sql(exprs) -> str:
    """A tuple of column expressions as ONE string key — identical text
    shape to the oracle's (vault_checks_oracle below).

    INJECTIVE: each component is md5-hashed (fixed 32-hex width) before
    joining, so values containing any separator/sentinel byte cannot
    make distinct tuples collide (round-7 advice); NULL components fold
    to a sentinel md5 can never emit. The oracle runs the same
    expression, so both engines count identical distinct tuples
    (including all-NULL ones, which countDistinct alone would skip)."""
    return "concat_ws(':', " + ", ".join(
        f"coalesce(md5(CAST({e} AS STRING)), 'null')" for e in exprs) + ")"


def _parent_key_exprs(c: Check, child: DataFrame,
                      parent: DataFrame) -> list:
    """The parent's key columns as the child's key renders them: a key
    pair of different types compares by value (``child.fk = parent.pk``
    under Spark's coercion), so a parent column is cast to the child's
    type unless both are integral (whose string forms already agree)."""
    ct = {f.name.lower(): f.dataType for f in child.schema.fields}
    pt = {f.name.lower(): f.dataType for f in parent.schema.fields}
    out = []
    for k, p in zip(c.columns, c.parent_cols):
        a, b = ct[k.lower()], pt[p.lower()]
        if a == b or (isinstance(a, IntegralType)
                      and isinstance(b, IntegralType)):
            out.append(p)
        else:
            out.append(f"CAST({p} AS {a.simpleString()})")
    return out


def build_vault_checks(spark, reg: Registry, cfg: VaultChecksConfig,
                       g: GlobalConfig = DEFAULT) -> DataFrame:
    # One key-count per check. Every entity a check reads emits, per
    # row, (cid, k, c, p): the check's id, a key, whether the row counts
    # toward the check (c) and whether it is a relationship parent row
    # (p). Per (cid, k) group, n = sum(c) and np = sum(p) give:
    #   not_null      k NULL, c = the row has a NULL     -> n
    #   unique(_comb) k = the tuple, c = 1               -> n - 1
    #   relationship  child: k = the fk tuple, c = every fk non-NULL;
    #                 parent: k = the key tuple, p = 1   -> n if np = 0
    # so each entity is scanned (and its build subtree planned) once,
    # however many checks read it; the old per-check union rebuilt an
    # entity once per branch.
    rows: dict = {}     # entity -> [stack row, ...], first-read order
    sums = []           # per check: its violations over the groups
    frames = {}
    for c in cfg.checks:
        for e in (c.entity, c.to_entity):
            if e and e not in frames:
                frames[e] = reg.load(spark, e)
    for i, c in enumerate(cfg.checks):
        subject = rows.setdefault(c.entity, [])
        if c.kind == "not_null":
            pred = " OR ".join(f"{col} IS NULL" for col in c.columns)
            subject.append(f"{i}, CAST(NULL AS STRING), "
                           f"CASE WHEN {pred} THEN 1 ELSE 0 END, 0")
            sums.append(f"sum(CASE WHEN cid = {i} THEN n END)")
        elif c.kind == "relationship":
            # like dbt's relationships test, a NULL fk is never orphaned
            nn = " AND ".join(f"{col} IS NOT NULL" for col in c.columns)
            subject.append(f"{i}, {_tuple_sql(c.columns)}, "
                           f"CASE WHEN {nn} THEN 1 ELSE 0 END, 0")
            pkeys = _parent_key_exprs(c, frames[c.entity],
                                      frames[c.to_entity])
            rows.setdefault(c.to_entity, []).append(
                f"{i}, {_tuple_sql(pkeys)}, 0, 1")
            sums.append(f"sum(CASE WHEN cid = {i} AND np = 0 THEN n END)")
        else:
            subject.append(f"{i}, {_tuple_sql(c.columns)}, 1, 0")
            sums.append(f"sum(CASE WHEN cid = {i} THEN n - 1 END)")
    keyed = reduce(DataFrame.unionAll, [
        frames[e].selectExpr(f"stack({len(r)}, {', '.join(r)}) "
                             f"AS (cid, k, c, p)")
        for e, r in rows.items()])
    groups = keyed.groupBy("cid", "k").agg(F.sum("c").alias("n"),
                                           F.sum("p").alias("np"))
    # a global aggregate returns its one row on empty input too, so a
    # check no row reached still reports 0
    totals = groups.selectExpr(*[f"{s} AS v{i}"
                                 for i, s in enumerate(sums)])
    labels = ", ".join(
        f"'{c.entity}', '{c.kind}', '{','.join(c.columns)}', "
        f"CAST(coalesce(v{i}, 0) AS BIGINT)"
        for i, c in enumerate(cfg.checks))
    return totals.selectExpr(
        f"stack({len(cfg.checks)}, {labels}) AS "
        f"(entity, check_kind, check_cols, n_violations)")


def vault_checks_oracle(b: SqlBuilder, reg: Registry,
                        cfg: VaultChecksConfig,
                        g: GlobalConfig = DEFAULT) -> str:
    parts = []
    for c in cfg.checks:
        rel = reg.duckdb_relation(c.entity)
        cols = ",".join(c.columns)
        label = (f"'{c.entity}' AS entity, '{c.kind}' AS check_kind, "
                 f"'{cols}' AS check_cols")
        if c.kind == "not_null":
            pred = " OR ".join(f"{col} IS NULL" for col in c.columns)
            q = (f"SELECT {label}, CAST(coalesce(SUM(CASE WHEN {pred} "
                 f"THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_violations "
                 f"FROM {rel}")
        elif c.kind in ("unique", "unique_combination"):
            # identical injective construction as the Spark side
            # (per-component md5, ':'-joined fixed-width tuple)
            tup = " || ':' || ".join(
                f"coalesce(md5(CAST({col} AS VARCHAR)), 'null')"
                for col in c.columns)
            q = (f"SELECT {label}, CAST(count(*) - "
                 f"count(DISTINCT ({tup})) AS BIGINT) AS n_violations "
                 f"FROM {rel}")
        else:
            parent = reg.duckdb_relation(c.to_entity)
            on = " AND ".join(
                f"ch.{k} = pa.{p}"
                for k, p in zip(c.columns, c.parent_cols))
            nn = " AND ".join(f"ch.{k} IS NOT NULL" for k in c.columns)
            q = (f"SELECT {label}, CAST(count(*) AS BIGINT) "
                 f"AS n_violations FROM {rel} ch "
                 f"WHERE {nn} AND NOT EXISTS (SELECT 1 FROM {parent} "
                 f"pa WHERE {on})")
        parts.append(q)
    return b.cte(cfg.name, "\nUNION ALL\n".join(parts))
