"""Pipeline runner: materialize a whole declared Data Vault in
dependency order — the engine's equivalent of ``dbt run``.

The reference relies on dbt's DAG scheduler to order models and on
incremental materializations to append (SURVEY §3). Here the DAG comes
from each entity's declared dependencies; each run() pass:

1. topologically sorts the declared entities,
2. builds each entity's plan against the *stored* versions of its
   dependencies (stages are recomputed views by default, like the
   reference's view materialization),
3. incremental entities anti-join against their stored target and
   append records_to_insert (insert-only) — unless nothing they read
   has changed since their last successful write: an entity whose input
   key (see ``input_keys``) and own table listing match what that write
   recorded is skipped with zero Spark jobs, because a load over
   unchanged inputs into an unchanged target appends nothing. ``table``
   entities always rebuild (dbt's full-rebuild semantics) but record
   their key for consumers,
4. views (sat_v1 & co.) are re-registered, never materialized.

Scale notes: per-entity writes are independent jobs, so a scheduler can
run DAG-parallel branches concurrently; all incremental pruning (HWM +
anti-join) happens inside each entity's plan.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import re
import sys
from dataclasses import dataclass, fields, is_dataclass

from ..context import GlobalConfig, DEFAULT, Registry
from ..operators.snapshots import SnapV0Config, SnapV1Config
from .incremental import ParquetStore, file_stamps


@dataclass(frozen=True)
class EntityDecl:
    """One declared entity: how to build it and what it depends on."""

    name: str
    build: callable          # (spark, reg, cfg, g, target=...) -> DataFrame
    cfg: object
    deps: tuple = ()
    materialize: str = "incremental"  # 'incremental' | 'table' | 'view'
    keys: tuple = ()         # anti-join keys for incremental appends


def topo_sort(decls: dict) -> list:
    seen, order = set(), []

    def visit(n, path=()):
        if n in seen or n not in decls:
            return
        if n in path:
            raise ValueError(f"dependency cycle at {n}")
        for d in decls[n].deps:
            visit(d, path + (n,))
        seen.add(n)
        order.append(n)
    for n in decls:
        visit(n)
    return order


def select_nodes(decls: dict, select=(), exclude=()) -> set:
    """dbt-style node selection (reference:
    macros/supporting/source_models.sql:40-62,
    source_model_should_be_selected.sql:1-16 lean on dbt ``--select``;
    this is the engine-side equivalent for run_pipeline). Selector
    grammar per item (string or iterable of strings):

    - ``name``    — the node itself (fnmatch globs allowed: ``stage_*``)
    - ``+name``   — the node plus ALL ancestors
    - ``name+``   — the node plus ALL descendants
    - ``+name+``  — both closures

    Multiple selectors union; ``exclude`` (same grammar) subtracts
    after the union. Empty ``select`` means every node. A selector
    that matches nothing raises — a silently-empty selection runs
    nothing, which in a scheduled load reads as success."""
    import fnmatch

    if isinstance(select, str):
        select = (select,)
    if isinstance(exclude, str):
        exclude = (exclude,)
    children: dict = {n: [] for n in decls}
    for n, d in decls.items():
        for dep in d.deps:
            if dep in children:
                children[dep].append(n)

    def closure(roots, edges):
        out, stack = set(roots), list(roots)
        while stack:
            for nxt in edges(stack.pop()):
                if nxt not in out:
                    out.add(nxt)
                    stack.append(nxt)
        return out

    def resolve(selector: str) -> set:
        up = selector.startswith("+")
        down = selector.endswith("+")
        pat = selector.strip("+")
        base = set(fnmatch.filter(decls.keys(), pat))
        if not base:
            raise ValueError(
                f"selector {selector!r} matches no declared entity "
                f"(have: {sorted(decls)[:8]}...)")
        got = set(base)
        if up:
            got |= closure(base, lambda n: [d for d in decls[n].deps
                                            if d in decls])
        if down:
            got |= closure(base, lambda n: children[n])
        return got

    chosen = (set(decls) if not select
              else set().union(*(resolve(s) for s in select)))
    for s in exclude:
        chosen -= resolve(s)
    return chosen


# SQL text that reads the clock or a random source: a config carrying
# it gives a different result on every run over the same inputs
_VOLATILE = re.compile(
    r"\b(?:current_timestamp|current_date|localtimestamp)\b"
    r"|\b(?:now|rand|randn|uuid)\s*\(", re.I)
_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _Unknowable(Exception):
    """A config value the input key cannot pin down."""


def _canon(v) -> str:
    """Text of a config value that is the same in every process:
    dataclasses by class and fields, sets and dicts sorted. Anything
    else (a callable, an object whose repr carries its address) and SQL
    text that reads the clock raise _Unknowable."""
    if isinstance(v, str) and _VOLATILE.search(v):
        raise _Unknowable(v)
    if v is None or isinstance(v, (bool, int, float, str, bytes,
                                   datetime.date)):   # YAML dates
        return repr(v)
    if is_dataclass(v) and not isinstance(v, type):
        t = type(v)
        return (f"{t.__module__}.{t.__qualname__}("
                + ",".join(f"{f.name}={_canon(getattr(v, f.name))}"
                           for f in fields(v)) + ")")
    if isinstance(v, (tuple, list)):
        inner = ",".join(map(_canon, v))
        return f"[{inner}]" if isinstance(v, list) else f"({inner})"
    if isinstance(v, (set, frozenset)):
        return "{" + ",".join(sorted(map(_canon, v))) + "}"
    if isinstance(v, dict):
        return "{" + ",".join(sorted(f"{_canon(k)}:{_canon(x)}"
                                     for k, x in v.items())) + "}"
    raise _Unknowable(type(v).__qualname__)


def _reads_now(cfg) -> bool:
    return (isinstance(cfg, SnapV0Config) and cfg.end_date is None
            or isinstance(cfg, SnapV1Config) and cfg.current_ts is None)


def input_keys(decls: dict, store: ParquetStore, reg: Registry,
               g: GlobalConfig = DEFAULT):
    """``key(name)``: the input key of a declared entity, memoized, or
    None when some input cannot be known. A sha256 over:

    - the engine package's source-file stamps, and those of the
      builder's own module with its ``__module__.__qualname__``,
    - ``materialize``, the config and ``g`` (see ``_canon``),
    - per dependency, what is stored for it: a register_parquet
      source's file stamps; an incremental entity's file listing (its
      content is its load history); a table's key recorded at its last
      overwrite; a view's own key, computed the same way.

    None for a ``Registry.register`` loader source, a snapshot config
    that reads "now", SQL text that reads the clock, or a config value
    with no stable text. Call it in dependency order, after the
    dependencies' writes of this run."""
    engine = tuple(s for s in file_stamps(_ENGINE_ROOT) or ()
                   if s[0].endswith(".py"))
    memo: dict = {}

    def stored(dep):
        d = decls.get(dep)
        if d is None:
            path = reg.source_paths.get(dep)
            return None if path is None else file_stamps(path)
        if d.materialize == "view":
            return key(dep)
        if d.materialize == "incremental":
            return store.listing(dep)
        return store.recorded_key(dep)

    def compute(name):
        d = decls[name]
        fn = d.build
        mod = getattr(sys.modules.get(getattr(fn, "__module__", None)),
                      "__file__", None)
        if mod is None or _reads_now(d.cfg):
            return None
        try:
            parts = [engine, file_stamps(mod),
                     f"{fn.__module__}.{fn.__qualname__}", d.materialize,
                     _canon(d.cfg), _canon(g)]
        except (_Unknowable, AttributeError):
            return None
        for dep in d.deps:
            entry = stored(dep)
            if entry is None:
                return None
            parts.append((dep, entry))
        return hashlib.sha256(repr(parts).encode()).hexdigest()

    def key(name):
        if name not in memo:
            memo[name] = compute(name)
        return memo[name]
    return key


class _ReadLog:
    """The registry as one builder sees it: loads pass through and are
    noted, so a builder that reads a name outside its declared deps
    (which the input key does not cover) is never keyed."""

    def __init__(self, reg: Registry):
        self._reg, self.names = reg, set()

    def __getattr__(self, attr):
        return getattr(self._reg, attr)

    def load(self, spark, name: str):
        self.names.add(name)
        return self._reg.load(spark, name)


def run_pipeline(spark, decls: dict, store: ParquetStore,
                 base_registry: Registry, g: GlobalConfig = DEFAULT,
                 count_rows: bool = True, select=(), exclude=()) -> dict:
    """One load run over every declared entity; returns rows appended
    per entity. Safe to re-run: incremental entities insert nothing new
    on replay (idempotent anti-join append), and one whose input key
    (``input_keys``) and table listing equal what its last successful
    write recorded is not run at all (0 rows, no Spark job). A builder
    that reads a registry name outside its ``deps`` records no key, so
    it never skips.

    ``count_rows=False`` skips the per-entity row counts (returns None
    per entity): the count is a second action, and even with the
    persist below it costs a cache pass — a 100 TB scheduled load that
    doesn't surface counts shouldn't pay it.

    ``select``/``exclude`` (see select_nodes) rebuild only the chosen
    subtree — the dbt ``--select`` workflow: a user reloading one
    branch of a large vault must not pay the whole DAG. Skipped
    MATERIALIZED dependencies resolve to their STORED tables (what a
    selective dbt run does: upstream models are referenced, not
    rebuilt); skipped views re-register their plans (views are never
    materialized, so consuming one always recomputes it). A chosen
    node whose skipped dependency has never been materialized raises
    up front — dbt would fail the same way at reference time, but a
    plain error beats a missing-table stack trace mid-run."""
    reg = base_registry
    chosen = select_nodes(decls, select, exclude)
    # Entities a chosen plan will actually READ, walked transitively
    # THROUGH skipped views (a view re-registers its plan, which pulls
    # the view's own deps at load time) and stopping at skipped
    # materialized entities (those resolve to stored tables). Anything
    # needed that is neither stored, a view, nor chosen fails up front.
    needed: set = set()
    stack = [dep for c in chosen for dep in decls[c].deps]
    while stack:
        n = stack.pop()
        if n in needed or n in chosen or n not in decls:
            continue
        needed.add(n)
        if decls[n].materialize == "view" or not store.exists(n):
            stack.extend(decls[n].deps)
    missing = sorted(n for n in needed
                     if decls[n].materialize != "view"
                     and not store.exists(n))
    if missing:
        raise ValueError(
            f"selection needs {missing}, excluded from this run and "
            f"never materialized — widen the selection (e.g. "
            f"'+<node>') or load them first")
    key_of = input_keys(decls, store, reg, g)
    read_outside_deps: set = set()

    def build(d, **kw):
        log = _ReadLog(reg)
        df = d.build(spark, log, d.cfg, g, **kw)
        if log.names - set(d.deps):
            read_outside_deps.add(d.name)
        return df

    def keyable(name):
        # builds of this run (views included: a consumer's build loads
        # them) read only declared deps
        return name not in read_outside_deps and all(
            keyable(dep) for dep in decls[name].deps
            if dep in decls and decls[dep].materialize == "view")

    counts = {}
    for name in topo_sort(decls):
        d = decls[name]
        if name not in chosen:
            if d.materialize == "view":
                reg._invalidate(name)
                reg.spark_loaders[name] = lambda spark, d=d: build(d)
            elif store.exists(name):
                reg._invalidate(name)
                reg.spark_loaders[name] = (
                    lambda spark, s=store, n=name: s.read(n))
            continue
        if d.materialize == "view":
            # register the plan; consumers recompute it (dbt view).
            # _invalidate, not just re-register: a re-run would otherwise
            # serve the PREVIOUS run's cached view plan, whose scan
            # snapshot points at files an overwrite has since deleted
            # (FileNotFound) or misses rows this run appends (silent).
            reg._invalidate(name)
            reg.spark_loaders[name] = lambda spark, d=d: build(d)
            counts[name] = None
            continue
        exists = store.exists(name)
        key = key_of(name)
        if (d.materialize == "incremental" and exists and key is not None
                and store.recorded_key(name) == key):
            counts[name] = 0        # nothing it reads changed: no jobs
        else:
            counts[name] = _load(store, name, d, build, exists, count_rows)
            store.record_key(name, key if keyable(name) else None)
        # downstream entities read the STORED table, not the plan
        # (_invalidate also unpersists any cached copy of the old plan);
        # going through store.read keeps the pipeline storage-agnostic
        # (ParquetStore and DeltaStore plug in identically)
        reg._invalidate(name)
        reg.spark_loaders[name] = (
            lambda spark, s=store, n=name: s.read(n))
    return counts


def _load(store, name, d, build, exists, count_rows):
    """Build one materialized entity against its stored target and
    write it; returns rows written (None without ``count_rows``)."""
    target = store.read(name) if exists else None
    if d.materialize == "incremental" and target is not None:
        new = build(d, target=target)
    else:
        new = build(d)
    n = None
    if count_rows:
        # count + write are two actions over the same delta plan:
        # persist the delta (bounded: records_to_insert, not the
        # table) so the plan executes once, not twice
        new = new.persist()
    try:
        if count_rows:
            n = new.count()
        if target is not None and d.materialize == "table":
            store.overwrite(name, new)
        else:
            store.append(name, new)
    finally:
        if count_rows:
            # a failed count/write must not leave the delta cached
            # for the rest of the session
            new.unpersist()
    return n
