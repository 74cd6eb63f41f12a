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
   append records_to_insert (insert-only),
4. views (sat_v1 & co.) are re-registered, never materialized.

Scale notes: per-entity writes are independent jobs, so a scheduler can
run DAG-parallel branches concurrently; all incremental pruning (HWM +
anti-join) happens inside each entity's plan.
"""

from __future__ import annotations

from dataclasses import dataclass

from ..context import GlobalConfig, DEFAULT, Registry
from .incremental import ParquetStore


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


def run_pipeline(spark, decls: dict, store: ParquetStore,
                 base_registry: Registry, g: GlobalConfig = DEFAULT,
                 count_rows: bool = True, select=(), exclude=()) -> dict:
    """One load run over every declared entity; returns rows appended
    per entity. Safe to re-run: incremental entities insert nothing new
    on replay (idempotent anti-join append).

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
    counts = {}
    for name in topo_sort(decls):
        d = decls[name]
        if name not in chosen:
            if d.materialize == "view":
                reg._invalidate(name)
                reg.spark_loaders[name] = (
                    lambda spark, d=d: d.build(spark, reg, d.cfg, g))
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
            reg.spark_loaders[name] = (
                lambda spark, d=d: d.build(spark, reg, d.cfg, g))
            counts[name] = None
            continue
        target = store.read(name) if store.exists(name) else None
        if d.materialize == "incremental" and target is not None:
            new = d.build(spark, reg, d.cfg, g, target=target)
        else:
            new = d.build(spark, reg, d.cfg, g)
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
        counts[name] = n
        # downstream entities read the STORED table, not the plan
        # (_invalidate also unpersists any cached copy of the old plan);
        # going through store.read keeps the pipeline storage-agnostic
        # (ParquetStore and DeltaStore plug in identically)
        reg._invalidate(name)
        reg.spark_loaders[name] = (
            lambda spark, s=store, n=name: s.read(n))
    return counts
