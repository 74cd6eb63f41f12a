"""YAML project runner — the engine's ``dbt run``.

The reference is driven as a dbt project: one model file per entity,
each calling a table macro with a ``yaml_metadata`` block; dbt resolves
the DAG from ``ref()`` calls and materializes incrementals (SURVEY §3).
This module is the equivalent front door: a directory of YAML files
(one per entity, the SAME metadata blocks the reference accepts — see
``yaml_api``) becomes a dependency-ordered incremental load.

File format (``<name>.yml``)::

    kind: hub                  # any kind in the yaml_api.KINDS catalogue
    name: hub_customer         # optional; defaults to the file stem
    materialize: incremental   # optional; kind-appropriate default
    depends_on: [stage_x]      # optional; unioned with inferred deps
    <kind-specific yaml_metadata keys, verbatim from the reference>

Dependencies are inferred from the parsed config (source models, parent
v0 entities, snapshot relations, PIT satellites) exactly like dbt
infers them from ``ref()``; ``depends_on`` covers anything declared
outside the config (e.g. a prejoin against a raw table registered in
the base registry needs no entry at all).

Scale: this is driver-side orchestration only — each entity's load is
the same single-pass incremental plan `run_pipeline` executes; nothing
here touches data.
"""

from __future__ import annotations

import os

import yaml as _yaml

from ..context import GlobalConfig, DEFAULT, Registry
from ..yaml_api import KINDS
from .incremental import ParquetStore
from .pipeline import EntityDecl, run_pipeline

# 'table' = full rebuild: run_pipeline never passes target= for it,
# matching the builders' signatures. The flat-config analytics kinds
# reject 'incremental' at project-load time (see load_project) — derived
# analytics rebuilt incrementally would silently append duplicate rows
# on rerun.
LLM_KINDS = frozenset(kind for kind, k in KINDS.items() if k.config)


def load_project(project_dir: str) -> dict:
    """Parse every ``*.yml``/``*.yaml`` in ``project_dir`` into
    EntityDecls keyed by entity name. Fails loudly on unknown kinds,
    duplicate names, or metadata the kind's parser rejects."""
    decls: dict = {}
    for fn in sorted(os.listdir(project_dir)):
        if not fn.endswith((".yml", ".yaml")):
            continue
        with open(os.path.join(project_dir, fn)) as f:
            doc = _yaml.safe_load(f) or {}
        kind = doc.pop("kind", None)
        if kind not in KINDS:
            raise ValueError(f"{fn}: unknown or missing kind {kind!r} "
                             f"(expected one of {sorted(KINDS)})")
        name = doc.pop("name", None) or os.path.splitext(fn)[0]
        if name in decls:
            raise ValueError(f"{fn}: duplicate entity name {name!r}")
        materialize = doc.pop("materialize", None)
        if kind in LLM_KINDS and materialize == "incremental":
            raise ValueError(
                f"{fn}: kind {kind!r} cannot be materialized "
                f"incrementally (derived analytics rebuild fully; an "
                f"incremental append would duplicate rows on rerun) — "
                f"drop the materialize key or use 'table'/'view'")
        declared_deps = tuple(doc.pop("depends_on", ()) or ())
        k = KINDS[kind]
        cfg = k.parse(doc, name)
        deps = tuple(dict.fromkeys(list(declared_deps) + list(k.deps(cfg))))
        decls[name] = EntityDecl(name=name, build=k.build, cfg=cfg,
                                 deps=deps,
                                 materialize=materialize or k.materialize)
    # declared dependencies must resolve to a project entity or be
    # assumed present in the base registry (raw sources) — only check
    # for obvious self-cycles here; topo_sort raises on real cycles
    return decls


def run_project(spark, project_dir: str, store: ParquetStore,
                base_registry: Registry, g: GlobalConfig = DEFAULT,
                count_rows: bool = True, select=(), exclude=()) -> dict:
    """Load the whole project once (idempotent — rerunning appends
    nothing new). Returns rows appended per entity (None for views).
    ``select``/``exclude`` forward to run_pipeline's dbt-style node
    selection (``+name`` ancestors, ``name+`` descendants, globs)."""
    decls = load_project(project_dir)
    return run_pipeline(spark, decls, store, base_registry, g,
                        count_rows=count_rows, select=select,
                        exclude=exclude)
