"""yaml_metadata front-end — the reference package's primary config
surface, accepted verbatim.

Every table macro in the reference takes a ``yaml_metadata`` string
(reference: macros/internal/metadata_processing/yaml_metadata_parser.sql:1-29;
per-macro key documentation in each dispatcher, e.g.
macros/staging/stage.sql:8-122, macros/tables/hub.sql:13-105). This
module parses those exact YAML shapes into this engine's config
dataclasses, so a datavault4dbt user can carry their metadata blocks
over unchanged:

    cfg = parse_stage('''
      source_model: source_account
      ldts: edwLoadDate
      rsrc: '!SAP.Accounts'
      hashed_columns:
        hk_account_h: [account_number]
        hd_account_s:
          is_hashdiff: true
          columns: [name, address]
    ''', name="stage_account")
    df = build_stage(spark, registry, cfg)

Source-column schemas are introspected from the registry DataFrame at
plan-build time (as dbt does via get_columns_in_relation), so the YAML
needs nothing the reference's YAML does not have.

``KINDS`` at the bottom is the kind catalogue: one row per kind with its
parser (or flat config class), builder, default materialization and
dependency rule. ``parse``, ``plans/project.py`` and the fixtures'
entity index all read it; no other table lists kinds.
"""

from __future__ import annotations

from dataclasses import dataclass, fields

import yaml

from .functions.hashing import HashSpec
from .operators.stage import (StageConfig, DerivedColumn, Prejoin,
                              MultiActiveConfig, build_stage)
from .operators.hub import HubConfig, EntitySource, build_hub
from .operators.link import LinkConfig, build_link
from .operators.sat import (SatConfig, SatV1Config, build_sat_v0,
                            build_sat_v1)
from .operators.nh import (NhSatConfig, NhLinkConfig, build_nh_sat,
                           build_nh_link)
from .operators.ma_sat import (MaSatConfig, MaSatV1Config, build_ma_sat_v0,
                               build_ma_sat_v1)
from .operators.rec_track import RecTrackConfig, build_rec_track_sat
from .operators.eff_sat import EffSatConfig, build_eff_sat_v0
from .operators.pit import PitConfig, build_pit
from .operators.bridge import BridgeConfig, BridgeLeg, build_bridge
from .operators.checks import Check, VaultChecksConfig, build_vault_checks
from .operators.ref_entities import (RefHubConfig, RefSatConfig,
                                     RefSatV1Config, RefTableConfig,
                                     build_ref_hub, build_ref_sat_v0,
                                     build_ref_sat_v1, build_ref_table)
from .operators.snapshots import (SnapV0Config, SnapV1Config, LogLogic,
                                  build_snap_v0, build_snap_v1)
from .operators import (asof, basket, compaction, diff, events, jsonx,
                        linkage, merge, pivot, quarantine, rangejoin, rollup)
from .llm import (annindex, boilerplate, chunking, contamination, curation,
                  dedup, dsir, gopher, incdedup, lineclean, lm, multimodal,
                  negatives, outliers, overlap, privacy, profile, quantize,
                  sampling, scrub, selection, semdedup, similarity,
                  substring, textstats, tfidf, urlcuration, vocab)
from .llm import sources as llm_sources
from .sources import readers


def _load(yaml_metadata) -> dict:
    if isinstance(yaml_metadata, dict):
        return dict(yaml_metadata)
    return yaml.safe_load(yaml_metadata) or {}


def _hashed_columns(d: dict) -> tuple:
    """Reference shape (stage.sql:44-54): hashkey -> [cols];
    hashdiff -> {is_hashdiff: true, columns: [...]}."""
    out = []
    for name, spec in (d or {}).items():
        if isinstance(spec, dict):
            out.append(HashSpec(name, tuple(spec["columns"]),
                                is_hashdiff=bool(spec.get("is_hashdiff"))))
        else:
            cols = (spec,) if isinstance(spec, str) else tuple(spec)
            out.append(HashSpec(name, cols))
    return tuple(out)


def _derived_columns(d: dict) -> tuple:
    """Reference shape (stage.sql:56-68): name -> {value, datatype} or
    name -> value."""
    out = []
    for name, spec in (d or {}).items():
        if isinstance(spec, dict):
            out.append(DerivedColumn(name, str(spec["value"]),
                                     str(spec.get("datatype", "STRING"))))
        else:
            out.append(DerivedColumn(name, str(spec)))
    return tuple(out)


def _prejoined_columns(d: dict) -> tuple:
    """Reference shapes (stage.sql:78-122): old syntax
    alias -> {src_table, bk, this_column_name, ref_column_name} and new
    syntax ref_model -> {ref_model/src_table, bk/extract_columns,
    this_column_name, ref_column_name} (lists allowed)."""
    joins: dict = {}
    for alias, spec in (d or {}).items():
        ref = spec.get("ref_model") or spec.get("src_table")
        this = spec["this_column_name"]
        that = spec["ref_column_name"]
        on = tuple(zip((this,) if isinstance(this, str) else tuple(this),
                       (that,) if isinstance(that, str) else tuple(that)))
        extracts = spec.get("extract_columns")
        if extracts:  # new syntax: alias key IS the ref model
            ref = ref or alias
            ext = tuple((e, e, "STRING") for e in extracts)
        else:
            ext = ((alias, spec["bk"], spec.get("datatype", "STRING")),)
        key = (ref, on)
        joins.setdefault(key, []).extend(ext)
    return tuple(Prejoin(ref, on, tuple(ext))
                 for (ref, on), ext in joins.items())


def parse_stage(yaml_metadata, name: str) -> StageConfig:
    m = _load(yaml_metadata)
    src = m["source_model"]
    if isinstance(src, dict):  # {'source_name': 'table'} -> table name
        src = next(iter(src.values()))
    ma = None
    if m.get("multi_active_config"):
        mac = m["multi_active_config"]
        keys = mac["multi_active_key"]
        ma = MultiActiveConfig(
            (keys,) if isinstance(keys, str) else tuple(keys),
            mac["main_hashkey_column"])
    return StageConfig(
        name=name, source_model=src,
        ldts=str(m.get("ldts", "current_timestamp()")),
        rsrc=str(m.get("rsrc", "!UNKNOWN")),
        source_schema=(tuple(tuple(p) for p in m["source_schema"])
                       if m.get("source_schema") else None),
        hashed_columns=_hashed_columns(m.get("hashed_columns")),
        derived_columns=_derived_columns(m.get("derived_columns")),
        prejoined_columns=_prejoined_columns(m.get("prejoined_columns")),
        missing_columns=tuple((c, t) for c, t in
                              (m.get("missing_columns") or {}).items()),
        multi_active=ma,
        enable_ghost_records=bool(m.get("enable_ghost_records", True)),
        include_source_columns=bool(m.get("include_source_columns", True)),
        sequence=m.get("sequence"),
        sequence_dtype=str(m.get("sequence_dtype", "BIGINT")))


def _sources(m, bk_key: str = "business_keys") -> tuple:
    """Reference source_models shapes (hub.sql:26-60): string, list of
    strings, or list of dicts with name/hk_column/bk_columns/rsrc_static."""
    sm = m["source_models"]
    if isinstance(sm, (str, dict)):
        sm = [sm]
    out = []
    for s in sm:
        if isinstance(s, str):
            out.append(EntitySource(s))
        else:
            bks = s.get("bk_columns")
            fks = s.get("fk_columns") or s.get("link_hashkeys")
            pay = s.get("payload")
            out.append(EntitySource(
                s["name"],
                hk_column=s.get("hk_column"),
                bk_columns=(tuple(bks) if bks else None),
                rsrc_static=s.get("rsrc_static"),
                fk_columns=(tuple(fks) if fks else None),
                payload=(tuple(pay) if pay else None)))
    return tuple(out)


def _tuple(v) -> tuple:
    if v is None:
        return ()
    return (v,) if isinstance(v, str) else tuple(v)


def parse_hub(yaml_metadata, name: str) -> HubConfig:
    m = _load(yaml_metadata)
    return HubConfig(name, m["hashkey"], _tuple(m["business_keys"]),
                     _sources(m), _tuple(m.get("additional_columns")))


def parse_link(yaml_metadata, name: str) -> LinkConfig:
    m = _load(yaml_metadata)
    return LinkConfig(name, m["link_hashkey"], _tuple(m["foreign_hashkeys"]),
                      _sources(m))


def parse_sat_v0(yaml_metadata, name: str) -> SatConfig:
    m = _load(yaml_metadata)
    return SatConfig(name, m["source_model"], m["parent_hashkey"],
                     m["src_hashdiff"],
                     hashdiff_alias=m.get("hashdiff_alias"),
                     payload=_tuple(m.get("src_payload")),
                     source_is_single_batch=bool(
                         m.get("source_is_single_batch", False)))


def parse_sat_v1(yaml_metadata, name: str) -> SatV1Config:
    m = _load(yaml_metadata)
    return SatV1Config(name, m["sat_v0"], m["parent_hashkey"],
                       m["src_hashdiff"],
                       include_payload=_tuple(m.get("include_payload")
                                              or m.get("src_payload")),
                       add_is_current_flag=bool(
                           m.get("add_is_current_flag", False)))


def parse_nh_sat(yaml_metadata, name: str) -> NhSatConfig:
    m = _load(yaml_metadata)
    return NhSatConfig(name, m["source_model"], m["parent_hashkey"],
                       _tuple(m.get("src_payload")),
                       source_is_single_batch=bool(
                           m.get("source_is_single_batch", True)))


def parse_nh_link(yaml_metadata, name: str) -> NhLinkConfig:
    m = _load(yaml_metadata)
    return NhLinkConfig(name, m["link_hashkey"], _tuple(m["foreign_hashkeys"]),
                        _tuple(m.get("payload")), _sources(m),
                        union_strategy=m.get("union_strategy", "all"),
                        source_is_single_batch=bool(
                            m.get("source_is_single_batch", True)))


def parse_ma_sat_v0(yaml_metadata, name: str) -> MaSatConfig:
    m = _load(yaml_metadata)
    return MaSatConfig(name, m["source_model"], m["parent_hashkey"],
                       m["src_hashdiff"], _tuple(m["src_ma_key"]),
                       payload=_tuple(m.get("src_payload")))


def parse_rec_track_sat(yaml_metadata, name: str) -> RecTrackConfig:
    m = _load(yaml_metadata)
    return RecTrackConfig(name, m["tracked_hashkey"], _sources(m))


def parse_eff_sat_v0(yaml_metadata, name: str) -> EffSatConfig:
    m = _load(yaml_metadata)
    return EffSatConfig(name, m["source_model"], m["tracked_hashkey"],
                        source_is_single_batch=bool(
                            m.get("source_is_single_batch", False)))


def parse_pit(yaml_metadata, name: str) -> PitConfig:
    m = _load(yaml_metadata)
    return PitConfig(name, m["tracked_entity"], m["hashkey"],
                     _tuple(m["sat_names"]), m["snapshot_relation"],
                     m.get("dimension_key", "dimension_key"),
                     snapshot_trigger_column=m.get("snapshot_trigger_column"),
                     refer_to_ghost_records=bool(
                         m.get("refer_to_ghost_records", True)),
                     custom_rsrc=m.get("custom_rsrc"),
                     pit_type=m.get("pit_type"))


def parse_bridge(yaml_metadata, name: str) -> BridgeConfig:
    """Beyond-reference (operators/bridge.py): legs are mappings with
    link_entity/link_hk/from_hk/to_hk and optional eff_sat /
    eff_active_col, in traversal order."""
    m = _load(yaml_metadata)
    legs = tuple(
        BridgeLeg(leg["link_entity"], leg["link_hk"], leg["from_hk"],
                  leg["to_hk"], eff_sat=leg.get("eff_sat", ""),
                  eff_active_col=leg.get("eff_active_col", "is_active"))
        for leg in m["legs"])
    return BridgeConfig(name, m["base_entity"], m["base_hk"],
                        m["snapshot_relation"], legs,
                        bridge_key=m.get("bridge_key", "bridge_key"),
                        snapshot_trigger_column=m.get(
                            "snapshot_trigger_column"))


def parse_vault_checks(yaml_metadata, name: str) -> VaultChecksConfig:
    """Beyond-reference (operators/checks.py): the reference doc's
    soft-constraint test table as declarative YAML — each check is a
    mapping with entity/kind/columns and, for relationship,
    to_entity [+ to_columns]."""
    m = _load(yaml_metadata)
    checks = tuple(
        Check(c["entity"], c["kind"], _tuple(c["columns"]),
              to_entity=c.get("to_entity", ""),
              to_columns=_tuple(c.get("to_columns") or ()))
        for c in m["checks"])
    return VaultChecksConfig(name, checks)


def parse_ma_sat_v1(yaml_metadata, name: str) -> MaSatV1Config:
    """reference: macros/tables/ma_sat_v1.sql:13 (sat_v0, hashkey,
    hashdiff, ma_attribute, add_is_current_flag)."""
    m = _load(yaml_metadata)
    return MaSatV1Config(name, m["sat_v0"], m["hashkey"], m["hashdiff"],
                         _tuple(m.get("ma_attribute") or m.get("src_ma_key")),
                         payload=_tuple(m.get("src_payload")),
                         add_is_current_flag=bool(
                             m.get("add_is_current_flag", False)))


def parse_ref_hub(yaml_metadata, name: str) -> RefHubConfig:
    """reference: macros/tables/ref_hub.sql:1 (ref_keys, source_models,
    additional_columns)."""
    m = _load(yaml_metadata)
    return RefHubConfig(name, _tuple(m["ref_keys"]), _sources(m),
                        _tuple(m.get("additional_columns")))


def parse_ref_sat_v0(yaml_metadata, name: str) -> RefSatConfig:
    """reference: macros/tables/ref_sat_v0.sql:1 (parent_ref_keys,
    src_hashdiff, src_payload, source_model, source_is_single_batch)."""
    m = _load(yaml_metadata)
    return RefSatConfig(name, m["source_model"],
                        _tuple(m["parent_ref_keys"]), m["src_hashdiff"],
                        payload=_tuple(m.get("src_payload")),
                        source_is_single_batch=bool(
                            m.get("source_is_single_batch", False)))


def parse_ref_sat_v1(yaml_metadata, name: str) -> RefSatV1Config:
    """reference: macros/tables/ref_sat_v1.sql:1 (ref_sat_v0, ref_keys,
    hashdiff, add_is_current_flag)."""
    m = _load(yaml_metadata)
    return RefSatV1Config(name, m["ref_sat_v0"], _tuple(m["ref_keys"]),
                          m["hashdiff"],
                          payload=_tuple(m.get("src_payload")
                                         or m.get("payload")),
                          add_is_current_flag=bool(
                              m.get("add_is_current_flag", False)))


def parse_ref_table(yaml_metadata, name: str) -> RefTableConfig:
    """reference: macros/tables/ref_table.sql:1 (ref_hub,
    ref_satellites — string | list | {sat: {include: [...]}} —
    historized, snapshot_relation)."""
    m = _load(yaml_metadata)
    sats = m["ref_satellites"]
    if isinstance(sats, str):
        sats = [sats]
    parsed = []
    if isinstance(sats, dict):
        for sat, spec in sats.items():
            inc = tuple((spec or {}).get("include") or ())
            parsed.append((sat, inc))
    else:
        for s in sats:
            if isinstance(s, dict):  # [{sat: {include: [...]}}]
                ((sat, spec),) = s.items()
                parsed.append((sat, tuple((spec or {}).get("include") or ())))
            else:
                parsed.append((s, ()))
    return RefTableConfig(name, m["ref_hub"], _tuple(m["ref_keys"]),
                          tuple(parsed),
                          historized=m.get("historized", "latest"),
                          snapshot_relation=m.get("snapshot_relation"))


def parse_control_snap_v0(yaml_metadata, name: str) -> SnapV0Config:
    """reference: macros/tables/control_snap_v0.sql:51 (start_date,
    daily_snapshot_time, end_date)."""
    m = _load(yaml_metadata)
    return SnapV0Config(name, str(m["start_date"]),
                        str(m.get("daily_snapshot_time", "00:00:00")),
                        end_date=(str(m["end_date"])
                                  if m.get("end_date") else None))


def _log_logic(spec: dict | None, trigger_col: str) -> dict | None:
    """reference log_logic YAML (control_snap_v1.sql:55-68):
    {daily: {duration: 3, unit: MONTH}, yearly: {forever: TRUE}} —
    one implicit trigger column; a nested {col: {...}} form selects
    explicit trigger columns."""
    if spec is None:
        return None
    units = {"daily", "weekly", "monthly", "yearly"}

    def one(d: dict) -> LogLogic:
        kw = {}
        for unit, rule in d.items():
            if str(rule.get("forever", "")).upper() in ("TRUE", "1"):
                kw[unit] = ("forever",)
            else:
                kw[unit] = (str(rule["duration"]), str(rule["unit"]))
        return LogLogic(**kw)

    if set(spec) <= units:
        return {trigger_col: one(spec)}
    return {col: one(d) for col, d in spec.items()}


def parse_control_snap_v1(yaml_metadata, name: str,
                          trigger_col: str = "is_active") -> SnapV1Config:
    """reference: macros/tables/control_snap_v1.sql:31
    (control_snap_v0, log_logic)."""
    m = _load(yaml_metadata)
    return SnapV1Config(name, m["control_snap_v0"],
                        log_logic=_log_logic(m.get("log_logic"), trigger_col),
                        current_ts=m.get("current_ts"))


def _dataclass_parser(cls):
    """Generic YAML parser for the flat LLM-operator configs: every
    YAML key must be a dataclass field; YAML lists become tuples
    (recursively) to satisfy frozen-dataclass hashing. Unknown keys
    fail loudly — a typo'd knob must not silently keep its default."""
    field_names = {f.name for f in fields(cls)} - {"name"}

    def _to_tuple(v):
        if isinstance(v, list):
            return tuple(_to_tuple(x) for x in v)
        return v

    def parse_fn(yaml_metadata, name: str):
        m = _load(yaml_metadata)
        unknown = set(m) - field_names
        if unknown:
            raise ValueError(
                f"{cls.__name__}: unknown yaml keys {sorted(unknown)} "
                f"(expected a subset of {sorted(field_names)})")
        return cls(name=name, **{k: _to_tuple(v) for k, v in m.items()})

    return parse_fn


def _snap_v0_build(spark, reg, cfg, g, **_kw):
    # build_snap_v0 takes no registry (pure generated spine)
    return build_snap_v0(spark, cfg, g)


@dataclass(frozen=True)
class Kind:
    """One catalogue row: everything the engine knows about a kind."""

    parse: callable          # (yaml_metadata, name) -> config
    build: callable          # (spark, reg, cfg, g, **kw) -> DataFrame
    materialize: str         # default: 'incremental' | 'table' | 'view'
    deps: callable           # config -> names it reads (dbt's ref() calls)
    config: type = None      # flat config class, parsed generically


def _reads_source_models(c) -> list:
    return [s.name for s in c.source_models]


def _reads_source(c) -> list:
    return [c.source]


def _flat(cls, build, deps=_reads_source) -> Kind:
    """A training-data / analytics operator: a flat config parsed by
    ``_dataclass_parser``, materialized as a full-rebuild table
    (rerunning a project recomputes it from current inputs — dedup or
    quality output is not incremental by nature)."""
    return Kind(_dataclass_parser(cls), build, "table", deps, cls)


# The kind catalogue: the one place a kind is declared. yaml_api.parse,
# plans/project.load_project and the fixtures' entity index all read it.
# Materialization defaults mirror the reference's dbt_project.yml:
# stages and virtual end-dating (v1) entities are views, the snapshot
# spine is a (small) table, every other vault entity loads
# incrementally.
KINDS = {
    "stage": Kind(parse_stage, build_stage, "view",
                  lambda c: [c.source_model]
                  + [p.ref_model for p in c.prejoined_columns]),
    "hub": Kind(parse_hub, build_hub, "incremental", _reads_source_models),
    "link": Kind(parse_link, build_link, "incremental", _reads_source_models),
    "sat_v0": Kind(parse_sat_v0, build_sat_v0, "incremental",
                   lambda c: [c.source_model]),
    "sat_v1": Kind(parse_sat_v1, build_sat_v1, "view", lambda c: [c.sat_v0]),
    "nh_sat": Kind(parse_nh_sat, build_nh_sat, "incremental",
                   lambda c: [c.source_model]),
    "nh_link": Kind(parse_nh_link, build_nh_link, "incremental",
                    _reads_source_models),
    "ma_sat_v0": Kind(parse_ma_sat_v0, build_ma_sat_v0, "incremental",
                      lambda c: [c.source_model]),
    "ma_sat_v1": Kind(parse_ma_sat_v1, build_ma_sat_v1, "view",
                      lambda c: [c.ma_sat_v0]),
    "rec_track_sat": Kind(parse_rec_track_sat, build_rec_track_sat,
                          "incremental", _reads_source_models),
    "eff_sat_v0": Kind(parse_eff_sat_v0, build_eff_sat_v0, "incremental",
                       lambda c: [c.source_model]),
    "ref_hub": Kind(parse_ref_hub, build_ref_hub, "incremental",
                    _reads_source_models),
    "ref_sat_v0": Kind(parse_ref_sat_v0, build_ref_sat_v0, "incremental",
                       lambda c: [c.source_model]),
    "ref_sat_v1": Kind(parse_ref_sat_v1, build_ref_sat_v1, "view",
                       lambda c: [c.ref_sat_v0]),
    "ref_table": Kind(parse_ref_table, build_ref_table, "view",
                      lambda c: [c.ref_hub] + [s for s, _ in c.ref_satellites]
                      + ([c.snapshot_relation] if c.snapshot_relation
                         else [])),
    "control_snap_v0": Kind(parse_control_snap_v0, _snap_v0_build, "table",
                            lambda c: []),
    "control_snap_v1": Kind(parse_control_snap_v1, build_snap_v1, "view",
                            lambda c: [c.snap_v0]),
    "pit": Kind(parse_pit, build_pit, "incremental",
                lambda c: [c.tracked_entity, c.snapshot_relation]
                + list(c.sat_names)),
    "bridge": Kind(parse_bridge, build_bridge, "incremental",
                   lambda c: [c.base_entity, c.snapshot_relation]
                   + [leg.link_entity for leg in c.legs]
                   + [leg.eff_sat for leg in c.legs if leg.eff_sat]),
    # the dbt-test analogue runs AFTER its checked entities; a rerun
    # rebuilds the report (table, never incremental). Deps are a sorted
    # SET: per-check multiplicity would make the fixtures persist
    # entities named by several checks, and each check branch prunes to
    # 1-2 columns while a cache materializes all of them (measured
    # 2.59 -> 2.97 s min-of-4 at sf0.1 with those persists on).
    "vault_checks": Kind(parse_vault_checks, build_vault_checks, "table",
                         lambda c: sorted({ch.entity for ch in c.checks}
                                          | {ch.to_entity for ch in c.checks
                                             if ch.to_entity})),
    "exact_dedup": _flat(dedup.ExactDedupConfig, dedup.build_exact_dedup),
    "minhash_lsh": _flat(dedup.MinHashLshConfig, dedup.build_minhash_lsh),
    "simhash_dedup": _flat(dedup.SimHashConfig, dedup.build_simhash_dedup),
    "ngram_jaccard": _flat(dedup.NgramJaccardConfig,
                           dedup.build_ngram_jaccard),
    "embedding_cosine": _flat(dedup.EmbeddingCosineConfig,
                              dedup.build_embedding_cosine),
    "dup_groups": _flat(dedup.DupGroupsConfig, dedup.build_dup_groups,
                        lambda c: [c.pairs_entity]),
    "ann_topk": _flat(similarity.AnnConfig, similarity.build_ann_topk),
    "ann_ivf": _flat(similarity.IvfConfig, similarity.build_ann_ivf),
    # stages its index store internally; the RESULT is a full rebuild
    "ann_index": _flat(annindex.AnnIndexConfig,
                       annindex.build_ann_index_persisted),
    "langid": _flat(textstats.LangIdConfig, textstats.build_langid),
    "quality": _flat(textstats.QualityConfig, textstats.build_quality),
    "token_count": _flat(textstats.TokenCountConfig,
                         textstats.build_token_count),
    "fingerprint": _flat(textstats.FingerprintConfig,
                         textstats.build_fingerprint),
    "multimodal": _flat(multimodal.MultimodalConfig,
                        multimodal.build_multimodal_features),
    "multimodal_decode": _flat(multimodal.MultimodalDecodeConfig,
                               multimodal.build_multimodal_decode),
    "frame_sample": _flat(multimodal.MultimodalFrameSampleConfig,
                          multimodal.build_multimodal_framesample),
    "image_resize": _flat(multimodal.MultimodalResizeConfig,
                          multimodal.build_multimodal_resize),
    "wav_decode": _flat(multimodal.WavDecodeConfig,
                        multimodal.build_wav_decode),
    "wav_stats": _flat(multimodal.WavStatsConfig,
                       multimodal.build_wav_stats),
    "ulaw_stats": _flat(multimodal.UlawStatsConfig,
                        multimodal.build_ulaw_stats),
    "png_decode": _flat(multimodal.PngDecodeConfig,
                        multimodal.build_png_decode),
    "gif_frames": _flat(multimodal.GifFramesConfig,
                        multimodal.build_gif_frames),
    "curation": _flat(curation.CurationConfig, curation.build_curation,
                      lambda c: [c.quality_entity, c.langid_entity]
                      + ([c.canonical_entity] if c.canonical_entity
                         else [c.dedup_entity])
                      + ([c.repetition_entity] if c.repetition_entity
                         else [])),
    "dedup_report": _flat(curation.DedupReportConfig,
                          curation.build_dedup_report,
                          lambda c: [c.langid_entity, c.quality_entity,
                                     c.groups_entity]),
    "contamination": _flat(contamination.ContaminationConfig,
                           contamination.build_contamination),
    "decontaminate": _flat(contamination.ContaminationConfig,
                           contamination.build_decontaminated),
    "repetition": _flat(scrub.RepetitionConfig, scrub.build_repetition),
    "pii_redact": _flat(scrub.PiiRedactConfig, scrub.build_pii_redact),
    "dataset_mix": _flat(sampling.DatasetMixConfig,
                         sampling.build_dataset_mix),
    "sequence_packing": _flat(sampling.SequencePackingConfig,
                              sampling.build_sequence_packing),
    "packing_manifest": _flat(sampling.PackingManifestConfig,
                              sampling.build_packing_manifest),
    "corpus_shuffle": _flat(sampling.CorpusShuffleConfig,
                            sampling.build_corpus_shuffle),
    "temperature_mix": _flat(sampling.TemperatureMixConfig,
                             sampling.build_temperature_mix),
    "exact_sample": _flat(sampling.ExactSampleConfig,
                          sampling.build_exact_sample),
    "proportional_sample": _flat(sampling.ProportionalSampleConfig,
                                 sampling.build_proportional_sample),
    "semdedup": _flat(semdedup.SemDedupConfig, semdedup.build_semdedup),
    "scalar_quantize": _flat(quantize.ScalarQuantizeConfig,
                             quantize.build_scalar_quantize),
    "substring_dup": _flat(substring.SubstringDupConfig,
                           substring.build_substring_dup),
    "tfidf": _flat(tfidf.TfidfConfig, tfidf.build_tfidf),
    "source_stats": _flat(llm_sources.SourceStatsConfig,
                          llm_sources.build_source_stats),
    "source_gate": _flat(llm_sources.SourceGateConfig,
                         llm_sources.build_source_gate,
                         lambda c: [c.stats_entity]),
    "token_budget": _flat(llm_sources.TokenBudgetConfig,
                          llm_sources.build_token_budget),
    "doc_chunks": _flat(chunking.ChunkConfig, chunking.build_doc_chunks),
    "chunk_dedup": _flat(chunking.ChunkDedupConfig,
                         chunking.build_chunk_dedup,
                         lambda c: [c.chunks_entity]),
    "chunk_scrub": _flat(chunking.ChunkScrubConfig,
                         chunking.build_chunk_scrub),
    "lm_score": _flat(lm.BigramLmConfig, lm.build_lm_score),
    "ccnet_buckets": _flat(lm.CcnetBucketsConfig, lm.build_ccnet_buckets,
                           lambda c: [c.source, c.score_entity]),
    "vocab_topk": _flat(vocab.VocabTopkConfig, vocab.build_vocab_topk),
    "grouped_vocab": _flat(vocab.GroupedVocabConfig,
                           vocab.build_grouped_vocab),
    "gopher_rules": _flat(gopher.GopherRulesConfig,
                          gopher.build_gopher_rules),
    "boilerplate_removal": _flat(boilerplate.BoilerplateConfig,
                                 boilerplate.build_boilerplate_removal),
    "dsir_score": _flat(dsir.DsirConfig, dsir.build_dsir_score),
    "dataset_profile": _flat(profile.ProfileConfig,
                             profile.build_dataset_profile),
    "grouped_quantiles": _flat(profile.GroupedQuantilesConfig,
                               profile.build_grouped_quantiles),
    "heavy_hitters": _flat(profile.HeavyHittersConfig,
                           profile.build_heavy_hitters),
    "histogram": _flat(profile.HistogramConfig, profile.build_histogram),
    "sufficient_stats": _flat(profile.SufficientStatsConfig,
                              profile.build_sufficient_stats),
    "trending_topk": _flat(profile.TrendingConfig,
                           profile.build_trending_topk),
    "profile_drift": _flat(profile.ProfileDriftConfig,
                           profile.build_profile_drift),
    "line_clean": _flat(lineclean.LineCleanConfig,
                        lineclean.build_line_clean),
    "text_normalize": _flat(lineclean.TextNormalizeConfig,
                            lineclean.build_text_normalize),
    "canonical_selection": _flat(selection.CanonicalConfig,
                                 selection.build_canonical_selection,
                                 lambda c: [c.groups_entity,
                                            c.quality_entity]),
    "stratified_split": _flat(selection.StratifiedSplitConfig,
                              selection.build_stratified_split),
    "source_cap": _flat(selection.SourceCapConfig,
                        selection.build_source_cap,
                        lambda c: [c.source, c.quality_entity]),
    "quantile_gate": _flat(selection.QuantileGateConfig,
                           selection.build_quantile_gate),
    "percentile_rank": _flat(selection.PercentileRankConfig,
                             selection.build_percentile_rank),
    "kfold": _flat(selection.KFoldConfig, selection.build_kfold),
    # runs its own store loop internally; as a project entity the
    # RESULT is still a full-rebuild table (the internal index is
    # scratch state, not the materialization)
    "incremental_dedup": _flat(incdedup.IncrementalDedupConfig,
                               incdedup.build_incremental_dedup),
    "source_overlap": _flat(overlap.SourceOverlapConfig,
                            overlap.build_source_overlap),
    "k_anonymity": _flat(privacy.KAnonymityConfig,
                         privacy.build_k_anonymity),
    "url_gate": _flat(urlcuration.UrlGateConfig, urlcuration.build_url_gate),
    "tukey_outliers": _flat(outliers.TukeyOutlierConfig,
                            outliers.build_tukey_outliers),
    "negative_samples": _flat(negatives.NegativeSamplesConfig,
                              negatives.build_negative_samples),
    "asof_join": _flat(asof.AsofJoinConfig, asof.build_asof_join,
                       lambda c: [c.left_entity, c.right_entity]),
    "sessionize": _flat(events.SessionizeConfig, events.build_sessionize),
    "funnel": _flat(events.FunnelConfig, events.build_funnel),
    "cohort_retention": _flat(events.CohortRetentionConfig,
                              events.build_cohort_retention),
    "hopping_agg": _flat(events.HoppingAggConfig, events.build_hopping_agg),
    "transition_matrix": _flat(events.TransitionMatrixConfig,
                               events.build_transition_matrix),
    "locf": _flat(events.LocfConfig, events.build_locf),
    "rolling_agg": _flat(events.RollingAggConfig, events.build_rolling_agg),
    "ohlc_bars": _flat(events.OhlcBarsConfig, events.build_ohlc_bars),
    "attribution": _flat(events.AttributionConfig,
                         events.build_attribution),
    "conversion_paths": _flat(events.ConversionPathConfig,
                              events.build_conversion_paths),
    "active_users": _flat(events.ActiveUsersConfig,
                          events.build_active_users),
    "table_diff": _flat(diff.TableDiffConfig, diff.build_table_diff,
                        lambda c: [c.left_entity, c.right_entity]),
    "interval_join": _flat(rangejoin.IntervalJoinConfig,
                           rangejoin.build_interval_join,
                           lambda c: [c.points_entity, c.intervals_entity]),
    "grouping_sets": _flat(rollup.GroupingSetsConfig,
                           rollup.build_grouping_sets),
    # runs its own store loop internally; the RESULT is a full rebuild
    # (the incremental_dedup note above applies)
    "scd1_merge": _flat(merge.Scd1MergeConfig, merge.build_scd1_merge),
    "json_extract": _flat(jsonx.JsonExtractConfig, jsonx.build_json_extract),
    "pivot": _flat(pivot.PivotConfig, pivot.build_pivot),
    "quarantine": _flat(quarantine.QuarantineConfig,
                        quarantine.build_quarantine),
    "blocked_linkage": _flat(linkage.BlockedLinkageConfig,
                             linkage.build_blocked_linkage),
    "cooccurrence": _flat(basket.CooccurrenceConfig,
                          basket.build_cooccurrence),
    # both stage scratch copies internally; the RESULT is a full
    # rebuild (the incremental_dedup note above applies)
    "compaction": _flat(compaction.CompactionConfig,
                        compaction.build_compaction),
    "partitioned_roundtrip": _flat(readers.PartitionedRoundtripConfig,
                                   readers.build_partitioned_roundtrip),
}

PARSERS = {kind: k.parse for kind, k in KINDS.items()}


def parse(kind: str, yaml_metadata, name: str):
    """Generic entry: parse(kind, yaml_metadata, name) -> config."""
    return KINDS[kind].parse(yaml_metadata, name)
