"""yaml_metadata parity: reference-shaped YAML blocks must produce the
same results as the equivalent dataclass configs, including build-time
schema introspection (no source_schema in the YAML)."""

import dataclasses

import yaml

from datavault4dbt_spark import fixtures, yaml_api
from datavault4dbt_spark.plans.project import load_project
from datavault4dbt_spark.context import testdata_registry as make_registry
from datavault4dbt_spark.operators.stage import build_stage
from datavault4dbt_spark.operators.hub import build_hub


STAGE_YAML = """
source_model: customer
ldts: "TIMESTAMP '2024-01-01 00:00:00' + (c_custkey % 3) * INTERVAL '1' DAY"
rsrc: '!TPCH/customer'
missing_columns:
  c_extra: INT
prejoined_columns:
  n_name:
    src_table: nation
    bk: n_name
    this_column_name: c_nationkey
    ref_column_name: n_nationkey
derived_columns:
  nation_name_upper:
    value: UPPER(n_name)
    datatype: STRING
hashed_columns:
  hk_customer_h: [c_custkey]
  hk_nation_h: [c_nationkey]
  hk_customer_nation_l: [c_custkey, c_nationkey]
  hd_customer_n_s:
    is_hashdiff: true
    columns: [c_acctbal, c_mktsegment]
  hd_customer_p_s:
    is_hashdiff: true
    columns: [c_name]
"""

HUB_YAML = """
hashkey: hk_nation_h
business_keys: [n_nationkey]
source_models:
  - name: stage_nation
    bk_columns: [n_nationkey]
  - name: stage_customer
    bk_columns: [c_nationkey]
  - name: stage_supplier
    bk_columns: [s_nationkey]
"""


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


def test_stage_yaml_matches_dataclass_config(spark, sf_dir):
    fixtures.ensure_session_conf(spark)
    cfg = yaml_api.parse_stage(STAGE_YAML, name="stage_customer")
    reg = make_registry(sf_dir)
    got = build_stage(spark, reg, cfg)
    want = fixtures.entity_query("stage_customer")(spark, sf_dir)
    # YAML config introspects the FULL customer schema (8 columns vs the
    # fixture's explicit 5) — compare on the fixture's column set
    assert set(want.columns) <= set(got.columns)
    assert _rows(got.select(*want.columns)) == _rows(want)


def test_hub_yaml_multisource(spark, sf_dir):
    fixtures.ensure_session_conf(spark)
    cfg = yaml_api.parse_hub(HUB_YAML, name="hub_nation_multisource")
    reg = fixtures.registry(spark, sf_dir)
    got = build_hub(spark, reg, cfg)
    want = fixtures.entity_query("hub_nation_multisource")(spark, sf_dir)
    assert _rows(got) == _rows(want)


def test_sat_and_pit_parsers_roundtrip():
    sat = yaml_api.parse("sat_v0", """
source_model: stage_customer
parent_hashkey: hk_customer_h
src_hashdiff: hd_customer_n_s
src_payload: [c_acctbal, c_mktsegment]
""", name="sat_customer_n0_s")
    assert sat == fixtures.SATS["sat_customer_n0_s"]

    pit = yaml_api.parse("pit", """
tracked_entity: hub_customer
hashkey: hk_customer_h
sat_names: [sat_customer_n0_s, sat_customer_p0_s]
snapshot_relation: control_snap_v1
dimension_key: dimension_key
snapshot_trigger_column: is_active
""", name="pit_customer")
    assert pit == fixtures.PITS["pit_customer"]


def test_remaining_kind_parsers_roundtrip():
    """Every table macro that accepts yaml_metadata in the reference has
    a parser here; each reproduces the fixture dataclass config."""
    ma1 = yaml_api.parse("ma_sat_v1", """
sat_v0: ma_sat_customer_orders
hashkey: hk_customer_h
hashdiff: hd_order_ms
ma_attribute: [o_orderkey]
src_payload: [o_orderstatus, o_orderpriority]
add_is_current_flag: true
""", name="ma_sat_customer_orders_v1")
    assert ma1 == fixtures.MA_SATS_V1["ma_sat_customer_orders_v1"]

    rh = yaml_api.parse("ref_hub", """
ref_keys: [n_nationkey]
source_models: stage_nation
""", name="ref_hub_nation")
    assert rh == fixtures.REF_HUBS["ref_hub_nation"]

    rs0 = yaml_api.parse("ref_sat_v0", """
source_model: stage_nation
parent_ref_keys: [n_nationkey]
src_hashdiff: hd_nation_s
src_payload: [n_name, n_regionkey]
""", name="ref_sat_nation_v0")
    assert rs0 == fixtures.REF_SATS["ref_sat_nation_v0"]

    rs1 = yaml_api.parse("ref_sat_v1", """
ref_sat_v0: ref_sat_nation_v0
ref_keys: [n_nationkey]
hashdiff: hd_nation_s
src_payload: [n_name, n_regionkey]
""", name="ref_sat_nation_v1")
    assert rs1 == fixtures.REF_SATS_V1["ref_sat_nation_v1"]

    rt = yaml_api.parse("ref_table", """
ref_hub: ref_hub_nation
ref_keys: [n_nationkey]
ref_satellites:
  ref_sat_nation_v1:
    include: [n_name, n_regionkey]
historized: full
""", name="ref_table_nation")
    assert rt == fixtures.REF_TABLES["ref_table_nation"]

    s0 = yaml_api.parse("control_snap_v0", """
start_date: '2024-01-01'
daily_snapshot_time: '00:00:00'
end_date: '2024-01-31'
""", name="control_snap_v0")
    assert s0 == fixtures.SNAPS_V0["control_snap_v0"]

    s1 = yaml_api.parse("control_snap_v1", """
control_snap_v0: control_snap_v0
log_logic:
  daily: {duration: 3, unit: MONTH}
  weekly: {duration: 1, unit: YEAR}
  yearly: {forever: 'TRUE'}
current_ts: '2024-02-01 00:00:00'
""", name="control_snap_v1")
    assert s1 == fixtures.SNAPS_V1["control_snap_v1"]


def test_stage_sequence_yaml_roundtrip():
    cfg = yaml_api.parse("stage", """
source_model: events
ldts: date_trunc('hour', ts)
rsrc: '!TPCH/events'
sequence: event_id
source_schema:
  - [event_id, BIGINT]
  - [ts, TIMESTAMP]
  - [user_id, BIGINT]
  - [event_type, STRING]
  - [value, DOUBLE]
hashed_columns:
  hk_user_h: [user_id]
""", name="stage_events_seq")
    assert cfg == fixtures.STAGES["stage_events_seq"]


def test_llm_kind_yaml_roundtrip():
    """Generic dataclass parser: YAML keys map to config fields, lists
    become tuples, name comes from the file stem."""
    cfg = yaml_api.parse("minhash_lsh", """
source: documents
shingle_n: 3
num_perm: 16
bands: 4
""", name="dedup_minhash_lsh")
    assert cfg == fixtures.DEDUP_MINHASH["dedup_minhash_lsh"]

    dg = yaml_api.parse("dup_groups", "pairs_entity: dedup_minhash_lsh\n",
                        name="dedup_groups")
    assert dg == fixtures.DEDUP_GROUPS["dedup_groups"]

    q = yaml_api.parse("quality", """
source: documents
stopwords: [the, a, of, and, to, in, is]
""", name="text_quality")
    assert q == fixtures.TEXT_QUALITY["text_quality"]
    assert isinstance(q.stopwords, tuple)

    # round-8 kinds route through the same generic parser
    lm = yaml_api.parse("lm_score", "train_mod: 2\n", name="text_lm_score")
    assert lm == fixtures.LM_SCORE["text_lm_score"]
    gr = yaml_api.parse("gopher_rules", "min_words: 50\n",
                        name="gopher_rules")
    assert gr == fixtures.GOPHER["gopher_rules"]
    cs = yaml_api.parse("chunk_scrub", "chunk_chars: 60\n",
                        name="docs_chunk_scrubbed")
    assert cs == fixtures.CHUNK_SCRUB["docs_chunk_scrubbed"]
    ds = yaml_api.parse("dsir_score", "threshold_ppm: 95000\n",
                        name="dsir_score")
    assert ds == fixtures.DSIR["dsir_score"]
    bp = yaml_api.parse("boilerplate_removal", "min_docs: 2\n",
                        name="b")
    assert bp.min_chars == 5 and bp.min_docs == 2


def test_llm_kind_rejects_unknown_keys():
    import pytest
    with pytest.raises(ValueError, match="unknown yaml keys"):
        yaml_api.parse("contamination", "ngram_size: 5\n", name="c")


def test_round9_kind_parsers_roundtrip():
    # every round-9 kind routes through the generic parser and
    # reproduces the declared fixture configs exactly
    r = yaml_api.parse("grouping_sets", """
source: lineitem
group_cols: [l_returnflag, l_linestatus]
mode: rollup
sum_cents: [[sum_qty_cents, l_quantity], [sum_price_cents, l_extendedprice]]
""", name="lineitem_rollup_census")
    assert r == fixtures.ROLLUPS["lineitem_rollup_census"]

    m = yaml_api.parse("scd1_merge", """
source: lineitem
key_cols: [l_orderkey]
version_expr: l_linenumber % 3
tie_cols: [l_linenumber, l_partkey, l_suppkey]
payload_cols: [l_quantity]
""", name="lineitem_scd1_current")
    assert m == fixtures.SCD1_MERGES["lineitem_scd1_current"]

    j = yaml_api.parse("json_extract", """
source: events
json_col: props
fields: [[k_value, $.k, bigint], [missing_field, $.missing, string],
         [bad_cast, $, int]]
keep_cols: [event_id]
""", name="events_props_extracted")
    assert j == fixtures.JSON_EXTRACTS["events_props_extracted"]

    p = yaml_api.parse("pivot", """
source: documents
group_col: source
pivot_col: lang
values: [de, en, es, fr, zh]
sum_expr: n_chars
""", name="docs_source_lang_pivot")
    assert p == fixtures.PIVOTS["docs_source_lang_pivot"]

    q = yaml_api.parse("quarantine", """
source: lineitem
rules: [[qty_range, l_quantity BETWEEN 1 AND 49],
        [discount_cap, l_discount <= 0.08],
        [positive_price, l_extendedprice > 0],
        [tax_known, l_tax IS NOT NULL]]
id_cols: [l_orderkey, l_linenumber]
payload_cols: [l_returnflag]
""", name="lineitem_quarantine")
    assert q == fixtures.QUARANTINES["lineitem_quarantine"]


def _yaml_value(v):
    """``dataclasses.asdict`` output as YAML-safe values: tuples (the
    frozen configs' sequences) become lists."""
    if isinstance(v, (tuple, list)):
        return [_yaml_value(x) for x in v]
    if isinstance(v, dict):
        return {k: _yaml_value(x) for k, x in v.items()}
    return v


def test_flat_kind_fixtures_load_from_project(tmp_path):
    """Every fixture entity of every flat catalogue kind, written as a
    project file (its config as YAML, without name), loads back through
    load_project to the fixture's config, builder and dependencies."""
    idx = fixtures._index()
    kinds = {}
    for configs, kind, *_ in fixtures._FAMILIES:
        if isinstance(kind, str) and yaml_api.KINDS[kind].config:
            for name, cfg in configs.items():
                doc = {k: _yaml_value(v)
                       for k, v in dataclasses.asdict(cfg).items()
                       if k != "name"}
                (tmp_path / f"{name}.yml").write_text(
                    yaml.safe_dump({"kind": kind, **doc}))
                kinds[name] = kind
    decls = load_project(str(tmp_path))
    assert sorted(decls) == sorted(kinds)
    for name, d in decls.items():
        cfg, build, _orc, deps = idx[name]
        assert d.cfg == cfg, name
        assert d.build is build, name
        assert [x for x in d.deps if x in idx] == deps(cfg), name
        assert d.materialize == "table", name
