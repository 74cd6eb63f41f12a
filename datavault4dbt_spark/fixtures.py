"""Declared Data Vault model over the driver's TPC-H-ish testdata.

Mirrors the reference's canonical test model (reference:
macros/rehashing/rehash_all_rdv_entities.sql:17-129) per FIXTURES.md:
stage configs per source table, hubs/links/satellites on top. Each
entity here yields BOTH a Spark plan and DuckDB oracle SQL from one
config — these are the driver's t2 correctness queries.

ldts derivation is deterministic (FIXTURES.md §1): three daily batches
keyed on the primary key modulo 3, so incremental/multi-batch semantics
are exercised by construction.
"""

from __future__ import annotations

from .context import (DEFAULT, SESSION_CONFS, TESTDATA_DUCKDB, Registry,
                      testdata_registry)
from .functions.hashing import HashSpec
from .operators.stage import (StageConfig, DerivedColumn, Prejoin,
                              MultiActiveConfig, stage_oracle)
from .operators.hub import HubConfig, EntitySource, hub_oracle
from .operators.link import LinkConfig, link_oracle
from .operators.sat import SatConfig, SatV1Config, sat_v0_oracle, sat_v1_oracle
from .operators.nh import (NhSatConfig, NhLinkConfig, nh_sat_oracle,
                           nh_link_oracle)
from .operators.ma_sat import (MaSatConfig, MaSatV1Config, ma_sat_v0_oracle,
                               ma_sat_v1_oracle)
from .operators.rec_track import RecTrackConfig, rec_track_oracle
from .operators.eff_sat import EffSatConfig, eff_sat_v0_oracle
from .operators.ref_entities import (RefHubConfig, RefSatConfig,
                                     RefSatV1Config, RefTableConfig,
                                     ref_hub_oracle, ref_sat_v0_oracle,
                                     ref_sat_v1_oracle, ref_table_oracle)
from .operators.snapshots import (SnapV0Config, SnapV1Config, LogLogic,
                                  snap_v0_oracle, snap_v1_oracle)
from .operators.pit import PitConfig, pit_oracle
from .operators.bridge import BridgeConfig, BridgeLeg, bridge_oracle
from .operators.linkage import BlockedLinkageConfig, blocked_linkage_oracle
from .operators.basket import CooccurrenceConfig, cooccurrence_oracle
from .operators.bundle import (BundleConfig, BundleMember, build_bundle,
                               bundle_oracle, UnionBundleConfig,
                               build_union_bundle, union_bundle_oracle)
from .plans.replay import (ReplayConfig, ReplayMember, run_replay,
                           replay_oracle)
from .llm.dedup import (ExactDedupConfig, MinHashLshConfig, SimHashConfig,
                        NgramJaccardConfig, EmbeddingCosineConfig,
                        DupGroupsConfig, exact_dedup_oracle,
                        minhash_lsh_oracle, simhash_dedup_oracle,
                        ngram_jaccard_oracle, embedding_cosine_oracle,
                        dup_groups_oracle)
from .llm.contamination import (ContaminationConfig, contamination_oracle,
                                contamination_gate_oracle,
                                build_decontaminated)
from .llm.similarity import (AnnConfig, ann_topk_oracle, IvfConfig,
                             ann_ivf_oracle)
from .llm.textstats import (LangIdConfig, QualityConfig, TokenCountConfig,
                            FingerprintConfig, langid_oracle, quality_oracle,
                            token_count_oracle, fingerprint_oracle)
from .llm.multimodal import (MultimodalConfig, MultimodalDecodeConfig,
                             multimodal_oracle, multimodal_decode_oracle,
                             MultimodalFrameSampleConfig,
                             multimodal_framesample_oracle,
                             MultimodalResizeConfig, multimodal_resize_oracle,
                             WavDecodeConfig, wav_decode_oracle,
                             WavStatsConfig, wav_stats_oracle, UlawStatsConfig,
                             ulaw_stats_oracle, PngDecodeConfig,
                             png_decode_oracle, GifFramesConfig,
                             gif_frames_oracle)
from .llm.scrub import (RepetitionConfig, PiiRedactConfig, repetition_oracle,
                        pii_redact_oracle)
from .llm.sampling import (DatasetMixConfig, SequencePackingConfig,
                           PackingManifestConfig, dataset_mix_oracle,
                           sequence_packing_oracle, packing_manifest_oracle,
                           CorpusShuffleConfig, corpus_shuffle_oracle,
                           TemperatureMixConfig, temperature_mix_oracle,
                           TemperatureResampleConfig,
                           build_temperature_resample,
                           temperature_resample_oracle, ExactSampleConfig,
                           exact_sample_oracle, ProportionalSampleConfig,
                           proportional_sample_oracle)
from .llm.annindex import AnnIndexConfig, ann_index_persisted_oracle
from .llm.semdedup import SemDedupConfig, semdedup_oracle
from .llm.quantize import ScalarQuantizeConfig, scalar_quantize_oracle
from .llm.substring import SubstringDupConfig, substring_dup_oracle
from .llm.tfidf import TfidfConfig, tfidf_oracle
from .llm.sources import (SourceStatsConfig, SourceGateConfig,
                          source_stats_oracle, source_gate_oracle,
                          TokenBudgetConfig, token_budget_oracle)
from .llm.chunking import (ChunkConfig, ChunkDedupConfig, ChunkScrubConfig,
                           doc_chunks_oracle, chunk_dedup_oracle,
                           chunk_scrub_oracle)
from .llm.lm import (BigramLmConfig, lm_score_oracle, CcnetBucketsConfig,
                     ccnet_buckets_oracle)
from .llm.vocab import (VocabTopkConfig, vocab_topk_oracle, GroupedVocabConfig,
                        grouped_vocab_oracle)
from .llm.overlap import SourceOverlapConfig, source_overlap_oracle
from .llm.gopher import GopherRulesConfig, gopher_rules_oracle
from .llm.boilerplate import BoilerplateConfig, boilerplate_removal_oracle
from .llm.dsir import DsirConfig, dsir_score_oracle
from .llm.classifier import (QualityClassifierConfig,
                             build_quality_classifier,
                             quality_classifier_oracle)
from .llm.profile import (ProfileConfig, dataset_profile_oracle,
                          GroupedQuantilesConfig, grouped_quantiles_oracle,
                          HeavyHittersConfig, heavy_hitters_oracle,
                          HistogramConfig, histogram_oracle,
                          SufficientStatsConfig, sufficient_stats_oracle)
from .llm.lineclean import LineCleanConfig, line_clean_oracle
from .llm.curation import (CurationConfig, DedupReportConfig, curation_oracle,
                           dedup_report_oracle)
from .llm.incdedup import IncrementalDedupConfig, incremental_dedup_oracle
from .streaming.incdedup import (StreamingDedupEntityConfig,
                                 build_streaming_incremental_dedup,
                                 streaming_incremental_dedup_oracle)
from .streaming.stateful import (StreamingSessionEntityConfig,
                                 build_streaming_sessions,
                                 streaming_sessions_oracle,
                                 StreamingFunnelEntityConfig,
                                 build_streaming_funnel,
                                 streaming_funnel_oracle)
from .streaming.ohlc import (OhlcStreamEntityConfig,
                             build_streaming_ohlc,
                             streaming_ohlc_oracle)
from .streaming.scd1 import build_streaming_scd1
from .streaming.ingest import (StreamingVaultIngestEntityConfig,
                               build_streaming_vault_ingest,
                               StreamingHoppingEntityConfig,
                               build_streaming_hopping,
                               streaming_hopping_oracle)
from .streaming.dropdup import (StreamingDropDupEntityConfig,
                                build_streaming_dropdup,
                                streaming_dropdup_oracle)
from .operators.maintenance import (PitCleanupConfig, build_pit_cleanup,
                                    pit_cleanup_oracle)
from .llm.selection import (CanonicalConfig, StratifiedSplitConfig,
                            SourceCapConfig, canonical_selection_oracle,
                            stratified_split_oracle, source_cap_oracle,
                            QuantileGateConfig, quantile_gate_oracle,
                            PercentileRankConfig, percentile_rank_oracle,
                            KFoldConfig, kfold_oracle)
from .operators.asof import AsofJoinConfig, asof_join_oracle
from .operators.events import (SessionizeConfig, HoppingAggConfig,
                               sessionize_oracle, hopping_agg_oracle,
                               FunnelConfig, funnel_oracle,
                               CohortRetentionConfig, cohort_retention_oracle,
                               TransitionMatrixConfig,
                               transition_matrix_oracle, LocfConfig,
                               locf_oracle, RollingAggConfig,
                               rolling_agg_oracle, OhlcBarsConfig,
                               ohlc_bars_oracle, AttributionConfig,
                               attribution_oracle, ConversionPathConfig,
                               conversion_paths_oracle, ActiveUsersConfig,
                               active_users_oracle)
from .operators.diff import TableDiffConfig, table_diff_oracle
from .operators.rangejoin import IntervalJoinConfig, interval_join_oracle
from .operators.checks import Check, VaultChecksConfig, vault_checks_oracle
from .operators.rollup import GroupingSetsConfig, grouping_sets_oracle
from .operators.merge import Scd1MergeConfig, scd1_merge_oracle
from .operators.jsonx import JsonExtractConfig, json_extract_oracle
from .operators.pivot import PivotConfig, pivot_oracle
from .operators.quarantine import QuarantineConfig, quarantine_oracle
from .sources.readers import (SourceRoundtripConfig, build_source_roundtrip,
                              source_roundtrip_oracle,
                              PartitionedRoundtripConfig,
                              partitioned_roundtrip_oracle)
from .llm.privacy import KAnonymityConfig, k_anonymity_oracle
from .llm.urlcuration import UrlGateConfig, url_gate_oracle
from .llm.outliers import TukeyOutlierConfig, tukey_outliers_oracle
from .llm.negatives import NegativeSamplesConfig, negative_samples_oracle
from .llm.profile import ProfileDriftConfig, profile_drift_oracle
from .operators.compaction import CompactionConfig, compaction_oracle
from .llm.profile import TrendingConfig, trending_topk_oracle
from .llm.lineclean import TextNormalizeConfig, text_normalize_oracle
from .plans.sqlbuild import SqlBuilder
from .yaml_api import KINDS

G = DEFAULT


def _batched(key: str) -> str:
    """3 deterministic daily batches — valid in Spark SQL and DuckDB."""
    return f"TIMESTAMP '2024-01-01 00:00:00' + ({key} % 3) * INTERVAL '1' DAY"


STAGES = {
    "stage_customer": StageConfig(
        name="stage_customer", source_model="customer",
        ldts=_batched("c_custkey"), rsrc="!TPCH/customer",
        source_schema=(("c_custkey", "BIGINT"), ("c_name", "STRING"),
                       ("c_nationkey", "INT"), ("c_acctbal", "DOUBLE"),
                       ("c_mktsegment", "STRING")),
        missing_columns=(("c_extra", "INT"),),
        prejoined_columns=(Prejoin("nation", (("c_nationkey", "n_nationkey"),),
                                   (("n_name", "n_name", "STRING"),)),),
        derived_columns=(DerivedColumn("nation_name_upper", "UPPER(n_name)", "STRING"),),
        hashed_columns=(
            HashSpec("hk_customer_h", ("c_custkey",)),
            HashSpec("hk_nation_h", ("c_nationkey",)),
            HashSpec("hk_customer_nation_l", ("c_custkey", "c_nationkey")),
            HashSpec("hd_customer_n_s", ("c_acctbal", "c_mktsegment"), is_hashdiff=True),
            HashSpec("hd_customer_p_s", ("c_name",), is_hashdiff=True),
        )),
    "stage_region": StageConfig(
        name="stage_region", source_model="region",
        ldts="TIMESTAMP '2024-01-01 00:00:00'", rsrc="!TPCH/region",
        source_schema=(("r_regionkey", "INT"), ("r_name", "STRING")),
        hashed_columns=(
            HashSpec("hk_region_h", ("r_regionkey",)),
            HashSpec("hd_region_s", ("r_name",), is_hashdiff=True),
        )),
    "stage_nation": StageConfig(
        name="stage_nation", source_model="nation",
        ldts="TIMESTAMP '2024-01-01 00:00:00'", rsrc="!TPCH/nation",
        source_schema=(("n_nationkey", "INT"), ("n_name", "STRING"),
                       ("n_regionkey", "INT")),
        hashed_columns=(
            HashSpec("hk_nation_h", ("n_nationkey",)),
            HashSpec("hd_nation_s", ("n_name", "n_regionkey"), is_hashdiff=True),
        )),
    "stage_supplier": StageConfig(
        name="stage_supplier", source_model="supplier",
        ldts=_batched("s_suppkey"), rsrc="!TPCH/supplier",
        source_schema=(("s_suppkey", "BIGINT"), ("s_name", "STRING"),
                       ("s_nationkey", "INT"), ("s_acctbal", "DOUBLE")),
        hashed_columns=(
            HashSpec("hk_supplier_h", ("s_suppkey",)),
            HashSpec("hk_nation_h", ("s_nationkey",)),
            HashSpec("hk_supplier_nation_l", ("s_suppkey", "s_nationkey")),
            HashSpec("hd_supplier_s", ("s_acctbal",), is_hashdiff=True),
        )),
    "stage_part": StageConfig(
        name="stage_part", source_model="part",
        ldts=_batched("p_partkey"), rsrc="!TPCH/part",
        source_schema=(("p_partkey", "BIGINT"), ("p_name", "STRING"),
                       ("p_brand", "STRING"), ("p_type", "STRING"),
                       ("p_size", "INT"), ("p_retailprice", "DOUBLE")),
        hashed_columns=(
            HashSpec("hk_part_h", ("p_partkey",)),
            HashSpec("hd_part_s", ("p_brand", "p_type", "p_size", "p_retailprice"),
                     is_hashdiff=True),
        )),
    # multi-active stage: orders grouped under their customer per batch
    # (reference MA pattern: macros/staging/databricks/stage.sql:391-444)
    "stage_orders": StageConfig(
        name="stage_orders", source_model="orders",
        ldts=_batched("o_orderkey"), rsrc="!TPCH/orders",
        source_schema=(("o_orderkey", "BIGINT"), ("o_custkey", "BIGINT"),
                       ("o_orderstatus", "STRING"), ("o_totalprice", "DOUBLE"),
                       ("o_orderdate", "TIMESTAMP"), ("o_orderpriority", "STRING")),
        # FLOOR first: Spark's double->int cast truncates, DuckDB's rounds
        derived_columns=(DerivedColumn("o_total_bucket",
                                       "CAST(FLOOR(o_totalprice) AS INT)", "INT"),),
        hashed_columns=(
            HashSpec("hk_order_h", ("o_orderkey",)),
            HashSpec("hk_customer_h", ("o_custkey",)),
            HashSpec("hk_order_customer_nl", ("o_orderkey", "o_custkey")),
            HashSpec("hd_order_ms", ("o_orderstatus", "o_orderpriority"),
                     is_hashdiff=True),
        ),
        multi_active=MultiActiveConfig(("o_orderkey",), "hk_customer_h")),
    "stage_lineitem": StageConfig(
        name="stage_lineitem", source_model="lineitem",
        ldts=_batched("l_orderkey"), rsrc="!TPCH/lineitem",
        source_schema=(("l_orderkey", "BIGINT"), ("l_partkey", "BIGINT"),
                       ("l_suppkey", "BIGINT"), ("l_linenumber", "INT"),
                       ("l_quantity", "DOUBLE"), ("l_extendedprice", "DOUBLE"),
                       ("l_discount", "DOUBLE"), ("l_tax", "DOUBLE"),
                       ("l_returnflag", "STRING"), ("l_linestatus", "STRING"),
                       ("l_shipdate", "TIMESTAMP")),
        hashed_columns=(
            HashSpec("hk_part_supplier_l", ("l_partkey", "l_suppkey")),
            HashSpec("hk_part_h", ("l_partkey",)),
            HashSpec("hk_supplier_h", ("l_suppkey",)),
            HashSpec("hk_lineitem_nl", ("l_orderkey", "l_linenumber")),
            HashSpec("hd_lineitem_s", ("l_quantity", "l_extendedprice", "l_discount"),
                     is_hashdiff=True),
        )),
    "stage_events": StageConfig(
        name="stage_events", source_model="events",
        ldts="date_trunc('hour', ts)", rsrc="!TPCH/events",
        source_schema=(("event_id", "BIGINT"), ("ts", "TIMESTAMP"),
                       ("user_id", "BIGINT"), ("event_type", "STRING"),
                       ("value", "DOUBLE"), ("props", "STRING")),
        hashed_columns=(
            HashSpec("hk_user_h", ("user_id",)),
            HashSpec("hk_event_nl", ("event_id",)),
        )),
    # sequence kwarg: extraction-order column surfaced as edwSequence
    # (reference: macros/staging/stage.sql:8,134)
    "stage_events_seq": StageConfig(
        name="stage_events_seq", source_model="events",
        ldts="date_trunc('hour', ts)", rsrc="!TPCH/events",
        sequence="event_id",
        # event_id appears in the schema AND as the sequence column:
        # build_stage/stage_oracle must surface it only as edwSequence
        # (reference: databricks/stage.sql:88-90 exclude list)
        source_schema=(("event_id", "BIGINT"),
                       ("ts", "TIMESTAMP"), ("user_id", "BIGINT"),
                       ("event_type", "STRING"), ("value", "DOUBLE")),
        hashed_columns=(
            HashSpec("hk_user_h", ("user_id",)),
        )),
}


HUBS = {
    "hub_customer": HubConfig("hub_customer", "hk_customer_h", ("c_custkey",),
                              (EntitySource("stage_customer"),)),
    "hub_nation": HubConfig("hub_nation", "hk_nation_h", ("n_nationkey",),
                            (EntitySource("stage_nation"),)),
    "hub_region": HubConfig("hub_region", "hk_region_h", ("r_regionkey",),
                            (EntitySource("stage_region"),)),
    # multi-source hub with per-source renamed bk columns
    # (reference: macros/tables/databricks/hub.sql:150-219)
    "hub_nation_multisource": HubConfig(
        "hub_nation_multisource", "hk_nation_h", ("n_nationkey",),
        (EntitySource("stage_nation", bk_columns=("n_nationkey",)),
         EntitySource("stage_customer", bk_columns=("c_nationkey",)),
         EntitySource("stage_supplier", bk_columns=("s_nationkey",)))),
    "hub_order": HubConfig("hub_order", "hk_order_h", ("o_orderkey",),
                           (EntitySource("stage_orders"),)),
    "hub_part": HubConfig("hub_part", "hk_part_h", ("p_partkey",),
                          (EntitySource("stage_part"),)),
    # additional_columns: descriptive payload carried into the hub row
    # (reference: macros/tables/hub.sql additional_columns kwarg)
    "hub_part_enriched": HubConfig(
        "hub_part_enriched", "hk_part_h", ("p_partkey",),
        (EntitySource("stage_part"),),
        additional_columns=("p_brand", "p_type")),
    "hub_supplier": HubConfig("hub_supplier", "hk_supplier_h", ("s_suppkey",),
                              (EntitySource("stage_supplier"),)),
    "hub_user": HubConfig("hub_user", "hk_user_h", ("user_id",),
                          (EntitySource("stage_events"),)),
}

LINKS = {
    "link_customer_nation": LinkConfig(
        "link_customer_nation", "hk_customer_nation_l",
        ("hk_customer_h", "hk_nation_h"), (EntitySource("stage_customer"),)),
    "link_supplier_nation": LinkConfig(
        "link_supplier_nation", "hk_supplier_nation_l",
        ("hk_supplier_h", "hk_nation_h"), (EntitySource("stage_supplier"),)),
    "link_part_supplier": LinkConfig(
        "link_part_supplier", "hk_part_supplier_l",
        ("hk_part_h", "hk_supplier_h"), (EntitySource("stage_lineitem"),)),
}

SATS = {
    "sat_customer_n0_s": SatConfig("sat_customer_n0_s", "stage_customer",
                                   "hk_customer_h", "hd_customer_n_s",
                                   payload=("c_acctbal", "c_mktsegment")),
    "sat_customer_p0_s": SatConfig("sat_customer_p0_s", "stage_customer",
                                   "hk_customer_h", "hd_customer_p_s",
                                   payload=("c_name",)),
    "sat_part_s": SatConfig("sat_part_s", "stage_part", "hk_part_h", "hd_part_s",
                            payload=("p_brand", "p_type", "p_size", "p_retailprice")),
    "sat_nation_s": SatConfig("sat_nation_s", "stage_nation", "hk_nation_h",
                              "hd_nation_s", payload=("n_name", "n_regionkey")),
}

SATS_V1 = {
    "sat_customer_n0_s_v1": SatV1Config("sat_customer_n0_s_v1", "sat_customer_n0_s",
                                        "hk_customer_h", "hd_customer_n_s",
                                        add_is_current_flag=True),
    "sat_part_s_v1": SatV1Config("sat_part_s_v1", "sat_part_s",
                                 "hk_part_h", "hd_part_s",
                                 include_payload=("p_brand", "p_type")),
}


NH_SATS = {
    "nh_sat_user_event": NhSatConfig(
        "nh_sat_user_event", "stage_events", "hk_event_nl",
        payload=("user_id", "event_type", "value", "props"),
        source_is_single_batch=False),
}

NH_LINKS = {
    "nh_link_order_customer": NhLinkConfig(
        "nh_link_order_customer", "hk_order_customer_nl",
        ("hk_order_h", "hk_customer_h"), ("o_totalprice",),
        (EntitySource("stage_orders"),), source_is_single_batch=False),
}

MA_SATS = {
    "ma_sat_customer_orders": MaSatConfig(
        "ma_sat_customer_orders", "stage_orders", "hk_customer_h",
        "hd_order_ms", ("o_orderkey",),
        payload=("o_orderstatus", "o_orderpriority")),
}

MA_SATS_V1 = {
    "ma_sat_customer_orders_v1": MaSatV1Config(
        "ma_sat_customer_orders_v1", "ma_sat_customer_orders",
        "hk_customer_h", "hd_order_ms", ("o_orderkey",),
        payload=("o_orderstatus", "o_orderpriority"),
        add_is_current_flag=True),
}

REC_TRACKS = {
    "rec_track_customer": RecTrackConfig(
        "rec_track_customer", "hk_customer_h",
        (EntitySource("stage_customer", hk_column="hk_customer_h",
                      rsrc_static="TPCH/customer"),
         EntitySource("stage_orders", hk_column="hk_customer_h",
                      rsrc_static="TPCH/orders"))),
}

EFF_SATS = {
    "eff_sat_customer_nation": EffSatConfig(
        "eff_sat_customer_nation", "stage_customer", "hk_customer_nation_l",
        source_is_single_batch=False),
}

REF_HUBS = {
    "ref_hub_nation": RefHubConfig(
        "ref_hub_nation", ("n_nationkey",), (EntitySource("stage_nation"),)),
    # batched source so the replay can drive ref_hub's ref-key
    # anti-join with real phase-2 inserts (stage_nation is
    # single-batch); bundle-verified full load, replay-verified
    # incremental
    "ref_hub_part": RefHubConfig(
        "ref_hub_part", ("p_partkey",), (EntitySource("stage_part"),)),
}

REF_SATS = {
    "ref_sat_nation_v0": RefSatConfig(
        "ref_sat_nation_v0", "stage_nation", ("n_nationkey",), "hd_nation_s",
        payload=("n_name", "n_regionkey")),
    # batched source (p_partkey % 3 daily batches) so the incremental
    # replay can drive ref_sat_v0's HWM + latest-compare branch with
    # real phase-2 inserts (stage_nation is single-batch: its phase-2
    # delta is empty). Bundle-verified full load + replay-verified
    # incremental load; no extra exposed slot.
    "ref_sat_part_v0": RefSatConfig(
        "ref_sat_part_v0", "stage_part", ("p_partkey",), "hd_part_s",
        payload=("p_brand", "p_type")),
}

REF_SATS_V1 = {
    "ref_sat_nation_v1": RefSatV1Config(
        "ref_sat_nation_v1", "ref_sat_nation_v0", ("n_nationkey",),
        "hd_nation_s", payload=("n_name", "n_regionkey")),
}

REF_TABLES = {
    "ref_table_nation": RefTableConfig(
        "ref_table_nation", "ref_hub_nation", ("n_nationkey",),
        (("ref_sat_nation_v1", ("n_name", "n_regionkey")),), historized="full"),
    # round-7: the other two date-spine modes (reference ref_table.sql:
    # 46-151) under the driver gate, bundled — 'latest' collapses the
    # spine to MAX(ldts), snapshot mode takes active sdts rows from the
    # logged snapshot table
    "ref_table_nation_latest": RefTableConfig(
        "ref_table_nation_latest", "ref_hub_nation", ("n_nationkey",),
        (("ref_sat_nation_v1", ("n_name", "n_regionkey")),),
        historized="latest"),
    "ref_table_nation_snap": RefTableConfig(
        "ref_table_nation_snap", "ref_hub_nation", ("n_nationkey",),
        (("ref_sat_nation_v1", ("n_name", "n_regionkey")),),
        historized="snapshot", snapshot_relation="control_snap_v1"),
}

SNAPS_V0 = {
    "control_snap_v0": SnapV0Config("control_snap_v0", "2024-01-01",
                                    "00:00:00", end_date="2024-01-31"),
}

SNAPS_V1 = {
    # deterministic 'now' so the retention CASE logic is testable
    "control_snap_v1": SnapV1Config(
        "control_snap_v1", "control_snap_v0",
        log_logic={"is_active": LogLogic(daily=("3", "MONTH"),
                                         weekly=("1", "YEAR"),
                                         yearly=("forever",))},
        current_ts="2024-02-01 00:00:00"),
}

# Row-union bundles over the redundant small entities (operator
# instances whose operator already has dedicated in-window slots).
# Bundled members keep full external verification — every member row
# lands in the bundle result as (entity, hk, hd, ldts, rsrc) and the
# driver value-hashes all of it — while the exposed queries() surface
# stays <= 50 keys, i.e. entirely inside the driver's 50-query check
# window with no ordering tricks.
#
# round-10 (r9 advice #1): the single 95-member vault_dims_bundle is
# split into FOUR thematic row-unions (vault core / curation / corpus
# stats / analytics+layout), each <= 30 members, so a future regression
# localizes to one <=30-member union with per-bundle driver timing —
# instead of one opaque hash over ~100 operators. Members are declared
# once in _ALL_BUNDLE_MEMBERS below and assigned to a bundle by NAME, so
# rotating a member between bundles (or out to an exposed slot) is a
# one-line move. Three long-bundled members rotate OUT to exposed slots
# this round (gopher_rules, event_funnel, temperature_mix — bundled
# since r8) and eight redundant previously-exposed instances rotate IN
# (stage_orders/lineitem/events_seq, hub_part_enriched, control_snap_v0,
# ma_sat_customer_orders_v1, events_asof_click_incl, packing_manifest),
# freeing slots for the round-10 driver-gated entities.
_ALL_BUNDLE_MEMBERS = (
        BundleMember("stage_region", "hk_region_h", "hd_region_s"),
        BundleMember("stage_nation", "hk_nation_h", "hd_nation_s"),
        BundleMember("stage_supplier", "hk_supplier_h", "hd_supplier_s"),
        BundleMember("stage_part", "hk_part_h", "hd_part_s"),
        BundleMember("hub_region", "hk_region_h",
                     "CAST(r_regionkey AS STRING)"),
        BundleMember("hub_supplier", "hk_supplier_h",
                     "CAST(s_suppkey AS STRING)"),
        # satellites fold ONE raw payload column into their hd beside
        # the hashdiff (round-5 advice: a post-hash payload corruption
        # must be driver-visible, not just hashdiff-visible); payload
        # is coalesced because Spark concat NULLs out on NULL args
        # while DuckDB concat skips them
        BundleMember("sat_nation_s", "hk_nation_h",
                     "concat(hd_nation_s, '|', coalesce(n_name, ''))"),
        BundleMember("sat_customer_p0_s", "hk_customer_h",
                     "concat(hd_customer_p_s, '|', coalesce(c_name, ''))"),
        # hub x6 and ref_hub's whole chain (ref_table/ref_sats) remain
        # individually exposed; these two free slots for the round-5
        # LLM ops (dedup_groups, contamination) at constant surface
        BundleMember("hub_nation", "hk_nation_h",
                     "CAST(n_nationkey AS STRING)"),
        BundleMember("ref_hub_nation", "CAST(n_nationkey AS STRING)",
                     "CAST(NULL AS STRING)"),
        # five more redundant instances bundled to free slots for the
        # round-5 LLM ops (repetition, pii_redact, dataset_mix,
        # sequence_packing, semdedup); every operator keeps >= 1
        # individually exposed instance (link_part_supplier,
        # sat_customer_n0_s_v1, ref_sat_nation_v1, hub x5). sat_v1's
        # hd folds ledts in so end-dating regressions still fail the
        # bundle hash; the v0/ref_sat hds pin payload via the hashdiff.
        BundleMember("link_customer_nation", "hk_customer_nation_l",
                     "hk_customer_h"),
        BundleMember("link_supplier_nation", "hk_supplier_nation_l",
                     "hk_supplier_h"),
        BundleMember("sat_part_s_v1", "hk_part_h",
                     "concat(hd_part_s, '|', CAST(ledts AS STRING), "
                     "'|', coalesce(p_brand, ''))"),
        BundleMember("ref_sat_nation_v0", "CAST(n_nationkey AS STRING)",
                     "concat(hd_nation_s, '|', coalesce(n_name, ''))"),
        BundleMember("hub_user", "hk_user_h", "CAST(user_id AS STRING)"),
        # frees the slot for quantize_embeddings (hub keeps hub_customer,
        # hub_nation_multisource, hub_order, hub_part_enriched exposed)
        BundleMember("hub_part", "hk_part_h", "CAST(p_partkey AS STRING)"),
        # frees the slot for dedup_substring (hub keeps hub_customer,
        # hub_nation_multisource, hub_part_enriched exposed)
        BundleMember("hub_order", "hk_order_h",
                     "CAST(o_orderkey AS STRING)"),
        # frees the slot for text_tfidf; like sat_v1 above, the v1
        # ledts folds into the hash so end-dating stays pinned
        BundleMember("ref_sat_nation_v1", "CAST(n_nationkey AS STRING)",
                     "concat(hd_nation_s, '|', CAST(ledts AS STRING), "
                     "'|', coalesce(n_name, ''))"),
        # full-load verification of the round-6 replay member (its
        # incremental branches ride in incremental_replay)
        BundleMember("ref_sat_part_v0", "CAST(p_partkey AS STRING)",
                     "concat(hd_part_s, '|', coalesce(p_brand, ''))"),
        # round-6 curation ops ride here at full fidelity (ldts/rsrc
        # overridden — these entities have no load metadata). The
        # stats hd folds the integer counters only: DOUBLE->STRING
        # rendering diverges between engines near 1e-5 (Spark '1.0E-5'
        # vs DuckDB '1e-05'), and the ratios are pure functions of the
        # folded integers anyway (in-repo parity covers them).
        BundleMember("source_stats", "source",
                     "concat(CAST(n_docs AS STRING), ':', "
                     "CAST(n_tokens AS STRING), ':', "
                     "CAST(n_short_docs AS STRING), ':', "
                     "CAST(n_dup_docs AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'source_stats'"),
        BundleMember("docs_source_gated", "CAST(doc_id AS STRING)",
                     "source",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'source_gate'"),
        # chunk content pinned through md5(chunk_text): offsets,
        # lengths, counts and bytes all drive the driver hash
        BundleMember("doc_chunks",
                     "concat(CAST(doc_id AS STRING), ':', "
                     "CAST(chunk_id AS STRING))",
                     "concat(CAST(chunk_start AS STRING), ':', "
                     "CAST(chunk_len AS STRING), ':', "
                     "CAST(n_chunks AS STRING), ':', md5(chunk_text))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'doc_chunks'"),
        # data-card profile: every stat cell folds into the hd (min/max
        # are portable string renderings by construction — see
        # llm/profile.py's _PORTABLE_MINMAX contract)
        BundleMember("dataset_profile", "col_name",
                     "concat(CAST(n_rows AS STRING), ':', "
                     "CAST(n_nulls AS STRING), ':', "
                     "CAST(n_distinct AS STRING), ':', "
                     "coalesce(min_value, ''), ':', "
                     "coalesce(max_value, ''))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'dataset_profile'"),
        BundleMember("ref_hub_part", "CAST(p_partkey AS STRING)",
                     "CAST(NULL AS STRING)"),
        # cleaned text pinned via md5; line counters fold in raw
        BundleMember("text_line_clean", "CAST(doc_id AS STRING)",
                     "concat(CAST(n_lines AS STRING), ':', "
                     "CAST(n_kept_lines AS STRING), ':', "
                     "coalesce(md5(cleaned_text), ''))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'line_clean'"),
        # round-7: ref_table's latest- and snapshot-spine modes
        # (historized='full' stays individually exposed). The snapshot
        # instance keys on (ref key, sdts) — its spine has many rows —
        # so sdts folds into BOTH hk (row identity) and the payload hd
        BundleMember("ref_table_nation_latest",
                     "CAST(n_nationkey AS STRING)",
                     "concat(coalesce(n_name, ''), ':', "
                     "coalesce(CAST(n_regionkey AS STRING), ''))"),
        BundleMember("ref_table_nation_snap",
                     "concat(CAST(n_nationkey AS STRING), ':', "
                     "CAST(sdts AS STRING))",
                     "concat(coalesce(n_name, ''), ':', "
                     "coalesce(CAST(n_regionkey AS STRING), ''))",
                     ldts="sdts"),
        # round-7: the Arrow header-parse decode — every feature cell
        # (byte count, parsed dims incl. the corrupt-row NULLs) drives
        # the driver hash
        BundleMember("multimodal_decode", "CAST(doc_id AS STRING)",
                     "concat(coalesce(CAST(n_bytes AS STRING), ''), ':', "
                     "coalesce(CAST(width AS STRING), ''), ':', "
                     "coalesce(CAST(height AS STRING), ''), ':', modality)",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'multimodal_decode'"),
        # round-7: paragraph dedup — every counter and span offset of
        # the per-doc duplicate-span report drives the driver hash
        # round-7: decontamination gate survivors (kept ids only — the
        # drop SET is the semantics; both engines' NOT-EXISTS/anti-join
        # paths must agree row for row)
        BundleMember("docs_decontaminated", "CAST(doc_id AS STRING)",
                     "CAST(NULL AS STRING)",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'decontam'"),
        BundleMember("chunk_dedup_spans", "CAST(doc_id AS STRING)",
                     "concat(CAST(n_chunks AS STRING), ':', "
                     "CAST(n_dup_chunks AS STRING), ':', "
                     "CAST(n_dup_spans AS STRING), ':', "
                     "CAST(dup_chars AS STRING), ':', "
                     "coalesce(CAST(first_dup_start AS STRING), ''), ':', "
                     "coalesce(CAST(last_dup_end AS STRING), ''), ':', "
                     "CAST(doc_chars AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'chunk_dedup'"),
        # round-7 selection ops. Integer/string cells fold into the hd
        # (the DOUBLE quality/u columns stay out of the fold — their
        # string rendering is not portable near 1e-5 — but their VALUES
        # are pinned by text_quality/dataset_mix's own exposed entries
        # and the in-repo parity suite). is_canonical folds as the
        # boolean's CAST: both engines render 'true'/'false'.
        BundleMember("canonical_docs", "CAST(doc_id AS STRING)",
                     "concat(CAST(group_id AS STRING), ':', "
                     "CAST(group_size AS STRING), ':', "
                     "CAST(is_canonical AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'canonical'"),
        BundleMember("docs_split", "CAST(doc_id AS STRING)",
                     "concat(coalesce(lang, ''), ':', split)",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'split'"),
        BundleMember("docs_source_capped", "CAST(doc_id AS STRING)",
                     "concat(source, ':', CAST(cap_rank AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'source_cap'"),
        # round-7: bundled to free the exposed slot for the new bridge
        # operator (sat_v0 keeps sat_customer_n0_s individually
        # exposed); payload pinned beside the hashdiff like its peers
        BundleMember("sat_part_s", "hk_part_h",
                     "concat(hd_part_s, '|', coalesce(p_type, ''))"),
        # round-7 event analytics: session bounds (with microsecond
        # timestamps rendered through CAST in both engines) and exact
        # cents sums drive the driver hash
        BundleMember("event_sessions",
                     "concat(CAST(user_id AS STRING), ':', "
                     "CAST(session_seq AS STRING))",
                     "concat(CAST(session_start AS STRING), ':', "
                     "CAST(session_end AS STRING), ':', "
                     "CAST(n_events AS STRING), ':', "
                     "CAST(sum_value_cents AS STRING))",
                     ldts="session_start", rsrc="'sessions'"),
        BundleMember("event_hopping_agg",
                     "concat(CAST(window_start AS STRING), ':', "
                     "event_type)",
                     "concat(CAST(window_end AS STRING), ':', "
                     "CAST(n_events AS STRING), ':', "
                     "CAST(sum_value_cents AS STRING))",
                     ldts="window_start", rsrc="'hopping'"),
        BundleMember("events_in_snapshot_day",
                     "CAST(event_id AS STRING)",
                     "concat(CAST(user_id AS STRING), ':', "
                     "CAST(ts AS STRING), ':', CAST(sdts AS STRING))",
                     ldts="sdts", rsrc="'interval_join'"),
        # round-7: keep-best-quality curation variant — surviving ids
        # with their language/quality pinned through the hd
        BundleMember("docs_curated_best", "CAST(doc_id AS STRING)",
                     "concat(coalesce(predicted_lang, ''), ':', "
                     "CAST(n_tokens AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'curated_best'"),
        # round-7: every soft-constraint verdict (incl. the two
        # deliberately non-zero counts) drives the driver hash
        BundleMember("vault_checks",
                     "concat(entity, ':', check_kind, ':', check_cols)",
                     "CAST(n_violations AS STRING)",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'vault_checks'"),
        # round-8: the MinHash-chain consumers consolidate here (r7
        # advice #1) — previously four EXPOSED queries each rebuilt the
        # signatures->LSH-pairs->connected-components subtree from
        # scratch per bench run; inside the bundle the chain is built
        # once (_multi_consumed persists it for the canonical members
        # already) and each member adds only its final stage. Their
        # freed slots back the round-8 exposed entities (inclusive
        # as-of, keyed interval join, incremental dedup).
        BundleMember("dedup_minhash_lsh",
                     "concat(CAST(id_a AS STRING), ':', "
                     "CAST(id_b AS STRING))",
                     "CAST(n_bands AS STRING)",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'minhash_lsh'"),
        BundleMember("dedup_groups", "CAST(doc_id AS STRING)",
                     "concat(CAST(group_id AS STRING), ':', "
                     "CAST(group_size AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'dedup_groups'"),
        # the report's integer counters fold into the hd; the DOUBLE
        # dup_fraction / min/max_quality stay out of the fold (their
        # string rendering is not portable near 1e-5 — the fraction is
        # a pure function of the folded integers and the quality
        # extremes are pinned by text_quality's exposed entry plus the
        # in-repo per-entity parity suite)
        BundleMember("dedup_report", "coalesce(predicted_lang, '')",
                     "concat(CAST(n_docs AS STRING), ':', "
                     "CAST(n_dup_docs AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'dedup_report'"),
        BundleMember("docs_curated", "CAST(doc_id AS STRING)",
                     "concat(coalesce(predicted_lang, ''), ':', "
                     "CAST(n_tokens AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'curated'"),
        # round-8: fixed-point bigram-LM quality score — every integer
        # cell (counts + the ppm score, BIGINT by the llm/lm.py
        # contract so CAST renders identically) drives the driver hash
        BundleMember("text_lm_score", "CAST(doc_id AS STRING)",
                     "concat(CAST(n_bigrams AS STRING), ':', "
                     "CAST(n_seen AS STRING), ':', "
                     "coalesce(CAST(score_ppm AS STRING), ''))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'lm_score'"),
        # round-8: DSIR importance score — integer count, fixed-point
        # score and the selection verdict all drive the driver hash
        BundleMember("dsir_score", "CAST(doc_id AS STRING)",
                     "concat(CAST(n_bigrams AS STRING), ':', "
                     "coalesce(CAST(score_ppm AS STRING), ''), ':', "
                     "coalesce(CAST(selected AS STRING), ''))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'dsir'"),
        # round-9: learned quality classifier — token count, integer
        # score and the selection verdict all drive the driver hash
        # (the dsir_score member shape)
        BundleMember("quality_classifier", "CAST(doc_id AS STRING)",
                     "concat(CAST(n_tokens AS STRING), ':', "
                     "coalesce(CAST(score_ppm AS STRING), ''), ':', "
                     "coalesce(CAST(selected AS STRING), ''))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'quality_clf'"),
        # round-8: Gopher rule table — every integer measure and every
        # boolean verdict folds into the hd (booleans CAST to the same
        # 'true'/'false' rendering in both engines)
        # round-8: cross-doc boilerplate removal — counts fold directly,
        # the (possibly long) cleaned_text folds as its md5 (identical
        # rendering both engines), so any reassembly drift fails the hash
        BundleMember("docs_boilerplate_clean", "CAST(doc_id AS STRING)",
                     "concat(CAST(n_lines AS STRING), ':', "
                     "CAST(n_boiler_lines AS STRING), ':', "
                     "CAST(cleaned_len AS STRING), ':', "
                     "md5(cleaned_text))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'boilerplate'"),
        # round-10: gopher_rules rotated OUT to an exposed slot (r9
        # advice #1 rotation; bundled since r8)
        # round-8: CCNet perplexity terciles — bucket label, keep flag
        # and the underlying score all drive the driver hash; shares
        # the text_lm_score subtree already in the bundle's build set
        BundleMember("docs_ccnet_buckets", "CAST(doc_id AS STRING)",
                     "concat(coalesce(lang, ''), ':', "
                     "coalesce(CAST(score_ppm AS STRING), ''), ':', "
                     "ppl_bucket, ':', CAST(keep AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'ccnet'"),
        # round-8: vocabulary top-k — token, both counts and the
        # deterministic rank fold in, so any tie-break or census drift
        # fails the hash
        BundleMember("text_vocab_topk", "token",
                     "concat(CAST(tf AS STRING), ':', "
                     "CAST(df AS STRING), ':', CAST(rnk AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'vocab'"),
        # round-8: deterministic shuffle-shard — shard, in-shard
        # position and the 48-bit key drive the driver hash
        BundleMember("corpus_shuffle", "CAST(doc_id AS STRING)",
                     "concat(CAST(shard AS STRING), ':', "
                     "CAST(pos AS STRING), ':', "
                     "CAST(shuffle_key AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'shuffle'"),
        # round-10: temperature_mix rotated OUT to an exposed slot (r9
        # advice #1 rotation; bundled since r8)
        # round-9: repeat-expansion resampler — the per-copy grain
        # (doc, repeat_idx) is the hk, so the exact copy COUNT per
        # document drives the driver hash along with the stratum rate
        BundleMember("temperature_resample",
                     "concat(CAST(doc_id AS STRING), ':', "
                     "CAST(repeat_idx AS STRING))",
                     "concat(lang, ':', CAST(rate_ppm AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'temperature_resample'"),
        # round-10: event_funnel rotated OUT to an exposed slot (r9
        # advice #1 rotation; bundled since r8); round-12 (late): it
        # rotates back IN — its freed slot backs the native streaming
        # dedup gate events_dedup_stream, the same batch-rotates-in /
        # stream-stays-direct pattern as events_in_hopping_window (the
        # streaming twin event_funnel_stream keeps its direct row, and
        # the batch funnel stays row-verified through this fold)
        BundleMember("event_funnel", "CAST(user_id AS STRING)",
                     "concat(coalesce(CAST(step1_ts AS STRING), ''), "
                     "':', coalesce(CAST(step2_ts AS STRING), ''), "
                     "':', coalesce(CAST(step3_ts AS STRING), ''), "
                     "':', CAST(depth AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'funnel'"),
        # round-8: cohort retention — the full matrix folds in
        BundleMember("event_cohort_retention",
                     "concat(CAST(cohort_day AS STRING), ':', "
                     "CAST(offset_day AS STRING))",
                     "CAST(n_users AS STRING)",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'cohort'"),
        # round-8: curation-strategy diff — status and both digests
        # fold in; NULL digests via the coalesce sentinel
        BundleMember("curation_strategy_diff", "CAST(doc_id AS STRING)",
                     "concat(status, ':', coalesce(left_md5, ''), "
                     "':', coalesce(right_md5, ''))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'diff'"),
        # round-9: nation PIT + its clean_up_pit survivors — the fresh
        # PIT's full row set and the post-DELETE row set both fold
        # (dimension_key is the row grain; every satellite pointer and
        # both timestamps drive the hash), so the hook's DELETE
        # semantics are externally certified (r8 advice #5)
        BundleMember("pit_nation", "dimension_key",
                     "concat(hk_nation_h, ':', CAST(sdts AS STRING), "
                     "':', hk_sat_nation_s, ':', "
                     "CAST(ldts_sat_nation_s AS STRING))",
                     ldts="sdts", rsrc="'pit_nation'"),
        BundleMember("pit_nation_cleaned", "dimension_key",
                     "concat(hk_nation_h, ':', CAST(sdts AS STRING), "
                     "':', hk_sat_nation_s, ':', "
                     "CAST(ldts_sat_nation_s AS STRING))",
                     ldts="sdts", rsrc="'pit_cleaned'"),
        # round-9: winnowing fingerprint rides the bundle (its direct
        # slot freed for dedup_incremental_stream — the exposed surface
        # stays at 50); both the set size and the primary fingerprint
        # drive the driver hash
        BundleMember("text_fingerprint", "CAST(doc_id AS STRING)",
                     "concat(CAST(n_fingerprints AS STRING), ':', "
                     "fingerprint)",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'fingerprint'"),
        # round-8: per-source token budget
        BundleMember("source_token_budget", "source",
                     "concat(CAST(n_docs AS STRING), ':', "
                     "CAST(n_tokens AS STRING), ':', "
                     "CAST(token_share_ppm AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'token_budget'"),
        # round-8: per-source length quartiles — every order
        # statistic and both extremes drive the driver hash
        BundleMember("source_len_quantiles", "source",
                     "concat(CAST(n_rows AS STRING), ':', "
                     "CAST(v_min AS STRING), ':', "
                     "CAST(q25 AS STRING), ':', CAST(q50 AS STRING), "
                     "':', CAST(q75 AS STRING), ':', "
                     "CAST(v_max AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'len_quantiles'"),
        # round-8: tolerance as-of — the matched timestamp and the
        # value (folded as integer cents; raw DOUBLE rendering is not
        # portable) both drive the hash, NULLed-out stale matches
        # included via the coalesce sentinels
        BundleMember("events_asof_click_tol", "CAST(event_id AS STRING)",
                     "concat(coalesce(CAST(asof_ts AS STRING), ''), "
                     "':', coalesce(CAST(CAST(round(asof_value * 100) "
                     "AS BIGINT) AS STRING), ''))",
                     ldts="ts", rsrc="'asof_tol'"),
        # round-9: grouping-sets censuses — the GROUPING() flags fold
        # into the hk (subtotal identity: a rolled-up column vs a
        # genuine NULL group value are different rows), counts and
        # exact-cents sums into the hd
        BundleMember("lineitem_rollup_census",
                     "concat(coalesce(l_returnflag, ''), ':', "
                     "coalesce(l_linestatus, ''), ':', "
                     "CAST(g_l_returnflag AS STRING), ':', "
                     "CAST(g_l_linestatus AS STRING))",
                     "concat(CAST(n_rows AS STRING), ':', "
                     "CAST(sum_qty_cents AS STRING), ':', "
                     "CAST(sum_price_cents AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'rollup_census'"),
        BundleMember("docs_cube_census",
                     "concat(coalesce(lang, ''), ':', "
                     "coalesce(source, ''), ':', "
                     "CAST(g_lang AS STRING), ':', "
                     "CAST(g_source AS STRING))",
                     "concat(CAST(n_rows AS STRING), ':', "
                     "CAST(sum_chars_cents AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'cube_census'"),
        # round-9: key-skew card — count, ppm share and the
        # deterministic rank all drive the driver hash
        BundleMember("events_skew_profile",
                     "concat(col_name, ':', value)",
                     "concat(CAST(cnt AS STRING), ':', "
                     "CAST(share_ppm AS STRING), ':', "
                     "CAST(rnk AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'skew_profile'"),
        # round-9: SCD1 merge current-state — the winning version, the
        # tie-break line number and every payload cell (quantity as
        # exact cents) drive the driver hash, so a wrong upsert (stale
        # row surviving, new key dropped, tie mis-break) fails the gate
        BundleMember("lineitem_scd1_current",
                     "CAST(l_orderkey AS STRING)",
                     "concat(CAST(version_seq AS STRING), ':', "
                     "CAST(l_linenumber AS STRING), ':', "
                     "CAST(l_partkey AS STRING), ':', "
                     "CAST(l_suppkey AS STRING), ':', "
                     "CAST(CAST(round(l_quantity * 100) AS BIGINT) "
                     "AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'scd1_merge'"),
        # round-9: length histogram — every bin bound, count and ppm
        # share drives the driver hash
        BundleMember("docs_length_histogram", "CAST(bin AS STRING)",
                     "concat(CAST(bin_lo AS STRING), ':', "
                     "CAST(bin_hi AS STRING), ':', "
                     "CAST(cnt AS STRING), ':', "
                     "CAST(share_ppm AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'length_histogram'"),
        # round-9: source round-trips — every row read back from the
        # staged json / csv folds in; props pins the quoting path
        BundleMember("events_source_json", "CAST(event_id AS STRING)",
                     "concat(CAST(user_id AS STRING), ':', "
                     "event_type, ':', props)",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'source_json'"),
        BundleMember("events_source_csv", "CAST(event_id AS STRING)",
                     "concat(CAST(user_id AS STRING), ':', "
                     "event_type, ':', props)",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'source_csv'"),
        BundleMember("events_source_orc", "CAST(event_id AS STRING)",
                     "concat(CAST(user_id AS STRING), ':', "
                     "event_type, ':', props)",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'source_orc'"),
        # round-9: percentile trim gate — value, both bounds and the
        # verdict fold in
        BundleMember("docs_length_gate", "CAST(doc_id AS STRING)",
                     "concat(lang, ':', CAST(n_chars AS STRING), ':', "
                     "CAST(q_lo AS STRING), ':', CAST(q_hi AS STRING), "
                     "':', CAST(is_outlier AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'length_gate'"),
        # round-9: quarantine lane — membership and the ordered
        # failed-rule reasons fold in (payload flag pins row identity)
        BundleMember("lineitem_quarantine",
                     "concat(CAST(l_orderkey AS STRING), ':', "
                     "CAST(l_linenumber AS STRING))",
                     "concat(failed_rules, ':', l_returnflag)",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'quarantine'"),
        # round-9: second-moment census — all six exact moments fold in
        BundleMember("lineitem_qty_price_stats", "l_returnflag",
                     "concat(CAST(n AS STRING), ':', "
                     "CAST(sum_x AS STRING), ':', "
                     "CAST(sum_y AS STRING), ':', "
                     "CAST(sum_xx AS STRING), ':', "
                     "CAST(sum_yy AS STRING), ':', "
                     "CAST(sum_xy AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'moments'"),
        # round-9: pivot crosstab — every wide cell (count + cents sum
        # per declared lang) folds into the hd, so a dropped value
        # column or a NULL-vs-0 divergence fails the gate
        BundleMember("docs_source_lang_pivot", "source",
                     "concat(" + ", ':', ".join(
                         f"CAST(n_{v} AS STRING), ':', "
                         f"CAST(sum_{v}_cents AS STRING)"
                         for v in ("de", "en", "es", "fr", "zh")) + ")",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'pivot'"),
        # round-9: exact-size sample — membership AND rank fold in
        BundleMember("docs_exact_sample",
                     "CAST(doc_id AS STRING)",
                     "concat(lang, ':', CAST(sample_rank AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'exact_sample'"),
        # round-9: rolling block — all four frame aggregates fold in
        BundleMember("events_rolling_value",
                     "CAST(event_id AS STRING)",
                     "concat(CAST(roll_n AS STRING), ':', "
                     "CAST(roll_sum_cents AS STRING), ':', "
                     "CAST(roll_min_cents AS STRING), ':', "
                     "CAST(roll_max_cents AS STRING))",
                     ldts="ts", rsrc="'rolling'"),
        # round-9: JSON extraction — the typed value, the missing-path
        # NULL and the TRY_CAST NULL all drive the driver hash via
        # coalesce sentinels
        BundleMember("events_props_extracted",
                     "CAST(event_id AS STRING)",
                     "concat(coalesce(CAST(k_value AS STRING), ''), "
                     "':', coalesce(missing_field, ''), ':', "
                     "coalesce(CAST(bad_cast AS STRING), ''))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'json_extract'"),
        # round-9: LOCF gap fill — the filled value (exact cents), the
        # leading-NULL sentinel and the is_filled flag drive the hash
        BundleMember("events_value_locf",
                     "CAST(event_id AS STRING)",
                     "concat(coalesce(CAST(CAST(round(value_filled "
                     "* 100) AS BIGINT) AS STRING), ''), ':', "
                     "CAST(is_filled AS STRING))",
                     ldts="ts", rsrc="'locf'"),
        # round-9: per-language vocabulary — token, counts and rank per
        # language all drive the hash
        BundleMember("vocab_topk_by_lang",
                     "concat(lang, ':', token)",
                     "concat(CAST(tf AS STRING), ':', "
                     "CAST(df AS STRING), ':', CAST(rnk AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'vocab_by_lang'"),
        # round-9: CDC-apply variant — surviving keys and their
        # payload fold in; a tombstoned key wrongly surviving (or a
        # re-inserted key wrongly dropped) changes the row set
        BundleMember("lineitem_scd1_cdc",
                     "CAST(l_orderkey AS STRING)",
                     "concat(CAST(version_seq AS STRING), ':', "
                     "CAST(l_linenumber AS STRING), ':', "
                     "CAST(CAST(round(l_quantity * 100) AS BIGINT) "
                     "AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'scd1_cdc'"),
        # round-9: transition matrix — the census, the per-from total
        # and the row-normalized ppm all drive the driver hash
        BundleMember("event_transitions",
                     "concat(from_event, ':', to_event)",
                     "concat(CAST(n_transitions AS STRING), ':', "
                     "CAST(from_total AS STRING), ':', "
                     "CAST(p_ppm AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'transitions'"),
        # round-10: proportional sample — membership, rank and the
        # stratum's Hamilton allocation all drive the driver hash
        BundleMember("docs_proportional_sample",
                     "CAST(doc_id AS STRING)",
                     "concat(lang, ':', CAST(sample_rank AS STRING), "
                     "':', CAST(n_alloc AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'proportional_sample'"),
        # round-10: active users — both exact distinct counts drive
        # the driver hash
        BundleMember("events_active_users", "CAST(day AS STRING)",
                     "concat(CAST(dau AS STRING), ':', "
                     "CAST(rolling_au AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'active_users'"),
        # round-10: conversion paths — the truncated path string and
        # the full history length drive the driver hash ('' = direct)
        BundleMember("events_conversion_paths",
                     "CAST(event_id AS STRING)",
                     "concat(CAST(n_touches AS STRING), ':', path)",
                     ldts="ts", rsrc="'conversion_paths'"),
        # round-10: trending top-k — bucket, value, count and rank all
        # drive the driver hash
        BundleMember("events_trending_daily",
                     "concat(CAST(bucket AS STRING), ':', value)",
                     "concat(CAST(cnt AS STRING), ':', "
                     "CAST(rnk AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'trending'"),
        # round-10: text normalization — the normalized text (via its
        # md5) and both counters drive the driver hash
        BundleMember("docs_normalized", "CAST(doc_id AS STRING)",
                     "concat(norm_md5, ':', "
                     "CAST(n_norm_chars AS STRING), ':', "
                     "CAST(n_norm_tokens AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'normalize'"),
        # round-10: compaction round-trip — every row read back from
        # the rewritten files folds in (text via md5)
        BundleMember("docs_compacted", "CAST(doc_id AS STRING)",
                     "concat(md5(text), ':', lang, ':', source, ':', "
                     "CAST(n_chars AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'compaction'"),
        # round-10: percentile rank — value, rank, stratum size and
        # the ppm position all drive the driver hash
        BundleMember("docs_length_pr", "CAST(doc_id AS STRING)",
                     "concat(lang, ':', CAST(value AS STRING), ':', "
                     "CAST(rnk AS STRING), ':', CAST(n AS STRING), "
                     "':', CAST(pr_ppm AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'percentile_rank'"),
        # round-10: k-anonymity — the suppressed-vs-kept QI cells, the
        # anonymity-set size and the verdict all drive the driver hash
        BundleMember("docs_k_anonymity", "CAST(doc_id AS STRING)",
                     "concat(coalesce(lang, ''), ':', "
                     "coalesce(source, ''), ':', "
                     "CAST(group_n AS STRING), ':', "
                     "CAST(is_suppressed AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'k_anonymity'"),
        # round-10: partitioned-layout round-trip — every row read back
        # from the pruned partition folds in (text via md5)
        BundleMember("docs_partitioned_en", "CAST(doc_id AS STRING)",
                     "concat(md5(text), ':', source, ':', "
                     "CAST(n_chars AS STRING), ':', lang)",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'partitioned'"),
        # round-10: OHLC bars — every bar cell incl. the tie-broken
        # open/close cents and the reconstructed bar_start drives the
        # driver hash
        BundleMember("events_ohlc_hourly",
                     "concat(event_type, ':', CAST(bar AS STRING))",
                     "concat(CAST(n_events AS STRING), ':', "
                     "CAST(sum_cents AS STRING), ':', "
                     "CAST(low_cents AS STRING), ':', "
                     "CAST(high_cents AS STRING), ':', "
                     "CAST(open_cents AS STRING), ':', "
                     "CAST(close_cents AS STRING))",
                     ldts="bar_start", rsrc="'ohlc'"),
        # round-10: the streaming OHLC replay — identical bar fold
        BundleMember("events_ohlc_stream",
                     "concat(event_type, ':', CAST(bar AS STRING))",
                     "concat(CAST(n_events AS STRING), ':', "
                     "CAST(sum_cents AS STRING), ':', "
                     "CAST(low_cents AS STRING), ':', "
                     "CAST(high_cents AS STRING), ':', "
                     "CAST(open_cents AS STRING), ':', "
                     "CAST(close_cents AS STRING))",
                     ldts="bar_start", rsrc="'ohlc_stream'"),
        # round-10: last-touch attribution — the credited touch, its
        # timestamp and the integer gap drive the driver hash; the
        # direct-traffic NULL branch rides the coalesce sentinels
        BundleMember("events_last_touch",
                     "CAST(event_id AS STRING)",
                     "concat(coalesce(touch_type, ''), ':', "
                     "coalesce(CAST(touch_ts AS STRING), ''), ':', "
                     "coalesce(CAST(lag_us AS STRING), ''))",
                     ldts="ts", rsrc="'attribution'"),
        # round-10: market-basket co-occurrence — the pair census plus
        # both raw supports and the basket total all drive the driver
        # hash (the full 2x2 contingency row)
        BundleMember("part_cooccurrence",
                     "concat(CAST(item_a AS STRING), ':', "
                     "CAST(item_b AS STRING))",
                     "concat(CAST(n_a AS STRING), ':', "
                     "CAST(n_b AS STRING), ':', "
                     "CAST(n_pair AS STRING), ':', "
                     "CAST(n_baskets_total AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'cooccurrence'"),
        # round-10: source-overlap matrix — both set sizes, the shared
        # count and the integer jaccard all drive the driver hash
        BundleMember("source_overlap_matrix",
                     "concat(group_a, ':', group_b)",
                     "concat(CAST(n_a AS STRING), ':', "
                     "CAST(n_b AS STRING), ':', "
                     "CAST(n_shared AS STRING), ':', "
                     "CAST(jaccard_ppm AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'source_overlap'"),
        # round-10: blocked fuzzy linkage — every candidate pair and
        # its edit distance drive the driver hash
        BundleMember("part_name_linkage",
                     "concat(CAST(id_a AS STRING), ':', "
                     "CAST(id_b AS STRING))",
                     "CAST(dist AS STRING)",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'linkage'"),
        # round-10 rotations IN (previously exposed, redundant
        # instances — each operator keeps >= 1 individually exposed
        # entity). The multi-active stage folds the derived bucket and
        # one payload cell beside the group hashdiff.
        BundleMember("stage_orders", "hk_order_h",
                     "concat(hd_order_ms, '|', "
                     "CAST(o_total_bucket AS STRING), '|', "
                     "coalesce(o_orderstatus, ''))"),
        BundleMember("stage_lineitem", "hk_lineitem_nl",
                     "concat(hd_lineitem_s, '|', "
                     "coalesce(l_returnflag, ''))"),
        # the sequence stage's whole point is edwSequence: fold it into
        # the hk (row identity) so a dropped/shifted sequence fails
        BundleMember("stage_events_seq", "CAST(edwSequence AS STRING)",
                     "concat(hk_user_h, ':', coalesce(event_type, ''))"),
        BundleMember("hub_part_enriched", "hk_part_h",
                     "concat(CAST(p_partkey AS STRING), ':', "
                     "coalesce(p_brand, ''), ':', "
                     "coalesce(p_type, ''))"),
        # the spine row grain is sdts; caption + every calendar flag
        # folds in (booleans CAST to 'true'/'false' in both engines)
        BundleMember("control_snap_v0", "CAST(sdts AS STRING)",
                     "concat(caption, ':', "
                     "CAST(replacement_sdts AS STRING), ':', "
                     "CAST(force_active AS STRING), ':', "
                     "CAST(is_daily AS STRING), ':', "
                     "CAST(is_beginning_of_week AS STRING), ':', "
                     "CAST(is_end_of_week AS STRING), ':', "
                     "CAST(is_beginning_of_month AS STRING), ':', "
                     "CAST(is_end_of_month AS STRING), ':', "
                     "CAST(is_beginning_of_quarter AS STRING), ':', "
                     "CAST(is_end_of_quarter AS STRING), ':', "
                     "CAST(is_beginning_of_year AS STRING), ':', "
                     "CAST(is_end_of_year AS STRING))",
                     ldts="sdts", rsrc="'snap_v0'"),
        # ma_sat v1: ledts + IS_CURRENT fold in (the sat_v1 pattern) so
        # end-dating regressions fail the hash; the MA grain rides via
        # o_orderkey and one payload cell
        BundleMember("ma_sat_customer_orders_v1", "hk_customer_h",
                     "concat(hd_order_ms, '|', CAST(ledts AS STRING), "
                     "'|', CAST(IS_CURRENT AS STRING), '|', "
                     "CAST(o_orderkey AS STRING), '|', "
                     "coalesce(o_orderstatus, ''))"),
        # inclusive as-of (the tol member's fold shape: matched ts +
        # value as exact cents through coalesce sentinels)
        BundleMember("events_asof_click_incl", "CAST(event_id AS STRING)",
                     "concat(coalesce(CAST(asof_ts AS STRING), ''), "
                     "':', coalesce(CAST(CAST(round(asof_value * 100) "
                     "AS BIGINT) AS STRING), ''))",
                     ldts="ts", rsrc="'asof_incl'"),
        # round-10: frame sampling — the (doc, frame) grain is the hk;
        # header fields, stride arithmetic and the corrupt-row NULL
        # branch all fold (coalesce sentinels for the NULL row)
        BundleMember("multimodal_framesample",
                     "concat(CAST(doc_id AS STRING), ':', "
                     "coalesce(CAST(frame_idx AS STRING), ''))",
                     "concat(CAST(n_bytes AS STRING), ':', "
                     "coalesce(CAST(fps AS STRING), ''), ':', "
                     "coalesce(CAST(duration_ms AS STRING), ''), ':', "
                     "coalesce(CAST(n_frames AS STRING), ''), ':', "
                     "coalesce(CAST(frame_ts_ms AS STRING), ''))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'framesample'"),
        # round-10: resize geometry — both geometries, the branch flag
        # and the corrupt NULLs all fold
        BundleMember("multimodal_resize", "CAST(doc_id AS STRING)",
                     "concat(coalesce(CAST(width AS STRING), ''), ':', "
                     "coalesce(CAST(height AS STRING), ''), ':', "
                     "coalesce(CAST(out_w AS STRING), ''), ':', "
                     "coalesce(CAST(out_h AS STRING), ''), ':', "
                     "coalesce(is_scaled, ''))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'resize'"),
        # round-10: URL gate — the normalized URL (verbatim: it is the
        # operator's whole point), the registered domain, the census
        # count and the block verdict all drive the driver hash
        BundleMember("docs_url_gate", "CAST(doc_id AS STRING)",
                     "concat(url_norm, ':', domain, ':', "
                     "CAST(n_domain_docs AS STRING), ':', "
                     "CAST(is_blocked AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'url_gate'"),
        # round-10: the SCD1 streaming replay — same fold as the batch
        # member, so a streamed upsert diverging from the one-shot rule
        # fails the gate
        BundleMember("lineitem_scd1_stream",
                     "CAST(l_orderkey AS STRING)",
                     "concat(CAST(version_seq AS STRING), ':', "
                     "CAST(l_linenumber AS STRING), ':', "
                     "CAST(l_partkey AS STRING), ':', "
                     "CAST(l_suppkey AS STRING), ':', "
                     "CAST(CAST(round(l_quantity * 100) AS BIGINT) "
                     "AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'scd1_stream'"),
        # round-10: Tukey outlier gate — value, both fences and the
        # verdict fold in
        BundleMember("events_value_outliers", "CAST(event_id AS STRING)",
                     "concat(event_type, ':', "
                     "CAST(value_units AS STRING), ':', "
                     "CAST(q25 AS STRING), ':', CAST(q75 AS STRING), "
                     "':', CAST(is_outlier AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'outliers'"),
        # round-10: negative sampling — the (anchor, rank) grain is the
        # hk so the exact draw and its order drive the driver hash
        BundleMember("docs_negative_samples",
                     "concat(CAST(anchor_id AS STRING), ':', "
                     "CAST(neg_rank AS STRING))",
                     "concat(CAST(neg_id AS STRING), ':', "
                     "CAST(bucket AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'negatives'"),
        # round-10: k-fold — the assignment and the balance census
        # both fold
        BundleMember("docs_kfold", "CAST(doc_id AS STRING)",
                     "concat(lang, ':', CAST(fold AS STRING), ':', "
                     "CAST(n_fold_docs AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'kfold'"),
        # round-10: profile drift — every per-slice census cell and
        # both drift verdicts fold in (ppm cells via coalesce: an
        # empty slice renders NULL)
        BundleMember("docs_profile_drift", "col_name",
                     "concat(CAST(n_rows_a AS STRING), ':', "
                     "CAST(n_rows_b AS STRING), ':', "
                     "CAST(n_nulls_a AS STRING), ':', "
                     "CAST(n_nulls_b AS STRING), ':', "
                     "CAST(n_distinct_a AS STRING), ':', "
                     "CAST(n_distinct_b AS STRING), ':', "
                     "coalesce(CAST(null_ppm_a AS STRING), ''), ':', "
                     "coalesce(CAST(null_ppm_b AS STRING), ''), ':', "
                     "coalesce(min_a, ''), ':', coalesce(max_a, ''), "
                     "':', coalesce(min_b, ''), ':', "
                     "coalesce(max_b, ''), ':', "
                     "coalesce(CAST(null_drift AS STRING), ''), ':', "
                     "CAST(minmax_changed AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'profile_drift'"),
        # packing manifest: every integer assignment cell folds in
        BundleMember("packing_manifest", "CAST(doc_id AS STRING)",
                     "concat(CAST(shard AS STRING), ':', "
                     "CAST(n_tok AS STRING), ':', "
                     "CAST(bin AS STRING), ':', "
                     "CAST(stream_offset_tokens AS STRING), ':', "
                     "CAST(bin_offset_tokens AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'packing_manifest'"),
        # round-11 rotations IN (previously exposed since r4-r6,
        # redundant as standalone slots; their freed slots back the
        # round-11 streaming funnel gate and the four rotated-out
        # members). DOUBLE ratio columns fold as fixed-point ppm ints
        # (CAST(round(x * 1e6) AS BIGINT)): the two engines' doubles
        # are bit-identical (the entities hash-matched the driver for
        # ten rounds), so the ppm rendering is exact and portable where
        # a raw DOUBLE string is not.
        BundleMember("text_langid", "CAST(doc_id AS STRING)",
                     "concat(CAST(n_tokens AS STRING), ':', "
                     "coalesce(predicted_lang, ''), ':', "
                     "CAST(CAST(round(hit_ratio * 1000000) AS BIGINT) "
                     "AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'langid'"),
        BundleMember("text_quality", "CAST(doc_id AS STRING)",
                     "concat(CAST(n_chars_measured AS STRING), ':', "
                     "CAST(n_tokens AS STRING), ':', "
                     "CAST(CAST(round(avg_token_len * 1000000) "
                     "AS BIGINT) AS STRING), ':', "
                     "CAST(CAST(round(stopword_ratio * 1000000) "
                     "AS BIGINT) AS STRING), ':', "
                     "CAST(CAST(round(quality_score * 1000000) "
                     "AS BIGINT) AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'quality'"),
        BundleMember("text_token_count", "CAST(doc_id AS STRING)",
                     "concat(CAST(n_ws_tokens AS STRING), ':', "
                     "CAST(n_bpe_tokens AS STRING), ':', "
                     "CAST(n_char_est AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'token_count'"),
        # repetition: integer census + ppm ratios + the boolean flag
        # (both engines render 'true'/'false'); NULL-text gini rides
        # the coalesce sentinel
        BundleMember("text_repetition", "CAST(doc_id AS STRING)",
                     "concat(CAST(n_tokens AS STRING), ':', "
                     "CAST(CAST(round(distinct_token_ratio * 1000000) "
                     "AS BIGINT) AS STRING), ':', "
                     "CAST(CAST(round(dup_ngram_fraction * 1000000) "
                     "AS BIGINT) AS STRING), ':', "
                     "CAST(CAST(round(top_ngram_share * 1000000) "
                     "AS BIGINT) AS STRING), ':', "
                     "CAST(is_repetitive AS STRING), ':', "
                     "coalesce(CAST(CAST(round(gini_diversity * 1000000)"
                     " AS BIGINT) AS STRING), ''))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'repetition'"),
        # round-11: WAV/RIFF decode — every parsed header field folds
        # (all integers); corrupt-row NULLs ride coalesce sentinels
        BundleMember("multimodal_wav_decode", "CAST(doc_id AS STRING)",
                     "concat(coalesce(CAST(n_bytes AS STRING), ''), "
                     "':', coalesce(CAST(sample_rate AS STRING), ''), "
                     "':', coalesce(CAST(n_channels AS STRING), ''), "
                     "':', coalesce(CAST(bits_per_sample AS STRING), "
                     "''), ':', coalesce(CAST(n_samples AS STRING), "
                     "''), ':', coalesce(CAST(duration_ms AS STRING), "
                     "''))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'wav_decode'"),
        # round-11: PNG decode — geometry + the three-way decode_ok
        # verdict fold (the CRC-gate branch included)
        BundleMember("multimodal_png_decode", "CAST(doc_id AS STRING)",
                     "concat(coalesce(CAST(width AS STRING), ''), "
                     "':', coalesce(CAST(height AS STRING), ''), "
                     "':', coalesce(CAST(bit_depth AS STRING), ''), "
                     "':', coalesce(CAST(color_type AS STRING), ''), "
                     "':', coalesce(CAST(n_pixels AS STRING), ''), "
                     "':', coalesce(decode_ok, ''))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'png_decode'"),
        # round-11: mu-law decode census — same all-integer fold
        BundleMember("multimodal_ulaw_stats", "CAST(doc_id AS STRING)",
                     "concat(coalesce(CAST(n_samples_total AS STRING), "
                     "''), ':', coalesce(CAST(peak_abs AS STRING), ''), "
                     "':', coalesce(CAST(n_silent AS STRING), ''), "
                     "':', coalesce(CAST(sum_abs AS STRING), ''), "
                     "':', coalesce(CAST(sum_sq AS STRING), ''), "
                     "':', coalesce(CAST(n_sign_changes AS STRING), "
                     "''))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'ulaw_stats'"),
        # round-11: sample-level audio DSP — the whole integer signal
        # census folds; corrupt-row NULLs ride coalesce sentinels
        BundleMember("multimodal_wav_stats", "CAST(doc_id AS STRING)",
                     "concat(coalesce(CAST(n_samples_total AS STRING), "
                     "''), ':', coalesce(CAST(peak_abs AS STRING), ''), "
                     "':', coalesce(CAST(n_clipped AS STRING), ''), "
                     "':', coalesce(CAST(sum_abs AS STRING), ''), "
                     "':', coalesce(CAST(sum_sq AS STRING), ''), "
                     "':', coalesce(CAST(n_sign_changes AS STRING), "
                     "''))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'wav_stats'"),
        # round-12 deliberate widening: REAL animated-GIF LZW decode —
        # every frame row's census cell folds; corrupt-row NULLs ride
        # coalesce sentinels and the truncated class's 'false' verdict
        # + missing last frame drive the partial-stream branch.
        # 1.05s standalone at sf0.1 (min-of-4, loadavg 0.9, measured
        # before adding).
        BundleMember("multimodal_gif_frames",
                     "concat(CAST(doc_id AS STRING), ':', "
                     "coalesce(CAST(frame_id AS STRING), ''))",
                     "concat(coalesce(CAST(delay_cs AS STRING), ''), "
                     "':', coalesce(CAST(n_pixels AS STRING), ''), "
                     "':', coalesce(CAST(sum_idx AS STRING), ''), "
                     "':', coalesce(CAST(n_idx0 AS STRING), ''), "
                     "':', coalesce(CAST(wsum_idx AS STRING), ''), "
                     "':', coalesce(decode_ok, ''))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'gif_frames'"),
        # round-12 rotations IN (previously exposed since r5, redundant
        # as standalone slots; their freed slots back the streaming
        # vault-ingest gate and the three rotated-out members). Same
        # fold rules as the round-11 batch: integers raw, DOUBLEs as
        # exact fixed-point ppm (u_sample is already round(.,6), so the
        # ppm rendering is lossless), booleans via CAST (both engines
        # render 'true'/'false'), NULLs behind coalesce sentinels.
        # Standalone min-of-4 at sf0.1 measured before adding:
        # dataset_mix 0.34s, gopher_rules 0.61s, sequence_packing
        # 0.62s, temperature_mix 0.71s (loadavg 1.4-1.9).
        BundleMember("dataset_mix", "CAST(doc_id AS STRING)",
                     "concat(lang, ':', "
                     "CAST(CAST(round(u_sample * 1000000) AS BIGINT) "
                     "AS STRING), ':', "
                     "CAST(CAST(round(sample_weight * 1000000) "
                     "AS BIGINT) AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'dataset_mix'"),
        BundleMember("temperature_mix", "CAST(doc_id AS STRING)",
                     "concat(lang, ':', CAST(rate_ppm AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'temperature_mix'"),
        BundleMember("sequence_packing",
                     "concat(CAST(shard AS STRING), ':', "
                     "CAST(bin AS STRING))",
                     "concat(CAST(n_docs AS STRING), ':', "
                     "CAST(bin_tokens AS STRING), ':', "
                     "CAST(first_doc AS STRING), ':', "
                     "CAST(is_full AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'sequence_packing'"),
        BundleMember("gopher_rules", "CAST(doc_id AS STRING)",
                     "concat(CAST(n_words AS STRING), ':', "
                     "coalesce(CAST(mean_wlen_e2 AS STRING), ''), ':', "
                     "CAST(n_symbol_words AS STRING), ':', "
                     "CAST(n_alpha_words AS STRING), ':', "
                     "CAST(n_stop AS STRING), ':', "
                     "CAST(pass_word_count AS STRING), ':', "
                     "CAST(pass_mean_word_len AS STRING), ':', "
                     "CAST(pass_symbol_ratio AS STRING), ':', "
                     "CAST(pass_alpha_words AS STRING), ':', "
                     "CAST(pass_stopwords AS STRING), ':', "
                     "CAST(keep AS STRING))",
                     ldts="TIMESTAMP '2024-01-01 00:00:00'",
                     rsrc="'gopher_rules'"),
        # round-12 rotation IN (exposed since r8): the keyed interval
        # join of events against their own type's hopping windows —
        # row identity is (event, containing window); the joined
        # window census folds beside the event fields
        BundleMember("events_in_hopping_window",
                     "concat(CAST(event_id AS STRING), ':', "
                     "CAST(window_start AS STRING))",
                     "concat(CAST(ts AS STRING), ':', event_type, "
                     "':', CAST(n_events AS STRING))",
                     ldts="ts", rsrc="'hopping_ij'"),
        # strict as-of (the tol/incl members' fold shape: matched ts +
        # value as exact cents through coalesce sentinels)
        BundleMember("events_asof_click", "CAST(event_id AS STRING)",
                     "concat(coalesce(CAST(asof_ts AS STRING), ''), "
                     "':', coalesce(CAST(CAST(round(asof_value * 100) "
                     "AS BIGINT) AS STRING), ''))",
                     ldts="ts", rsrc="'asof_strict'"),
)

_BM = {m.entity: m for m in _ALL_BUNDLE_MEMBERS}


def _bundle(name: str, entities: tuple) -> BundleConfig:
    return BundleConfig(name, tuple(_BM[e] for e in entities))


BUNDLES = {
    # Data Vault core loads: stages, hubs, links, sats, refs, PITs.
    "vault_core_bundle": _bundle("vault_core_bundle", (
        "stage_region", "stage_nation", "stage_supplier", "stage_part",
        "stage_orders", "stage_lineitem", "stage_events_seq",
        "hub_region", "hub_supplier", "hub_nation", "hub_user",
        "hub_part", "hub_order", "hub_part_enriched",
        "link_customer_nation", "link_supplier_nation",
        "sat_nation_s", "sat_customer_p0_s", "sat_part_s",
        "sat_part_s_v1", "ma_sat_customer_orders_v1",
        "ref_hub_nation", "ref_hub_part", "ref_sat_nation_v0",
        "ref_sat_nation_v1", "ref_sat_part_v0",
        "ref_table_nation_latest", "ref_table_nation_snap",
        "pit_nation", "pit_nation_cleaned",
    )),
    # Document curation / dedup / quality-filter chain.
    "curation_bundle": _bundle("curation_bundle", (
        "source_stats", "docs_source_gated", "doc_chunks",
        "text_line_clean", "multimodal_decode", "docs_decontaminated",
        "chunk_dedup_spans", "canonical_docs", "docs_split",
        "docs_source_capped", "docs_curated", "docs_curated_best",
        "dedup_minhash_lsh", "dedup_groups", "dedup_report",
        "text_lm_score", "dsir_score", "quality_classifier",
        "docs_boilerplate_clean", "docs_ccnet_buckets",
        "docs_normalized", "docs_k_anonymity", "docs_length_gate",
        "curation_strategy_diff", "docs_url_gate",
        "multimodal_framesample", "multimodal_resize",
        # round-11 rotation IN (exposed since r4)
        "text_repetition",
        # round-11 deliberate widening: WAV/RIFF audio decode
        # (multimodal_wav_stats rotated OUT to an exposed slot in
        # round 12 — its first standalone pandas-path exposure)
        "multimodal_wav_decode",
        # round-12 rotation IN (exposed since r5)
        "gopher_rules",
    )),
    # Corpus profiling / sampling / vocabulary statistics.
    "corpus_stats_bundle": _bundle("corpus_stats_bundle", (
        "dataset_profile", "text_vocab_topk", "vocab_topk_by_lang",
        "corpus_shuffle", "temperature_resample", "text_fingerprint",
        "source_token_budget", "source_len_quantiles",
        "docs_length_histogram", "docs_exact_sample",
        "docs_proportional_sample", "docs_length_pr",
        # round-11: source_overlap_matrix and docs_kfold rotate OUT to
        # exposed slots (their first standalone pandas-path exposure);
        # the long-exposed text-stat trio rotates IN
        "docs_cube_census",
        "docs_source_lang_pivot", "packing_manifest",
        "text_langid", "text_quality", "text_token_count",
        # docs-table layout round-trips (moved from analytics_bundle
        # to keep it <= 30 when the OHLC streaming replay joined)
        "docs_compacted", "docs_partitioned_en",
        "docs_negative_samples", "docs_profile_drift",
        # round-11 deliberate widening: G.711 mu-law decode census
        # (multimodal_png_decode rotated OUT to an exposed slot in
        # round 12 — its first standalone pandas-path exposure)
        "multimodal_ulaw_stats",
        # round-12 deliberate widening: real animated-GIF LZW decode
        "multimodal_gif_frames",
        # round-12 rotations IN (exposed since r5)
        "dataset_mix", "temperature_mix", "sequence_packing",
        # non-parquet source round-trips (moved from analytics_bundle
        # to keep it <= 30 when the SCD1 streaming replay joined)
        "events_source_json", "events_source_csv", "events_source_orc",
    )),
    # Event/lineitem analytics + storage-layout round-trips.
    "analytics_bundle": _bundle("analytics_bundle", (
        "control_snap_v0", "vault_checks", "event_sessions",
        "event_hopping_agg", "events_in_snapshot_day",
        "event_cohort_retention", "events_asof_click_tol",
        "events_asof_click_incl", "lineitem_rollup_census",
        "events_skew_profile", "lineitem_scd1_current",
        # lineitem_scd1_cdc rotated OUT to an exposed slot in round 12
        # (tombstone semantics get their first standalone pandas-path
        # row; previously only hash-checked through this VARCHAR fold)
        "lineitem_scd1_stream",
        # round-12 rotation IN: the batch hopping window (its freed
        # slot backs the native watermarked streaming twin,
        # events_hopping_stream — the seventh driver gate)
        "events_in_hopping_window",
        # round-12 (late) rotation IN: the batch funnel (its freed slot
        # backs the native streaming dedup gate, events_dedup_stream —
        # the eighth driver gate; the stream twin stays direct)
        "event_funnel",
        "lineitem_quarantine",
        "lineitem_qty_price_stats", "events_rolling_value",
        "events_props_extracted", "events_value_locf",
        "event_transitions", "events_active_users",
        "events_conversion_paths", "events_trending_daily",
        # round-11: events_ohlc_hourly and part_name_linkage rotate OUT
        # to exposed slots; the long-exposed strict as-of rotates IN
        "events_ohlc_stream",
        "events_last_touch", "part_cooccurrence",
        "events_value_outliers", "events_asof_click",
    )),
}

# Same-schema row-union over the three ANN variants (all emit
# (query_id, neighbor_id, rank, cosine)): one exposed slot, full
# external verification of each variant's complete result.
UNION_BUNDLES = {
    # round-7: ann_ivf_topk rides here too (same output schema), which
    # frees its exposed slot for the as-of join; the k-means-refined
    # IVF variant stays individually exposed for the family
    "ann_bundle": UnionBundleConfig(
        "ann_bundle",
        ("ann_cosine_topk", "ann_lsh_topk", "ann_lsh_multiprobe_topk",
         "ann_ivf_topk"),
        ("query_id", "neighbor_id", "rank", "cosine")),
}

# Two-phase incremental replay through the real HWM/anti-join/latest-
# compare/deactivation code paths (see plans/replay.py): the member set
# covers one entity per incremental strategy — multi-source hub dedup +
# anti-join, sat latest-vs-target compare, ma_sat group compare, nh_link
# pure anti-join, eff_sat deactivation, link anti-join, rec_track
# per-rsrc_static HWM probe, ref_sat latest-compare, and the PIT
# snapshot-extension anti-insert (phase 1 sees the sdts-truncated
# spine; phase 2 the full spine). The cutoff splits the deterministic
# daily batches after day 1, so the converged state equals the one-shot
# full load and the ordinary full-load oracle certifies the incremental
# branches.
REPLAYS = {
    "incremental_replay": ReplayConfig(
        "incremental_replay", "2024-01-01 23:00:00", (
            # insert case: day-2/3 customers are NEW hashkeys
            ReplayMember("hub_customer", "hk_customer_h",
                         "CAST(c_custkey AS STRING)"),
            # drop case: every nation already arrives in phase 1, so the
            # phase-2 anti-join must drop ALL candidates — a broken
            # anti-join shows up as duplicate rows in the union hash
            ReplayMember("hub_nation_multisource", "hk_nation_h",
                         "CAST(n_nationkey AS STRING)"),
            ReplayMember("sat_customer_n0_s", "hk_customer_h",
                         "hd_customer_n_s"),
            ReplayMember("ma_sat_customer_orders", "hk_customer_h",
                         "hd_order_ms"),
            ReplayMember("nh_link_order_customer", "hk_order_customer_nl",
                         "hk_order_h"),
            ReplayMember("eff_sat_customer_nation", "hk_customer_nation_l",
                         "CAST(is_active AS STRING)"),
            # round-6 additions (the four strategies previously outside
            # the driver gate, VERDICT r5 missing #2):
            # link: HWM + anti-join on the link hashkey; day-2/3
            # lineitems carry both new and already-seen combos
            ReplayMember("link_part_supplier", "hk_part_supplier_l",
                         "hk_part_h"),
            # rec_track: per-rsrc_static HWM probe — customer and
            # orders sources have independent watermarks
            ReplayMember("rec_track_customer", "hk_customer_h", "stg"),
            # ref_sat_v0: HWM + rn=1 latest-vs-target hashdiff compare
            ReplayMember("ref_sat_part_v0", "CAST(p_partkey AS STRING)",
                         "concat(hd_part_s, '|', coalesce(p_brand, ''))"),
            # nh_sat: pure hk anti-join; the hourly events ldts spans
            # Jan 1-30, so the cutoff splits it (value is excluded from
            # the hd fold: double->string rendering is not portable)
            ReplayMember("nh_sat_user_event", "hk_event_nl",
                         "concat(CAST(user_id AS STRING), ':', "
                         "event_type, ':', coalesce(props, ''))"),
            # ref_hub: earliest-per-ref-key dedup + anti-join on the
            # ref-key tuple (batched parts: day-2/3 keys are new)
            ReplayMember("ref_hub_part", "CAST(p_partkey AS STRING)",
                         "CAST(NULL AS STRING)"),
            # pit: snapshot-extension increment; the hd folds both
            # satellite pointers (hk + ldts) so a stale pointer in
            # either phase fails the union hash; ldts/rsrc overridden
            # (a PIT carries sdts and no rsrc column)
            ReplayMember(
                "pit_customer", "dimension_key",
                "concat(hk_sat_customer_n0_s, '|', "
                "CAST(ldts_sat_customer_n0_s AS STRING), '|', "
                "hk_sat_customer_p0_s, '|', "
                "CAST(ldts_sat_customer_p0_s AS STRING))",
                ldts="sdts", rsrc="'pit'"),
            # round-7: bridge snapshot-extension increment — phase 1
            # builds paths over the sdts-truncated spine, phase 2's
            # bridge_key anti-join must insert exactly the extension
            # rows (and the eff-sat gate re-resolves per new sdts)
            ReplayMember("bridge_customer_nation", "bridge_key",
                         "concat(hk_customer_h, '|', hk_nation_h)",
                         ldts="sdts", rsrc="'bridge'"),
        )),
}

PITS = {
    "pit_customer": PitConfig(
        "pit_customer", "hub_customer", "hk_customer_h",
        ("sat_customer_n0_s", "sat_customer_p0_s"), "control_snap_v1",
        "dimension_key", snapshot_trigger_column="is_active",
        refer_to_ghost_records=True),
    # round-9: a nation-grain PIT whose subtree (hub_nation,
    # sat_nation_s, control_snap_v1) the bundle already builds — the
    # substrate for the driver-gated clean_up_pit certification below.
    # Rides the bundle (not an exposed slot).
    "pit_nation": PitConfig(
        "pit_nation", "hub_nation", "hk_nation_h",
        ("sat_nation_s",), "control_snap_v1",
        "dimension_key", snapshot_trigger_column="is_active",
        refer_to_ghost_records=True),
}

# round-9: clean_up_pit under the driver gate (r8 advice #5) — the PIT
# is materialized sdts-partitioned, the snapshot table thinned to
# weekly actives, the hook DELETEs through the metadata-only
# partition-drop fast path, and the SURVIVORS are hash-compared with
# the oracle's declarative `sdts IN (thinned actives)`. At sf0.01 the
# 31-day spine keeps 5 weekly actives, so ~84% of rows genuinely
# delete. clean_up_bridge shares the same _clean_up_by_snapshot core.
PIT_CLEANUPS = {"pit_nation_cleaned": PitCleanupConfig(
    "pit_nation_cleaned", pit_entity="pit_nation",
    snapshot_relation="control_snap_v1")}

# Bridge: the link-traversal snapshot structure the reference lacks
# (operators/bridge.py docstring). The single-leg customer->nation
# fixture runs the eff-sat gate for real: day-1 customer->nation links
# get deactivated-and-moved over days 2-3 in the eff_sat fixture, so
# early sdts rows resolve the OLD nation and later sdts rows the NEW
# one — a wrong interval join or gate shows up as extra/missing paths.
BRIDGES = {
    # control_snap_v1 + trigger (the PIT's spine) rather than the raw
    # v0 spine, so the replay's sdts truncation drives the bridge's
    # snapshot-extension increment under the driver gate too
    "bridge_customer_nation": BridgeConfig(
        "bridge_customer_nation", "hub_customer", "hk_customer_h",
        "control_snap_v1", (
            BridgeLeg("link_customer_nation", "hk_customer_nation_l",
                      "hk_customer_h", "hk_nation_h",
                      eff_sat="eff_sat_customer_nation"),),
        snapshot_trigger_column="is_active"),
}


# ---- LLM training-data pipeline operators (documents / embeddings) ----

DEDUP_EXACT = {"dedup_exact": ExactDedupConfig("dedup_exact")}
DEDUP_MINHASH = {"dedup_minhash_lsh": MinHashLshConfig("dedup_minhash_lsh")}
DEDUP_SIMHASH = {"dedup_simhash": SimHashConfig("dedup_simhash")}
DEDUP_JACCARD = {"dedup_ngram_jaccard": NgramJaccardConfig("dedup_ngram_jaccard")}
DEDUP_COSINE = {"dedup_embedding_cosine":
                EmbeddingCosineConfig("dedup_embedding_cosine")}
# connected components over the MinHash candidate pairs: group id =
# min doc id per component, the canonical survivor-selection step
DEDUP_GROUPS = {"dedup_groups": DupGroupsConfig("dedup_groups")}
# train/eval n-gram overlap (decontamination); eval set = doc_id % 17
CONTAMINATION = {"contamination_ngrams":
                 ContaminationConfig("contamination_ngrams")}
# round-7: the DROP to the report above — surviving training doc ids
# after removing eval docs and anything sharing an eval n-gram; the
# same gate runs per micro-batch in streaming.start_contamination_gate
DECONTAM = {"docs_decontaminated":
            ContaminationConfig("docs_decontaminated")}


def _build_decontam(spark, reg, cfg, g):
    # id-only projection: the drop SET is the verified semantics (the
    # payload columns pass through the gate untouched)
    return build_decontaminated(spark, reg, cfg, g).select(cfg.id_col)


def _decontam_oracle(b, reg, cfg, g):
    return contamination_gate_oracle(b, reg, cfg, g,
                                     out_cols=f"d.{cfg.id_col}")
ANNS = {
    "ann_cosine_topk": AnnConfig("ann_cosine_topk"),
    "ann_lsh_topk": AnnConfig("ann_lsh_topk", lsh_bits=6),
    # multi-probe: 6-bit buckets + 3 Hamming-1 flips per query —
    # deterministic probe sequence, so the oracle replays it exactly
    "ann_lsh_multiprobe_topk": AnnConfig("ann_lsh_multiprobe_topk",
                                         lsh_bits=6, multiprobe=3),
}
# round-10 (r9 advice #2): the persisted incremental ANN index — train
# centroids on batch 0, append 3 contiguous id-range batches to the
# cell-partitioned index store, probe only nprobe cells. Fixed
# centroids make assignment batch-independent, so the one-shot IVF
# oracle certifies the whole store loop (the dedup_incremental
# adjudication); nprobe=2 keeps the probe genuinely partial.
ANN_INDEXES = {"ann_index_persisted": AnnIndexConfig(
    "ann_index_persisted")}
ANN_IVFS = {
    "ann_ivf_topk": IvfConfig("ann_ivf_topk"),
    # k-means-refined centroids (2 Lloyd iterations on a half sample);
    # nprobe = n_cells makes the result exact so brute force oracles it
    # while the whole refinement plan runs under the driver gate
    "ann_ivf_kmeans_topk": IvfConfig("ann_ivf_kmeans_topk", nprobe=8,
                                     kmeans_iters=2, kmeans_sample_mod=2),
}
TEXT_LANGID = {"text_langid": LangIdConfig("text_langid")}
TEXT_QUALITY = {"text_quality": QualityConfig("text_quality")}
TEXT_TOKENS = {"text_token_count": TokenCountConfig("text_token_count")}
TEXT_FPRINT = {"text_fingerprint": FingerprintConfig("text_fingerprint")}
MULTIMODAL = {"multimodal_features": MultimodalConfig("multimodal_features")}
# round-7: real byte-parse decode (FIMG container header) through the
# same Arrow mapInPandas plan, incl. corrupt headerless rows -> NULL
# features; rides vault_dims_bundle so the exposed surface stays at 50
MULTIMODAL_DECODE = {
    "multimodal_decode": MultimodalDecodeConfig("multimodal_decode")}
# round-10: the 1 -> N Arrow fan-out shape (video frame sampling) —
# FVID header parse + stride-bounded frame rows; ~1/7 of payloads are
# headerless (one NULL row each), docs span 1..30 fps x 1..10 s so the
# stride/cap branches all carry rows. Rides curation_bundle.
MULTIMODAL_FRAMES = {"multimodal_framesample":
                     MultimodalFrameSampleConfig("multimodal_framesample")}
# round-10: fit-in-box resize geometry over the FIMG grammar — dims
# span 1..1920 x 1..1080 against box=256, so scaled, pass-through
# (small dims) and both long-side branches all carry rows; ~1/7
# corrupt rows drive the NULL branch. Rides curation_bundle.
MULTIMODAL_RESIZES = {"multimodal_resize":
                      MultimodalResizeConfig("multimodal_resize")}
# round-11 (r10 advice #7 — multimodal depth over new analytics
# kinds): REAL audio codec through the Arrow path — stdlib-wave
# encoded RIFF/WAVE PCM payloads parsed back by an independent
# hand-rolled chunk-walk parser; id-derived rates/channels/frames
# replayed in SQL give the full decode a value-level oracle, and ~1/7
# corrupt (non-RIFF) rows drive the NULL contract. Rides
# curation_bundle.
MULTIMODAL_WAVS = {"multimodal_wav_decode":
                   WavDecodeConfig("multimodal_wav_decode")}
# round-11: sample-level audio DSP — numpy decode of the REAL int16
# PCM frames (not just the header) into the exact integer signal
# census (peak/clipping/|s|/s^2 sums, zero crossings); the synthetic
# patterned signal is replayed per-sample by the oracle's
# generate_series SQL, so decode->DSP is value-gated end to end.
# Rides curation_bundle.
MULTIMODAL_WAV_STATS = {"multimodal_wav_stats":
                        WavStatsConfig("multimodal_wav_stats")}
# round-11: compressed-audio decode — format-7 (G.711 mu-law) WAV
# payloads expanded to linear int16 by the standard integer formula
# (table pinned exhaustively against stdlib audioop in unit tests)
# and censused; the oracle replays the expansion per-sample in SQL.
# Rides corpus_stats_bundle.
MULTIMODAL_ULAW = {"multimodal_ulaw_stats":
                   UlawStatsConfig("multimodal_ulaw_stats")}
# round-11: REAL PNG decode — genuine PNG containers (signature,
# big-endian chunks, per-chunk CRC-32, zlib-deflated scanlines)
# validated/inflated with stdlib zlib; ~1/7 non-PNG rows drive the
# NULL branch and ~1/11 rows carry ONE FLIPPED BIT in the IDAT body,
# externally proving the CRC gate fires (decode_ok='false').
# Rides corpus_stats_bundle.
MULTIMODAL_PNG = {"multimodal_png_decode":
                  PngDecodeConfig("multimodal_png_decode")}
# round-12 (r11 verdict #5): REAL video codec — genuine animated
# GIF89a containers (logical screen descriptor, 4-color global table,
# per-frame GCE + image descriptor, LZW-COMPRESSED pixel data from a
# hand-rolled compressor) decoded by an independent block-walk + LZW
# decompressor; per-frame pixel censuses replay through closed-form
# mod-4 SQL. ~1/7 non-GIF rows drive the NULL branch and ~1/11 rows
# are structurally TRUNCATED inside the last frame's data, externally
# proving partial-stream recovery (frames 0..n-2 decode, verdict
# 'false'). Rides corpus_stats_bundle. The video modality now carries
# a real inter-frame codec beside the FVID sampling plumbing.
MULTIMODAL_GIF = {"multimodal_gif_frames":
                  GifFramesConfig("multimodal_gif_frames")}
CURATION = {"docs_curated": CurationConfig(
    "docs_curated", repetition_entity="text_repetition"),
            # round-7: the keep-best-quality variant — duplicate-group
            # losers come from canonical_selection instead of the
            # keep-lowest-id pair heuristic (bundle rider; the
            # canonical chain is shared with the canonical_docs
            # member via _multi_consumed)
            "docs_curated_best": CurationConfig(
                "docs_curated_best",
                repetition_entity="text_repetition",
                canonical_entity="canonical_docs")}
# Gopher-style within-document repetition signals (threshold low enough
# that the synthetic corpus — short docs drawn from a small vocabulary —
# produces both flag values)
REPETITION = {"text_repetition": RepetitionConfig("text_repetition",
                                                  flag_threshold=0.2)}
# PII scrubbing exercised on a derived column that plants one email and
# one IPv4 per document (the synthetic corpus is PII-free word soup, so
# scanning raw `text` would make every count 0 and the redaction an
# identity — the derived column keeps counts/redaction genuinely
# exercised while staying a deterministic expression over the input,
# identical in both dialects)
# text is coalesced: Spark's concat NULLs out on any NULL argument
# while DuckDB's skips NULLs, so a NULL-text document would diverge
# between engine and oracle without the guard (round-5 advice)
PII = {"pii_redact": PiiRedactConfig(
    "pii_redact",
    text_expr=("concat(coalesce(text, ''), ' contact user', "
               "CAST(doc_id AS STRING), '@mail.example.com from 10.0.', "
               "CAST(doc_id % 256 AS STRING), '.7')"))}
SAMPLING = {"dataset_mix": DatasetMixConfig("dataset_mix")}
# round-8: deterministic seeded shuffle-shard — shard + in-shard
# position + the 48-bit key all fold into the bundle hd, so any
# ordering or hashing drift is driver-visible
CORPUS_SHUFFLE = {"corpus_shuffle": CorpusShuffleConfig("corpus_shuffle")}
# round-8: XLM-R-style alpha sampling over the skewed lang column
# (en 43%, tail langs ~13% at any sf) — alpha 0.5 + 0.8 budget puts
# the tail languages' boosted rate above 1, so the cap branch and the
# keep decision both carry real variance under the driver hash
TEMPERATURE_MIX = {"temperature_mix": TemperatureMixConfig(
    "temperature_mix", strata_col="lang", alpha="0.5",
    budget_ppm=800_000)}
# round-9: the up-sampling resampler (r8 advice #2) — full budget +
# alpha 0.5 over the skewed lang column puts every tail language's
# rate above 1e6 ppm (real repeats: floor copies + fractional draw)
# while en stays below it (pure sampling), so the whole-copy explode,
# the fractional branch and the downsample branch ALL carry rows under
# the driver hash; max_repeats=4 is the "max epochs" cap real recipes
# use (and the fixture's rates sit below it, so the cap never masks
# the arithmetic — the cap branch itself is unit-pinned)
TEMPERATURE_RESAMPLE = {"temperature_resample": TemperatureResampleConfig(
    "temperature_resample", strata_col="lang", alpha="0.5",
    budget_ppm=1_000_000, max_repeats=4)}
PACKING = {"sequence_packing": SequencePackingConfig("sequence_packing")}
PACK_MANIFEST = {"packing_manifest":
                 PackingManifestConfig("packing_manifest")}
SEMDEDUP = {"semdedup_embeddings": SemDedupConfig("semdedup_embeddings")}
QUANTIZE = {"quantize_embeddings":
            ScalarQuantizeConfig("quantize_embeddings")}
SUBSTRING = {"dedup_substring": SubstringDupConfig("dedup_substring")}
# min_df=2 exercises the vocabulary cut under the driver gate; the
# tf<->df join is AQE-decided (no forced broadcast) — see llm/tfidf.py
TFIDF = {"text_tfidf": TfidfConfig("text_tfidf", min_df=2)}
# source-level curation (round 6): per-source stats + the data-driven
# source gate. max_short_ratio sits inside the synthetic corpus's
# observed per-source spread (~0.28-0.52 at sf0.01), so the gate
# genuinely drops some sources and keeps others under the driver gate.
SOURCE_STATS = {"source_stats": SourceStatsConfig("source_stats")}
SOURCE_GATE = {"docs_source_gated": SourceGateConfig("docs_source_gated")}
# context-window chunking: ~3 overlapping 120-char chunks per synthetic
# doc (avg 298 chars), provenance offsets ride along
DOC_CHUNKS = {"doc_chunks": ChunkConfig("doc_chunks")}
# round-7: paragraph-level dedup composed over the chunk grammar —
# cross-document chunk signatures merged into per-doc duplicate spans
CHUNK_DEDUP = {"chunk_dedup_spans": ChunkDedupConfig("chunk_dedup_spans")}
# round-8: exact substring-dedup TRANSFORM (Lee et al. 2022 policy —
# cut the later copies of a duplicated passage, keep the document);
# 60-char disjoint chunks so the word-soup corpus yields real cross-doc
# repeats, first corpus-order occurrence survives
CHUNK_SCRUB = {"docs_chunk_scrubbed":
               ChunkScrubConfig("docs_chunk_scrubbed")}
# round-8: KenLM-style bigram quality score (fixed-point — llm/lm.py's
# portability contract); trained on the even-id half, scores every doc
LM_SCORE = {"text_lm_score": BigramLmConfig("text_lm_score")}
# round-8: CCNet perplexity bucketing over the LM score — per-language
# head/middle/tail terciles from a histogram-derived exact cutoff (no
# per-language corpus sort, llm/lm.py docstring); rides the bundle so
# the text_lm_score subtree is shared, and the corpus' 3 languages x
# integer-ppm tie structure exercises the ties-go-up rule for real
CCNET = {"docs_ccnet_buckets": CcnetBucketsConfig("docs_ccnet_buckets")}
# round-8: corpus vocabulary top-k (tf + df + deterministic rank) —
# the word-soup corpus has a known closed vocabulary, so the driver
# hash pins both counts and the full tie-break ordering
VOCAB = {"text_vocab_topk": VocabTopkConfig("text_vocab_topk")}
# round-8: CCNet-style cross-document line-frequency boilerplate
# removal. The fixture plants the web-page shape the operator exists
# for: a banner line shared by EVERY doc (always removed), a footer
# shared by the id%3==0 third (removed), a per-doc unique tail (kept),
# plus the same mid-text line structure the line-clean fixture plants —
# so removal, survival and ordering all carry variance under the
# driver hash. The literal newlines inside the SQL string parse
# identically in both dialects (the LINECLEAN trick).
BOILERPLATE = {"docs_boilerplate_clean": BoilerplateConfig(
    "docs_boilerplate_clean",
    text_expr=("concat('all rights reserved.', '\n', "
               "replace(coalesce(text, ''), ' window ', "
               "concat('.', '\n', 'window ')), '\n', "
               "CASE WHEN doc_id % 3 = 0 "
               "THEN 'subscribe to our newsletter.' "
               "ELSE concat('doc tail ', doc_id) END)"))}
# round-8: Gopher rule-table filter at the paper's default thresholds —
# the corpus' 10..99-word docs split naturally on the 50-word floor and
# on the >=2-stopword rule ('the'/'a' are in-vocabulary), so every rule
# column carries real variance under the driver hash
GOPHER = {"gopher_rules": GopherRulesConfig("gopher_rules")}
# round-8: DSIR-style importance score — the src0 slice plays the
# trusted target corpus; every doc gets the mean per-bigram target
# posterior in ppm (fixed-point analogue of the paper's LLR weight,
# see llm/dsir.py) and a threshold selection flag
# threshold sits between the target slice's score mode (~110k ppm at
# sf0.01) and the raw complement's (~79k), so the flag genuinely splits
DSIR = {"dsir_score": DsirConfig("dsir_score", threshold_ppm=95_000)}
# round-9: FineWeb-edu-shape learned quality classifier (r8 advice #4)
# — Gopher-keep teacher labels on the even-id half (the LM's train
# split pattern), 512 hashed features, scored over every doc. The
# word-soup corpus separates weakly (observed sf0.01 score band
# 673k..717k ppm), so the threshold sits at the band's median — the
# selection flag genuinely splits under the driver hash
QUALITY_CLF = {"quality_classifier": QualityClassifierConfig(
    "quality_classifier", threshold_ppm=702_000)}
# data-card profile of the documents table (exact counts, one scan)
PROFILE = {"dataset_profile": ProfileConfig("dataset_profile")}
# round-8: exact per-source length quartiles (type-1 order statistics
# from the bounded histogram — no per-group corpus sort); 20 sources x
# varied n_chars, so every quartile column carries real variance
QUANTILES = {"source_len_quantiles": GroupedQuantilesConfig(
    "source_len_quantiles")}
# round-8: per-source token accounting — counts, token sums and the
# ppm share all fold into the bundle hd
TOKEN_BUDGET = {"source_token_budget":
                TokenBudgetConfig("source_token_budget")}
# C4-style line cleaning: the synthetic corpus is single-line word
# soup, so the fixture plants a deterministic line structure (a period
# + newline before each 'window' occurrence — the literal newline
# inside the SQL string parses identically in both dialects); docs
# then carry a mix of terminated/unterminated and short/long lines,
# so BOTH keep-rules genuinely bite under the driver gate
LINECLEAN = {"text_line_clean": LineCleanConfig(
    "text_line_clean",
    text_expr=("replace(coalesce(text, ''), ' window ', "
               "concat('.', '\n', 'window '))"))}
DEDUP_REPORT = {"dedup_report": DedupReportConfig("dedup_report")}
# round-7: as-of join (operators/asof.py) — each event attaches the
# user's latest STRICTLY-earlier click (strict=True keeps a click
# event from matching itself, so the mode knob is genuinely exercised;
# ~1/3 of events have no prior click -> the NULL branch runs too).
# DuckDB's native ASOF LEFT JOIN oracles the union-window plan.
ASOF = {"events_asof_click": AsofJoinConfig(
    "events_asof_click", strict=True,
    left_cols=("event_id", "user_id", "ts", "event_type", "value")),
        # round-8: the INCLUSIVE mode (at-or-before) under the driver
        # gate too — a click event now matches itself, so the side-bit
        # ordering at equal timestamps is externally verified in both
        # polarities (r7 advice #4)
        "events_asof_click_incl": AsofJoinConfig(
            "events_asof_click_incl", strict=False,
            left_cols=("event_id", "user_id", "ts", "event_type",
                       "value")),
        # round-8: the tolerance (max-staleness) knob under the driver
        # gate — 24h against a ~19h median click staleness, so roughly
        # half the matches genuinely null out (merge_asof rule: a stale
        # latest match is NO match, never an older fallback). The
        # registry normalizes events.ts to a micros TIMESTAMP in BOTH
        # engines (context.py), satisfying the operator's timestamp
        # contract; whole-second tolerances compare exactly.
        "events_asof_click_tol": AsofJoinConfig(
            "events_asof_click_tol", strict=False,
            tolerance_nanos=24 * 3600 * 10**9,
            left_cols=("event_id", "user_id", "ts"))}
# round-7 event analytics (operators/events.py), bundle-riders. At a
# 30-min gap the sparse synthetic stream (150 users, ~2 events per
# user-day at sf0.01) yields mostly singleton sessions plus ~450
# multi-event ones — both the gap-break and the continue branch run
# under the driver gate. Hopping windows use 1h width / 15min hop =
# 4 containing windows per event.
SESSIONS = {"event_sessions": SessionizeConfig(
    "event_sessions", gap_seconds=1800)}
# round-8: first-touch funnel — the synthetic stream's 150 users /
# 5 event types give every depth 0..3 real membership, so the depth
# column and each step timestamp carry variance under the driver hash
FUNNELS = {"event_funnel": FunnelConfig("event_funnel")}
# round-8: cohort retention — the ~35-day synthetic stream yields a
# full triangular (cohort x offset) matrix with varied counts
COHORTS = {"event_cohort_retention":
           CohortRetentionConfig("event_cohort_retention")}
# round-8: strategy diff — keep-lowest-id vs keep-best-quality
# curation genuinely disagree on dup-group survivors (8 docs each way
# at sf0.001), so both one-sided statuses carry real rows; common
# survivors are byte-identical (same source), so the diff IS the
# strategy delta. The changed branch is pinned by unit tests.
DIFFS = {"curation_strategy_diff": TableDiffConfig(
    "curation_strategy_diff",
    left_entity="docs_curated", right_entity="docs_curated_best",
    key_cols=("doc_id",),
    # quality_score (DOUBLE) deliberately NOT folded: double->string
    # rendering is engine-specific outside a narrow range (the
    # dedup_report lesson); lang + token count pin the row identity
    payload_cols=("predicted_lang", "n_tokens"))}
HOPPING = {"event_hopping_agg": HoppingAggConfig(
    "event_hopping_agg", width_seconds=3600, hop_seconds=900)}
# round-7 interval join (operators/rangejoin.py): events against the
# snapshot spine's derived daily windows [sdts, sdts + 1d) — unkeyed,
# derived end, 1-day bins; DuckDB's raw inequality join (IEJoin
# algorithm) oracles the binned decomposition
INTERVAL_JOINS = {"events_in_snapshot_day":
                  IntervalJoinConfig("events_in_snapshot_day"),
                  # round-8: the KEYED + explicit-end_col variant under
                  # the driver gate (r7 advice #4) — each event joins
                  # to the hopping windows of ITS OWN event_type that
                  # contain it (the feature-enrichment join a training
                  # pipeline runs), with the key deliberately listed in
                  # point_cols to exercise the qualified-projection fix
                  "events_in_hopping_window": IntervalJoinConfig(
                      "events_in_hopping_window",
                      points_entity="events",
                      intervals_entity="event_hopping_agg",
                      ts_col="ts", start_col="window_start",
                      end_col="window_end", key_col="event_type",
                      bin_seconds=3600,
                      point_cols=("event_id", "ts", "event_type"),
                      interval_cols=("window_start", "n_events"))}
# round-7 soft-constraint suite (operators/checks.py): the reference
# doc's dbt tests — hub not_null/unique, link unique + relationships
# to both parents, satellite grain + parent relationship, ref-hub key
# unique — instantiated over entities the bundle ALREADY builds, so
# the shared subtrees are computed once per bundle run
# (_multi_consumed persists them) instead of doubling the bundle's
# cost; the example project's vault_checks.yml shows the per-vault
# instantiation over its own entities. All vault checks are green
# (0 violations, proving the loads); two raw-table checks genuinely
# flag — lineitem's repeated order keys exercise the duplicate
# arithmetic, user ids 100-149 have no supplier key exercising the
# anti-join count — so non-zero paths are driver-verified too.
VAULT_CHECKS = {"vault_checks": VaultChecksConfig("vault_checks", (
    Check("hub_supplier", "not_null", ("hk_supplier_h",)),
    Check("hub_supplier", "unique", ("hk_supplier_h",)),
    Check("link_supplier_nation", "unique", ("hk_supplier_nation_l",)),
    Check("link_supplier_nation", "relationship", ("hk_supplier_h",),
          to_entity="hub_supplier"),
    Check("link_supplier_nation", "relationship", ("hk_nation_h",),
          to_entity="hub_nation"),
    Check("sat_nation_s", "unique_combination",
          ("hk_nation_h", "ldts")),
    Check("sat_nation_s", "relationship", ("hk_nation_h",),
          to_entity="hub_nation"),
    Check("sat_part_s", "unique_combination", ("hk_part_h", "ldts")),
    Check("ref_hub_nation", "unique", ("n_nationkey",)),
    # deliberately-flagging raw checks (see comment above)
    Check("lineitem", "unique", ("l_orderkey",)),
    Check("events", "relationship", ("user_id",),
          to_entity="supplier", to_columns=("s_suppkey",)),
))}
# round-7 selection ops (llm/selection.py):
# keep-best-quality survivor per duplicate group (vs the curation
# chain's keep-lowest-id heuristic)
CANONICAL = {"canonical_docs": CanonicalConfig("canonical_docs")}
# deterministic per-stratum train/validation/test assignment; en and de
# carry explicit fractions, the rest take the defaults — all three
# splits occur in every stratum at sf0.01 (218 en .. 64 fr docs)
SPLIT = {"docs_split": StratifiedSplitConfig(
    "docs_split", fractions=(("en", 0.7, 0.15), ("de", 0.5, 0.25)))}
# per-source quality cap: 20 sources x 25 docs at sf0.01, so cap=5
# drops 80% of every source, and n_salts=4 (~6 docs per salt slice)
# makes BOTH passes of the skew-safe two-stage top-k genuinely filter
SOURCE_CAP = {"docs_source_capped": SourceCapConfig(
    "docs_source_capped", cap=5, n_salts=4)}
# round-8: incremental corpus dedup (r7 advice #3) — three id-range
# batches processed through a persisted MinHash signature index
# (llm/incdedup.py store loop), certified against the one-shot
# first-occurrence-wins SQL
INC_DEDUP = {"dedup_incremental":
             IncrementalDedupConfig("dedup_incremental")}
# round-9: the structured-streaming twin under the driver gate (r8
# advice #3) — the corpus arrives as 3 mtime-pinned files, readStream ->
# foreachBatch(process_dedup_batch) with a fresh checkpoint processes
# them as epochs 0..2, and the persisted verdict table is hash-compared
# against the same one-shot SQL that certifies the batch loop. Green =
# an actual streaming execution verified externally, not just its
# batch core.
INC_DEDUP_STREAM = {"dedup_incremental_stream":
                    StreamingDedupEntityConfig("dedup_incremental_stream")}
# round-10 (r9 advice #4): stateful streaming sessionization under the
# driver gate — the events stream arrives as 3 time-range files plus a
# sentinel flush file, applyInPandasWithState closes gap sessions
# through a checkpointed availableNow run, and the sink is
# hash-compared against the BATCH sessionize SQL (same gap as
# event_sessions, so both engines' session semantics meet in one
# oracle). Green == an actual stateful streaming execution verified
# externally, not just its pytest stream==batch twin.
SESSION_STREAMS = {"event_sessions_stream":
                   StreamingSessionEntityConfig("event_sessions_stream")}
# round-11 (r10 advice #5): the funnel stateful streaming twin under
# the driver gate — the events stream arrives as 3 time-range files,
# applyInPandasWithState advances per-user first-touch funnels through
# a checkpointed availableNow run, the per-batch snapshots reduce by
# set-once MAX, and the result is hash-compared against the BATCH
# funnel SQL (same steps as event_funnel). Fifth driver-gated
# streaming path; no sentinel needed (a funnel never closes).
FUNNEL_STREAMS = {"event_funnel_stream":
                  StreamingFunnelEntityConfig("event_funnel_stream")}
# round-12 (r11 verdict #1): the streaming VAULT LOAD itself under the
# driver gate — the sixth and most on-theme streaming path: the events
# source arrives as 3 time-range files, readStream -> foreachBatch runs
# the REAL stage -> hub_user -> nh_sat_user_event loads per micro-batch
# (streaming/ingest.py micro_batch_loader: state in the target tables,
# insert-only anti-joins, the reference's own multi-batch contract,
# macros/tables/hub.sql:7) through a checkpointed availableNow run, and
# the loaded store folds bundle-style against the one-shot BATCH
# hub/nh_sat SQL (the oracle IS bundle_oracle over the same members).
# The nh_sat hd folds value as exact fixed-point cents beside the full
# categorical payload, so a streaming-path payload corruption is
# driver-visible.
VAULT_INGEST_STREAMS = {"events_vault_ingest_stream":
    StreamingVaultIngestEntityConfig(
        "events_vault_ingest_stream",
        stage=STAGES["stage_events"],
        hubs=(HUBS["hub_user"],),
        nh_sats=(NH_SATS["nh_sat_user_event"],),
        members=(
            BundleMember("hub_user", "hk_user_h",
                         "CAST(user_id AS STRING)"),
            BundleMember("nh_sat_user_event", "hk_event_nl",
                         "concat(CAST(user_id AS STRING), ':', "
                         "event_type, ':', "
                         "coalesce(CAST(CAST(round(value * 100) "
                         "AS BIGINT) AS STRING), ''), ':', "
                         "coalesce(props, ''))"),
        ))}
# round-10: the OHLC streaming twin under the driver gate too — three
# id-range arrival files fold through foreachBatch into batch_id
# partitions of the partial store (epoch replays overwrite), and the
# merged finalized bars hash-compare against the batch OHLC SQL.
# Rides analytics_bundle (partials merge commutatively, so the batch
# oracle certifies the whole streaming store loop).
# round-12: the SEVENTH driver-gated streaming path and the only one
# exercising Spark's NATIVE streaming-aggregation engine — watermarked
# hopping windows in APPEND mode (StateStoreSave + watermark eviction;
# the other six gates are foreachBatch / applyInPandasWithState). The
# events stream arrives as 3 time-range files plus one far-future
# sentinel event that advances the watermark past every real window,
# flushing them all to the parquet sink exactly once; the oracle is
# the batch hopping-window SQL (the same geometry as
# events_in_hopping_window, which rotates into analytics_bundle).
HOPPING_STREAMS = {"events_hopping_stream":
                   StreamingHoppingEntityConfig("events_hopping_stream")}
# round-12 (late): the EIGHTH driver-gated streaming path — Spark's
# NATIVE streaming deduplication (dropDuplicatesWithinWatermark ->
# per-key state-store probes with watermark-bounded retention), the
# one native stateful operator class the first seven gates left
# uncovered. The events stream is inflated with byte-identical
# duplicates (same-epoch AND re-delivered-one-epoch-later — the
# at-least-once replay shape that forces a cross-epoch state hit);
# exactly one copy per event_id must survive, so the oracle is just
# the base projection. Its slot comes from event_funnel (the batch
# twin) rotating into analytics_bundle — the same batch-rotates-in /
# stream-stays-direct pattern as events_in_hopping_window.
DROPDUP_STREAMS = {"events_dedup_stream":
                   StreamingDropDupEntityConfig("events_dedup_stream")}
OHLC_STREAMS = {"events_ohlc_stream":
                OhlcStreamEntityConfig("events_ohlc_stream")}
# round-10: the SCD1 streaming twin under the driver gate — the same
# Scd1MergeConfig knobs as lineitem_scd1_current, executed through an
# actual readStream -> foreachBatch(merge_scd1_batch) -> checkpointed
# availableNow run (one arrival file per ascending version group);
# certified by the identical one-shot latest-per-key SQL. Fourth
# driver-gated streaming path; analytics_bundle rider.
SCD1_STREAMS = {"lineitem_scd1_stream": Scd1MergeConfig(
    "lineitem_scd1_stream", "lineitem", key_cols=("l_orderkey",),
    version_expr="l_linenumber % 3",
    tie_cols=("l_linenumber", "l_partkey", "l_suppkey"),
    payload_cols=("l_quantity",))}

# round-9: key-skew heavy-hitter card (llm/profile.py) — top-8 values
# per column with ppm share over events (event_type is 5 hot values,
# user_id ~150 near-uniform keys, so both the "dominant key" and the
# "flat tail truncated at k" shapes are driver-verified; the NULL
# sentinel ranks via props which carries no NULLs — NULL folding is
# unit-tested instead)
HEAVY_HITTERS = {"events_skew_profile": HeavyHittersConfig(
    "events_skew_profile", "events", ("event_type", "user_id"), k=8)}
# round-9: first-order transition matrix over the event stream —
# 5 event types + the '<END>' absorbing state give a dense 5x6 census
# with genuinely varied ppm rows; the (ts, id) tie-break is exercised
# by construction (the synthetic stream has duplicate user-ts pairs)
TRANSITIONS = {"event_transitions":
               TransitionMatrixConfig("event_transitions")}
# round-9: non-parquet source paths under the driver gate — the rows
# stage to json-lines / csv in scratch and read back through
# sources/readers.py; the oracle reads the ORIGINAL parquet rows, so
# green == the text round-trip is lossless for the declared columns
# (props carries embedded JSON braces/quotes/commas through the csv
# quoting path)
SOURCE_ROUNDTRIPS = {
    "events_source_json": SourceRoundtripConfig(
        "events_source_json", format="json"),
    "events_source_csv": SourceRoundtripConfig(
        "events_source_csv", format="csv"),
    "events_source_orc": SourceRoundtripConfig(
        "events_source_orc", format="orc"),
}
# round-9: per-language percentile trim gate — [p10, p90] bounds on
# n_chars flag ~1/5 of every stratum, so both gate polarities carry
# real rows per language
QUANTILE_GATES = {"docs_length_gate": QuantileGateConfig(
    "docs_length_gate", p_lo=10, p_hi=90)}
# round-9: schema-contract quarantine lane — qty=50 rows fail the
# range rule (~2% of lineitem), discount > 0.08 fails independently
# (~15%), and rows failing BOTH exercise the multi-reason concat;
# the two always-true rules pin the non-firing branch
QUARANTINES = {"lineitem_quarantine": QuarantineConfig(
    "lineitem_quarantine", "lineitem",
    rules=(("qty_range", "l_quantity BETWEEN 1 AND 49"),
           ("discount_cap", "l_discount <= 0.08"),
           ("positive_price", "l_extendedprice > 0"),
           ("tax_known", "l_tax IS NOT NULL")),
    id_cols=("l_orderkey", "l_linenumber"),
    payload_cols=("l_returnflag",))}
# round-9: exact second-moment census — integer units sized to the
# BIGINT contract (quantity 1..50, price rounded to dollars <= ~1e5);
# 3 returnflag groups with all six moments varying
SUFFICIENT_STATS = {"lineitem_qty_price_stats": SufficientStatsConfig(
    "lineitem_qty_price_stats", "lineitem", group_col="l_returnflag",
    x_expr="CAST(round(l_quantity) AS BIGINT)",
    y_expr="CAST(round(l_extendedprice) AS BIGINT)")}
# round-9: pivot crosstab — docs per (source x lang) with exact-cents
# character sums; 20 sources x 5 declared langs, every cell non-trivial
# and a few zero cells exercise the coalesce-total contract
PIVOTS = {"docs_source_lang_pivot": PivotConfig(
    "docs_source_lang_pivot", "documents", group_col="source",
    pivot_col="lang", values=("de", "en", "es", "fr", "zh"),
    sum_expr="n_chars")}
# round-9: exactly-n-per-stratum sample — 25 docs/lang at sf0.01 with
# n=10 keeps the cut genuinely selective in every stratum
EXACT_SAMPLES = {"docs_exact_sample": ExactSampleConfig(
    "docs_exact_sample", n_per_stratum=10)}
# round-9: trailing 5-event rolling block per user — sparse synthetic
# streams give every frame size 1..5 real membership
ROLLING = {"events_rolling_value": RollingAggConfig(
    "events_rolling_value")}
# round-9: semi-structured JSON extraction — the existing '$.k' path
# carries real integers, '$.missing' drives the NULL branch, and an
# intentionally non-numeric extraction of the whole document ('$')
# exercises the TRY_CAST-to-NULL contract in both engines
JSON_EXTRACTS = {"events_props_extracted": JsonExtractConfig(
    "events_props_extracted", "events", "props",
    fields=(("k_value", "$.k", "bigint"),
            ("missing_field", "$.missing", "string"),
            ("bad_cast", "$", "int")),
    keep_cols=("event_id",))}
# round-9: LOCF gap fill — error events' values are deterministically
# NULLed (~1/5 of the stream), so the carry-forward branch, the
# leading-NULL branch (users whose first event errors) and the
# is_filled flag all run under the driver gate
LOCFS = {"events_value_locf": LocfConfig(
    "events_value_locf",
    value_expr="CASE WHEN event_type = 'error' THEN NULL ELSE value END")}
# round-9: per-language vocabulary top-k — 5 langs x 20 ranks with the
# corpus-wide variant's tie-break contract
GROUPED_VOCABS = {"vocab_topk_by_lang":
                  GroupedVocabConfig("vocab_topk_by_lang")}
# round-9: fixed-width length histogram — 12 integer bins over
# n_chars (10..99-word docs spread across every bin at sf0.01), counts
# + ppm shares all driver-hashed
HISTOGRAMS = {"docs_length_histogram": HistogramConfig(
    "docs_length_histogram", "documents", "n_chars", n_bins=12)}
# round-9: SCD1 latest-wins merge (operators/merge.py) — lineitem
# versioned on l_linenumber % 3 (orders hold up to 7 lines, so most
# keys recur across all 3 batches and the replay genuinely UPDATES
# existing keys, not just inserts); the in-batch tie-break is
# exercised too (several lines of one order share a version).
# tie_cols include part+supp: the synthetic lineitem REUSES
# (l_orderkey, l_linenumber) across rows with different payloads
# (11.8k dup pairs at sf0.01), so the line number alone violates the
# operator's (key, version, tie)-uniqueness contract — an
# insufficient tie is exactly the nondeterminism this fixture must
# not ship (it matched at sf0.001 only because single-partition scan
# order happened to agree across engines)
SCD1_MERGES = {"lineitem_scd1_current": Scd1MergeConfig(
    "lineitem_scd1_current", "lineitem", key_cols=("l_orderkey",),
    version_expr="l_linenumber % 3",
    tie_cols=("l_linenumber", "l_partkey", "l_suppkey"),
    payload_cols=("l_quantity",)),
               # round-9: the CDC-apply variant — returnflag 'R' rows
               # are tombstones, so an order whose LATEST line is a
               # return leaves the current table (~1/4 of keys at any
               # sf) while orders with only EARLIER returns survive
               # (the re-insert path); certified against the one-shot
               # latest-not-tombstone SQL
               "lineitem_scd1_cdc": Scd1MergeConfig(
    "lineitem_scd1_cdc", "lineitem", key_cols=("l_orderkey",),
    version_expr="l_linenumber % 3",
    tie_cols=("l_linenumber", "l_partkey", "l_suppkey"),
    payload_cols=("l_quantity",),
    delete_expr="l_returnflag = 'R'")}
# round-9: SQL-standard grouping-sets census (operators/rollup.py) —
# ROLLUP over lineitem's (returnflag, linestatus) exercises subtotal +
# grand-total rows (10 grouping combinations at any sf), CUBE over
# documents' (lang, source) exercises the 2^n fan-out incl. the
# source-only marginals; GROUPING() flags fold into the bundle hk so
# subtotal identity (not just value) is driver-pinned
ROLLUPS = {
    "lineitem_rollup_census": GroupingSetsConfig(
        "lineitem_rollup_census", "lineitem",
        ("l_returnflag", "l_linestatus"), mode="rollup",
        sum_cents=(("sum_qty_cents", "l_quantity"),
                   ("sum_price_cents", "l_extendedprice"))),
    "docs_cube_census": GroupingSetsConfig(
        "docs_cube_census", "documents", ("lang", "source"), mode="cube",
        sum_cents=(("sum_chars_cents", "n_chars"),)),
}

# round-10: daily trending top-3 event types — 30 buckets x 3 ranks
# with genuinely shifting leaders day to day (counts are close by
# construction, so the (cnt, value) tie-break is exercised)
TRENDINGS = {"events_trending_daily": TrendingConfig(
    "events_trending_daily")}
# round-10: canonical text normalization — the synthetic docs carry
# punctuation and case variance, so norm_md5 collapses real variants
NORMALIZES = {"docs_normalized": TextNormalizeConfig("docs_normalized")}

# round-10: small-file compaction — a 24-file fragmented copy of
# documents rewrites to 4 files; the oracle reads the original, so
# green == zero row loss/duplication through the rewrite (file-count
# contract pinned in tests/test_compaction.py)
COMPACTIONS = {"docs_compacted": CompactionConfig(
    "docs_compacted", fragment_files=24)}
# round-10: per-language percentile rank of document length — ties
# share ranks by construction (lengths repeat within a language), and
# the 5 strata have genuinely different length distributions
PERCENTILE_RANKS = {"docs_length_pr": PercentileRankConfig(
    "docs_length_pr")}

# round-10: k-anonymity over the (lang, source) quasi-identifiers —
# at sf0.01 the ~97 QI groups split 55 below k=5 / 42 at-or-above, so
# both the suppression and the pass-through branch carry real rows
# under the driver gate (at sf0.1 every group clears k; suppression
# stays unit-pinned there)
K_ANONYMITIES = {"docs_k_anonymity": KAnonymityConfig(
    "docs_k_anonymity")}
# round-10 (r9 advice #6): URL normalization + registered-domain
# rollup + blocklist gate. The synthetic corpus has no URL column, so
# the fixture plants a deterministic one (the PII pattern): mixed-case
# schemes and hosts exercise the case-fold, ~1/3 of URLs carry
# tracking params (with a non-tracking param that must SURVIVE the
# strip), ~1/11 carry fragments, and 3 of the 5 hosts roll up to one
# registered domain. blocklist 'ads.net' blocks the tracker host's 20%.
URL_GATES = {"docs_url_gate": UrlGateConfig(
    "docs_url_gate",
    url_expr=(
        "concat(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END, "
        "'://', CASE CAST(doc_id % 5 AS INT) "
        "WHEN 0 THEN 'WWW.Example.COM' "
        "WHEN 1 THEN 'news.example.com' "
        "WHEN 2 THEN 'Tracker.ADS.net' "
        "WHEN 3 THEN 'cdn.media.org' "
        "ELSE 'Blog.Example.com' END, "
        "'/p/', CAST(doc_id AS STRING), "
        "CASE WHEN doc_id % 3 = 0 THEN "
        "concat('?utm_source=feed&utm_campaign=x&id=', "
        "CAST(doc_id % 7 AS STRING)) "
        "WHEN doc_id % 3 = 1 THEN '?id=9' ELSE '' END, "
        "CASE WHEN doc_id % 11 = 0 THEN '#sec' ELSE '' END)"),
    blocklist=("ads.net",))}

# round-10: hive-partitioned layout round-trip — documents stage
# partitionBy(lang) to scratch parquet and read back pruned to lang =
# 'en' (~100 docs at sf0.01); the oracle filters the original table,
# so green == the layout places and prunes rows exactly
PARTITIONED_ROUNDTRIPS = {"docs_partitioned_en": PartitionedRoundtripConfig(
    "docs_partitioned_en")}

# round-10: hourly OHLC bars per event type — ~3.4k (type, hour) bars
# at sf0.01 over the 30-day stream, with genuine open/close tie-breaks
# (duplicate user-ts pairs exist by construction)
OHLC_BARS = {"events_ohlc_hourly": OhlcBarsConfig("events_ohlc_hourly")}
# round-10: last-touch attribution — ~2k purchases at sf0.01, ~1/5 of
# them first-in-stream or preceded only by purchases (the NULL
# direct-traffic branch), the rest credit a real prior touch
ATTRIBUTIONS = {"events_last_touch": AttributionConfig(
    "events_last_touch")}

# round-10: exact-total proportional sample — total_n=97 (prime)
# against the skewed language mix forces non-zero remainders, so the
# largest-remainder seat distribution is real at every sf
PROPORTIONAL_SAMPLES = {"docs_proportional_sample":
                        ProportionalSampleConfig(
                            "docs_proportional_sample", total_n=97)}
# round-10: DAU + trailing-7-day distinct active users — 30 active
# days at every sf, with the rolling window ramping up over the first
# week (the day-1..6 partial-window branch is real data, not an edge)
ACTIVE_USERS = {"events_active_users": ActiveUsersConfig(
    "events_active_users")}
# round-10: conversion paths — ~2k purchases at sf0.01 with touch
# histories from 0 (empty-path direct conversions) past the
# max_touches=5 truncation point, so the slice boundary is exercised
CONVERSION_PATHS = {"events_conversion_paths": ConversionPathConfig(
    "events_conversion_paths")}

# round-10: market-basket co-occurrence — orders hold up to ~13 parts,
# min_item_support=25 genuinely apriori-prunes (~16% of parts drop at
# sf0.01, ~47% at sf0.1), min_pair_support=2 keeps ~2.9k frequent
# pairs at sf0.01; the basket cap is unit-exercised, not fixture-hit
COOCCURRENCES = {"part_cooccurrence": CooccurrenceConfig(
    "part_cooccurrence", min_item_support=25, min_pair_support=2)}

# round-10: source-overlap matrix — 20 sources pair to a dense 190-row
# census at sf0.01 (every pair shares shingles by construction:
# documents draw from one synthetic vocabulary), with n_shared /
# jaccard_ppm genuinely varied across pairs
SOURCE_OVERLAPS = {"source_overlap_matrix": SourceOverlapConfig(
    "source_overlap_matrix")}

# round-10: blocked fuzzy record linkage — (p_brand, p_size) blocks
# bound the scored pairs to ~1.6k at sf0.01 / ~160k at sf0.1;
# levenshtein <= 3 on the two-word names keeps ~106 genuine
# near-match pairs at the driver's sf0.01 (~10k at sf0.1). sf0.001's
# blocks hold no near pairs (0 rows there) — semantics are pinned by
# tests/test_linkage.py's constructed frames; the block cap is
# unit-exercised, not fixture-hit
LINKAGES = {"part_name_linkage": BlockedLinkageConfig(
    "part_name_linkage", block_cols=("p_brand", "p_size"),
    max_distance=3)}

# round-10: Tukey-fence outlier gate — ~1% of events get a planted
# 50x value spike (event_id % 97), so the gate genuinely fires while
# the [q25-1.5IQR, q75+1.5IQR] body passes; integer fences by the
# doubled-comparison trick (no DOUBLE, no overflow cliff)
OUTLIER_GATES = {"events_value_outliers": TukeyOutlierConfig(
    "events_value_outliers",
    value_expr=("CAST(round((CASE WHEN event_id % 97 = 0 "
                "THEN value * 50 ELSE value END) * 100) AS BIGINT)"))}
# round-10: deterministic bucket-bounded negative sampling — 20
# anchors at sf0.01 (doc_id % 25), 8 buckets x ~60 docs, k=4, so every
# anchor draws real competition and the 48-bit score tie-break is
# exercised across the full corpus
NEGATIVE_SAMPLES = {"docs_negative_samples": NegativeSamplesConfig(
    "docs_negative_samples")}
# round-10: stratified k-fold assignment — 5 langs x 5 folds with
# genuinely varied per-cell counts at every sf; fold stability under
# corpus growth is the split operator's salted-hash contract
KFOLDS = {"docs_kfold": KFoldConfig("docs_kfold")}
# round-10: profile drift between two id-slices of documents — the
# doc_id min/max genuinely differ between slices (minmax_changed
# true) while lang/source ranges agree (false), so both flag
# polarities carry rows; null-ratio drift on the NULL-free synthetic
# corpus is pinned by unit tests with constructed frames
PROFILE_DRIFTS = {"docs_profile_drift": ProfileDriftConfig(
    "docs_profile_drift")}

_NO_DEPS = lambda c: []  # noqa: E731 — LLM ops read raw tables directly


# name -> (cfg-dict, catalogue kind, oracle builder): the Spark builder
# and dependency rule come from yaml_api.KINDS. Entries outside the
# catalogue (bundles, replay, streams, fixture-only builders) give
# (cfg-dict, spark builder, oracle builder, dependencies) instead.
_FAMILIES = [
    (STAGES, "stage", stage_oracle),
    (HUBS, "hub", hub_oracle),
    (LINKS, "link", link_oracle),
    (SATS, "sat_v0", sat_v0_oracle),
    (SATS_V1, "sat_v1", sat_v1_oracle),
    (NH_SATS, "nh_sat", nh_sat_oracle),
    (NH_LINKS, "nh_link", nh_link_oracle),
    (MA_SATS, "ma_sat_v0", ma_sat_v0_oracle),
    (MA_SATS_V1, "ma_sat_v1", ma_sat_v1_oracle),
    (REC_TRACKS, "rec_track_sat", rec_track_oracle),
    (EFF_SATS, "eff_sat_v0", eff_sat_v0_oracle),
    (REF_HUBS, "ref_hub", ref_hub_oracle),
    (REF_SATS, "ref_sat_v0", ref_sat_v0_oracle),
    (REF_SATS_V1, "ref_sat_v1", ref_sat_v1_oracle),
    (REF_TABLES, "ref_table", ref_table_oracle),
    (SNAPS_V0, "control_snap_v0", None),  # oracle special-cased (no registry)
    (SNAPS_V1, "control_snap_v1", snap_v1_oracle),
    (PITS, "pit", pit_oracle),
    (PIT_CLEANUPS, build_pit_cleanup, pit_cleanup_oracle,
     lambda c: [c.pit_entity, c.snapshot_relation]),
    (BRIDGES, "bridge", bridge_oracle),
    (BUNDLES, build_bundle, bundle_oracle,
     lambda c: [m.entity for m in c.members]),
    (UNION_BUNDLES, build_union_bundle, union_bundle_oracle,
     lambda c: list(c.members)),
    (REPLAYS,
     lambda spark, reg, cfg, g: run_replay(spark, reg, cfg, g, _index(),
                                           STAGES, SNAPS_V1),
     replay_oracle,
     lambda c: [m.entity for m in c.members]),
    (DEDUP_EXACT, "exact_dedup", exact_dedup_oracle),
    (DEDUP_MINHASH, "minhash_lsh", minhash_lsh_oracle),
    (DEDUP_SIMHASH, "simhash_dedup", simhash_dedup_oracle),
    (DEDUP_JACCARD, "ngram_jaccard", ngram_jaccard_oracle),
    (DEDUP_COSINE, "embedding_cosine", embedding_cosine_oracle),
    (DEDUP_GROUPS, "dup_groups", dup_groups_oracle),
    (CONTAMINATION, "contamination", contamination_oracle),
    (DECONTAM, _build_decontam, _decontam_oracle, _NO_DEPS),
    (ANNS, "ann_topk", ann_topk_oracle),
    (ANN_IVFS, "ann_ivf", ann_ivf_oracle),
    (ANN_INDEXES, "ann_index", ann_index_persisted_oracle),
    (TEXT_LANGID, "langid", langid_oracle),
    (TEXT_QUALITY, "quality", quality_oracle),
    (TEXT_TOKENS, "token_count", token_count_oracle),
    (TEXT_FPRINT, "fingerprint", fingerprint_oracle),
    (MULTIMODAL, "multimodal", multimodal_oracle),
    (MULTIMODAL_DECODE, "multimodal_decode", multimodal_decode_oracle),
    (MULTIMODAL_FRAMES, "frame_sample", multimodal_framesample_oracle),
    (MULTIMODAL_RESIZES, "image_resize", multimodal_resize_oracle),
    (MULTIMODAL_WAVS, "wav_decode", wav_decode_oracle),
    (MULTIMODAL_WAV_STATS, "wav_stats", wav_stats_oracle),
    (MULTIMODAL_ULAW, "ulaw_stats", ulaw_stats_oracle),
    (MULTIMODAL_PNG, "png_decode", png_decode_oracle),
    (MULTIMODAL_GIF, "gif_frames", gif_frames_oracle),
    (CURATION, "curation", curation_oracle),
    (REPETITION, "repetition", repetition_oracle),
    (PII, "pii_redact", pii_redact_oracle),
    (SAMPLING, "dataset_mix", dataset_mix_oracle),
    (CORPUS_SHUFFLE, "corpus_shuffle", corpus_shuffle_oracle),
    (TEMPERATURE_MIX, "temperature_mix", temperature_mix_oracle),
    (TEMPERATURE_RESAMPLE, build_temperature_resample,
     temperature_resample_oracle, _NO_DEPS),
    (PACKING, "sequence_packing", sequence_packing_oracle),
    (SEMDEDUP, "semdedup", semdedup_oracle),
    (QUANTIZE, "scalar_quantize", scalar_quantize_oracle),
    (SUBSTRING, "substring_dup", substring_dup_oracle),
    (TFIDF, "tfidf", tfidf_oracle),
    (PACK_MANIFEST, "packing_manifest", packing_manifest_oracle),
    (DEDUP_REPORT, "dedup_report", dedup_report_oracle),
    (SOURCE_STATS, "source_stats", source_stats_oracle),
    (SOURCE_GATE, "source_gate", source_gate_oracle),
    (DOC_CHUNKS, "doc_chunks", doc_chunks_oracle),
    (CHUNK_DEDUP, "chunk_dedup", chunk_dedup_oracle),
    (CHUNK_SCRUB, "chunk_scrub", chunk_scrub_oracle),
    (LM_SCORE, "lm_score", lm_score_oracle),
    (CCNET, "ccnet_buckets", ccnet_buckets_oracle),
    (VOCAB, "vocab_topk", vocab_topk_oracle),
    (GOPHER, "gopher_rules", gopher_rules_oracle),
    (BOILERPLATE, "boilerplate_removal", boilerplate_removal_oracle),
    (DSIR, "dsir_score", dsir_score_oracle),
    (QUALITY_CLF, build_quality_classifier, quality_classifier_oracle,
     _NO_DEPS),
    (PROFILE, "dataset_profile", dataset_profile_oracle),
    (QUANTILES, "grouped_quantiles", grouped_quantiles_oracle),
    (TOKEN_BUDGET, "token_budget", token_budget_oracle),
    (LINECLEAN, "line_clean", line_clean_oracle),
    (CANONICAL, "canonical_selection", canonical_selection_oracle),
    (SPLIT, "stratified_split", stratified_split_oracle),
    (SOURCE_CAP, "source_cap", source_cap_oracle),
    (INC_DEDUP, "incremental_dedup", incremental_dedup_oracle),
    (INC_DEDUP_STREAM, build_streaming_incremental_dedup,
     streaming_incremental_dedup_oracle, _NO_DEPS),
    (SESSION_STREAMS, build_streaming_sessions,
     streaming_sessions_oracle, _NO_DEPS),
    (FUNNEL_STREAMS, build_streaming_funnel,
     streaming_funnel_oracle, _NO_DEPS),
    # oracle = bundle_oracle over the batch entities: the walker builds
    # the hub/nh_sat CTEs first (deps), the fold unions them — the
    # Spark side never touches those batch plans (it streams)
    (VAULT_INGEST_STREAMS, build_streaming_vault_ingest, bundle_oracle,
     lambda c: [m.entity for m in c.members]),
    (HOPPING_STREAMS, build_streaming_hopping, streaming_hopping_oracle,
     _NO_DEPS),
    (DROPDUP_STREAMS, build_streaming_dropdup, streaming_dropdup_oracle,
     _NO_DEPS),
    (OHLC_STREAMS, build_streaming_ohlc, streaming_ohlc_oracle,
     _NO_DEPS),
    (SCD1_STREAMS, build_streaming_scd1, scd1_merge_oracle, _NO_DEPS),
    (ASOF, "asof_join", asof_join_oracle),
    (SESSIONS, "sessionize", sessionize_oracle),
    (HOPPING, "hopping_agg", hopping_agg_oracle),
    (FUNNELS, "funnel", funnel_oracle),
    (COHORTS, "cohort_retention", cohort_retention_oracle),
    (DIFFS, "table_diff", table_diff_oracle),
    (INTERVAL_JOINS, "interval_join", interval_join_oracle),
    (ROLLUPS, "grouping_sets", grouping_sets_oracle),
    (SCD1_MERGES, "scd1_merge", scd1_merge_oracle),
    (HISTOGRAMS, "histogram", histogram_oracle),
    (JSON_EXTRACTS, "json_extract", json_extract_oracle),
    (PIVOTS, "pivot", pivot_oracle),
    (QUARANTINES, "quarantine", quarantine_oracle),
    (SOURCE_ROUNDTRIPS, build_source_roundtrip, source_roundtrip_oracle,
     _NO_DEPS),
    (QUANTILE_GATES, "quantile_gate", quantile_gate_oracle),
    (SUFFICIENT_STATS, "sufficient_stats", sufficient_stats_oracle),
    (EXACT_SAMPLES, "exact_sample", exact_sample_oracle),
    (ROLLING, "rolling_agg", rolling_agg_oracle),
    (LOCFS, "locf", locf_oracle),
    (GROUPED_VOCABS, "grouped_vocab", grouped_vocab_oracle),
    (HEAVY_HITTERS, "heavy_hitters", heavy_hitters_oracle),
    (TRANSITIONS, "transition_matrix", transition_matrix_oracle),
    (LINKAGES, "blocked_linkage", blocked_linkage_oracle),
    (SOURCE_OVERLAPS, "source_overlap", source_overlap_oracle),
    (COOCCURRENCES, "cooccurrence", cooccurrence_oracle),
    (OHLC_BARS, "ohlc_bars", ohlc_bars_oracle),
    (ATTRIBUTIONS, "attribution", attribution_oracle),
    (K_ANONYMITIES, "k_anonymity", k_anonymity_oracle),
    (URL_GATES, "url_gate", url_gate_oracle),
    (OUTLIER_GATES, "tukey_outliers", tukey_outliers_oracle),
    (NEGATIVE_SAMPLES, "negative_samples", negative_samples_oracle),
    (PROFILE_DRIFTS, "profile_drift", profile_drift_oracle),
    (KFOLDS, "kfold", kfold_oracle),
    (PARTITIONED_ROUNDTRIPS, "partitioned_roundtrip",
     partitioned_roundtrip_oracle),
    (COMPACTIONS, "compaction", compaction_oracle),
    (PERCENTILE_RANKS, "percentile_rank", percentile_rank_oracle),
    (TRENDINGS, "trending_topk", trending_topk_oracle),
    (NORMALIZES, "text_normalize", text_normalize_oracle),
    (CONVERSION_PATHS, "conversion_paths", conversion_paths_oracle),
    (ACTIVE_USERS, "active_users", active_users_oracle),
    (PROPORTIONAL_SAMPLES, "proportional_sample",
     proportional_sample_oracle),
    (VAULT_CHECKS, "vault_checks", vault_checks_oracle),
]


def _declared(deps_of):
    """A catalogue dependency rule narrowed to declared entities: raw
    tables (``customer``, ``documents``) are registry sources, so the
    oracle walker, ``_multi_consumed`` and replay's persist walk never
    see them as entities."""
    return lambda c: [d for d in deps_of(c) if d in _index()]


def _entity_index():
    idx = {}
    for configs, bld, orc, *deps in _FAMILIES:
        if isinstance(bld, str):
            kind = KINDS[bld]
            bld, deps = kind.build, _declared(kind.deps)
        else:
            (deps,) = deps
        for name, cfg in configs.items():
            idx[name] = (cfg, bld, orc, deps)
    return idx


_INDEX = None


def _index():
    global _INDEX
    if _INDEX is None:
        _INDEX = _entity_index()
    return _INDEX


def ensure_session_conf(spark):
    """Set the engine's runtime SESSION_CONFS on a live session (a
    caller of ``entry()`` may pass one built without them). Static entries
    (the codegen cache size) are fixed when the session is built and
    are skipped here; any error setting a runtime conf raises."""
    for k, v in SESSION_CONFS:
        if spark.conf.isModifiable(k):
            spark.conf.set(k, v)


def registry(spark, sf_dir: str) -> Registry:
    """Spark-side registry: raw tables + lazily-built entity plans.
    Every declared entity is registered so downstream entities (PIT over
    sats over stages) resolve recursively."""
    ensure_session_conf(spark)
    reg = testdata_registry(sf_dir)
    for name, (cfg, bld, _orc, _deps) in _index().items():
        reg.spark_loaders[name] = (
            lambda spark, c=cfg, f=bld: f(spark, reg, c, G))
    return reg


def oracle_registry() -> Registry:
    """Oracle-side registry: raw tables are driver-registered DuckDB views;
    entities resolve to their CTE names."""
    reg = Registry()
    reg.duckdb_relations.update(TESTDATA_DUCKDB)
    for name in _index():
        reg.duckdb_relations[name] = name
    return reg


def _add_oracle_cte(b: SqlBuilder, reg: Registry, name: str) -> str:
    if b.has(name):
        return name
    cfg, _bld, orc, deps = _index()[name]
    for dep in deps(cfg):
        if dep in _index():
            _add_oracle_cte(b, reg, dep)
    if name in SNAPS_V0:
        return snap_v0_oracle(b, cfg, G)
    return orc(b, reg, cfg, G)


def entity_oracle_sql(name: str) -> str:
    """Full DuckDB oracle SQL for one declared entity query."""
    b = SqlBuilder()
    reg = oracle_registry()
    final = _add_oracle_cte(b, reg, name)
    return b.render(f"SELECT * FROM {final}")


def _internal_reuse(name: str) -> list:
    """Dependencies a builder consumes in MORE than one plan branch
    internally (delta level + join-back, spine + payload join): they
    count as multi-consumed even when the config references them once.
    Spark's ReusedExchange only dedupes identical exchange subtrees,
    which these branches are not."""
    cfg = _index()[name][0]
    if name in MA_SATS:
        return [cfg.source_model]          # distinct level + join-back
    if name in MA_SATS_V1:
        return [cfg.ma_sat_v0]             # end-dated loads + join-back
    if name in REF_TABLES:
        return [s for s, _ in cfg.ref_satellites]  # date spine + payload
    if name in CHUNK_DEDUP:
        return [cfg.chunks_entity]  # signature freq + join-back + totals
    if name in CCNET:
        return [cfg.score_entity]   # histogram/cutoff branch + join-back
    return []


def _multi_consumed(name: str) -> set:
    """Entities referenced MORE than once in `name`'s transitive
    dependency tree. Spark does not dedupe shared plan subtrees, so
    these are cache()d (materialized-staging pattern); everything
    consumed once stays unpersisted to keep column pruning intact."""
    counts: dict = {}

    def walk(n):
        cfg, _b, _o, deps = _index()[n]
        extra = set(_internal_reuse(n))
        for dep in deps(cfg):
            if dep in _index():
                counts[dep] = counts.get(dep, 0) + (2 if dep in extra else 1)
                walk(dep)
    walk(name)
    return {n for n, c in counts.items() if c > 1}


def entity_query(name: str):
    """(spark, sf_dir) -> DataFrame builder for one declared entity."""
    if name not in _index():
        raise KeyError(name)

    def run(spark, sf_dir):
        reg = registry(spark, sf_dir)
        reg.persist_names.update(_multi_consumed(name))
        return reg.load(spark, name)
    return run


# Entities exposed to the driver only through vault_dims_bundle's
# row-union (see operators/bundle.py): they stay individually declared
# (internal deps + per-entity oracle parity in tests/test_oracle_parity)
# but do not get their own queries() slot, keeping the exposed surface
# at <= 50 keys — the driver's correctness harness checks exactly the
# first 50, so every exposed query is externally verified. Order is
# plain declaration order, no reordering.
_BUNDLED = frozenset(
    [m.entity for c in BUNDLES.values() for m in c.members]
    + [m for c in UNION_BUNDLES.values() for m in c.members])


def all_entity_names() -> list:
    return [n for n in _index() if n not in _BUNDLED]


def declared_entity_names() -> list:
    """Every declared entity, including bundle members — the in-repo
    oracle-parity suite iterates THIS list so bundled entities keep
    their individual row-level compare."""
    return list(_index())
