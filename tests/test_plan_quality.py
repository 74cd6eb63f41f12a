"""Physical-plan assertions: the scale-critical plan properties
(predicate pushdown to the scan, column pruning, broadcast of small
sides, no redundant shuffles) must hold — these are the properties the
operators' docstrings claim for 100 TB behavior."""

import re

from pyspark.sql import functions as F

from datavault4dbt_spark import fixtures
from datavault4dbt_spark.context import DEFAULT, Registry, testdata_registry as make_registry
from datavault4dbt_spark.operators.stage import build_stage
from datavault4dbt_spark.operators.hub import build_hub
from datavault4dbt_spark.operators.sat import build_sat_v0


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    import io
    import contextlib
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_hwm_filter_is_pushed_to_scan(spark, sf_dir):
    """When ldts is a plain source column, the high-water-mark literal
    must reach the parquet scan as a pushed filter (min-max row-group
    skipping at scale depends on this)."""
    import datetime
    from datavault4dbt_spark.operators.stage import StageConfig
    from datavault4dbt_spark.functions.hashing import HashSpec
    fixtures.ensure_session_conf(spark)
    reg = make_registry(sf_dir)
    cfg = StageConfig(
        name="stage_orders_direct", source_model="orders",
        ldts="o_orderdate", rsrc="!TPCH/orders",
        source_schema=(("o_orderkey", "BIGINT"), ("o_orderdate", "TIMESTAMP")),
        hashed_columns=(HashSpec("hk_order_h", ("o_orderkey",)),),
        enable_ghost_records=False)
    hwm = datetime.datetime(1995, 1, 1)
    df = build_stage(spark, reg, cfg, hwm_ldts=hwm)
    plan = _formatted(df)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, plan
    assert "o_orderdate" in m.group(1), plan


def test_sat_column_pruning_reaches_scan(spark, sf_dir):
    """A satellite over a stage must not scan columns it never uses:
    the parquet ReadSchema must exclude untouched source columns."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("sat_part_s")(spark, sf_dir)
    plan = _formatted(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = m.group(1)
    # p_name feeds no hash/payload of sat_part_s -> must be pruned
    assert "p_name" not in read_cols
    assert "p_brand" in read_cols


def test_stage_prejoin_is_broadcast(spark, sf_dir):
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("stage_customer")(spark, sf_dir)
    assert "BroadcastHashJoin" in _plan(df)


def test_hub_load_is_single_shuffle(spark, sf_dir):
    """Initial hub load: exactly one exchange (the window partitioning
    on the hashkey) downstream of the stage; dedup + output reuse it."""
    fixtures.ensure_session_conf(spark)
    reg = make_registry(sf_dir)
    stage = build_stage(spark, reg, fixtures.STAGES["stage_nation"])
    reg.spark_loaders["stage_nation"] = lambda _s: stage
    hub = build_hub(spark, reg, fixtures.HUBS["hub_nation"])
    plan = _plan(hub)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan


def test_pit_snapshot_spine_is_broadcast(spark, sf_dir):
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("pit_customer")(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_source_cap_runs_the_salted_two_stage_windows(spark, sf_dir):
    """Pass 1 must window over (source, id % n_salts) — pmod in the
    partition spec — so no domain ever pins a whole partition on one
    reducer; and nothing in the plan is a nested-loop join."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("docs_source_capped")(spark, sf_dir)
    plan = _plan(df)
    assert "pmod" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_sessionize_is_one_shuffle_on_the_user_key(spark, sf_dir):
    """Gaps-and-islands costs exactly ONE hash exchange: the window
    pair shares the user_id partitioning and the final
    (user_id, session_seq) groupBy is satisfied by it (grouping on a
    superset of the child's partition keys needs no re-shuffle) — a
    regression here means the session core picked up an extra
    repartition."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("event_sessions")(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_hopping_agg_single_aggregation_shuffle(spark, sf_dir):
    """F.window generates containing windows in the scan stage; the
    only exchange is the (window, group) aggregation."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("event_hopping_agg")(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_bridge_spine_broadcast_and_leg_joins_are_hashed(spark, sf_dir):
    """The snapshot spine rides a broadcast (tiny side of the base
    cross join, like PIT) while every leg/eff join keys on a hashkey —
    a cartesian in a leg would blow up quadratically at scale."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("bridge_customer_nation")(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan
    # the leg + eff joins carry an equi key (SMJ/BHJ/SHJ), so the only
    # nested-loop joins allowed are broadcast spine expansions
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") \
        + plan.count("ShuffledHashJoin") >= 2, plan


def test_ann_query_side_is_broadcast(spark, sf_dir):
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("ann_cosine_topk")(spark, sf_dir)
    assert "BroadcastExchange" in _plan(df)


def test_anti_join_not_expanded_to_cartesian(spark, sf_dir):
    """Incremental insert filter must stay an anti JOIN."""
    fixtures.ensure_session_conf(spark)
    reg = make_registry(sf_dir)
    stage = build_stage(spark, reg, fixtures.STAGES["stage_nation"])
    reg.spark_loaders["stage_nation"] = lambda _s: stage
    full = build_hub(spark, reg, fixtures.HUBS["hub_nation"])
    inc = build_hub(spark, reg, fixtures.HUBS["hub_nation"],
                    target=full.limit(5), disable_hwm=True)
    assert "LeftAnti" in _plan(inc)


def test_embedding_cosine_no_cartesian(spark, sf_dir):
    """Round-1 fix: the cosine dedup must generate candidates via the
    sign-LSH band join — an all-pairs cartesian is a scale-killer."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("dedup_embedding_cosine")(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ngram_jaccard_df_cap_in_plan(spark, sf_dir):
    """Round-1 fix: the shingle doc-frequency cap must exist in the plan
    (a window count over s + a filter) so no hot shingle reaches the
    inverted-index self-join."""
    fixtures.ensure_session_conf(spark)
    cap = fixtures.DEDUP_JACCARD["dedup_ngram_jaccard"].max_doc_freq
    assert cap > 0
    df = fixtures.entity_query("dedup_ngram_jaccard")(spark, sf_dir)
    plan = _plan(df)
    assert "Window" in plan, plan
    assert f"<= {cap}" in plan, plan


def test_simhash_fingerprints_computed_once(spark, sf_dir):
    """Round-4 fix: the per-document fingerprint subtree (tokenize +
    md5 + packed-lane aggregation) feeds 4 band projections and both
    self-join sides; it must come from ONE cached materialization, not
    re-execute per branch. Structural check: every parquet scan of
    `documents` in the executed plan sits under the InMemoryRelation
    (cache). Structural check: every band/join branch reads
    InMemoryTableScan (pre-fix: zero cache scans, 8 full fingerprint
    recomputations). Note the cache node's string embeds its child
    plan, so raw file-scan substring counts overcount — count the
    cache-scan branches instead."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("dedup_simhash")(spark, sf_dir)
    plan = _plan(df)
    nb = fixtures.DEDUP_SIMHASH["dedup_simhash"].max_hamming + 1
    # nb band branches per join side = 2*nb cache readers
    assert plan.count("InMemoryTableScan") == 2 * nb, plan


def test_minhash_signatures_computed_once(spark, sf_dir):
    """Round-6 shape: band keys are stack()ed out of the SAME projection
    that consumes the signature aggregation, so the cached bucket table
    is written in one pass and read exactly twice (the two self-join
    sides) — not 2*bands times through per-band projections."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("dedup_minhash_lsh")(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("InMemoryTableScan") == 2, plan


def test_embedding_cosine_rejects_short_vectors(spark, sf_dir):
    """Vectors shorter than lsh_bands*lsh_bits would degenerate the
    high bands into one shared bucket (element_at past the end -> NULL
    -> all bits 0) = a silent O(n^2) cross join; the builder must
    refuse up front."""
    import pytest
    from datavault4dbt_spark.llm.dedup import (EmbeddingCosineConfig,
                                               build_embedding_cosine)
    fixtures.ensure_session_conf(spark)
    reg = make_registry(sf_dir)
    short = spark.range(4).selectExpr(
        "id AS vec_id", "array(1.0d, -1.0d, 2.0d) AS embedding")
    reg.spark_loaders["short_vecs"] = lambda _s: short
    cfg = EmbeddingCosineConfig("bad", source="short_vecs")
    with pytest.raises(ValueError, match="lsh_bands"):
        build_embedding_cosine(spark, reg, cfg)


def test_contamination_eval_grams_broadcast_no_cartesian(spark, sf_dir):
    """The eval gram set is tiny by construction (benchmarks vs corpus):
    the probe join must broadcast it — a shuffle or cartesian over the
    corpus gram explosion is the 100 TB failure mode."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("contamination_ngrams")(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dup_groups_no_cartesian_and_converged(spark, sf_dir):
    """CC propagation joins stay equi-joins on the edge keys; the
    returned frame reflects a reached fixpoint (builder raises
    otherwise), so the plan is the final labels join only."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("dedup_groups")(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dataset_mix_and_pii_are_scan_stage_only(spark, sf_dir):
    """The sampling filter and the redaction chain must not shuffle:
    hash, weight lookup, regexes all live in the scan stage."""
    from datavault4dbt_spark.llm.sampling import (DatasetMixConfig,
                                                  build_dataset_mix)
    from datavault4dbt_spark.llm.scrub import (PiiRedactConfig,
                                               build_pii_redact)
    reg = fixtures.registry(spark, sf_dir)
    for df in (build_dataset_mix(spark, reg, DatasetMixConfig("m")),
               build_pii_redact(spark, reg, PiiRedactConfig("p"))):
        plan = _plan(df)
        assert "Exchange" not in plan, plan


def test_sequence_packing_single_shuffle_on_shard(spark, sf_dir):
    """One hashpartitioning(shard) exchange feeds BOTH the prefix-sum
    window and the (shard, bin) aggregation — bin is a function of the
    shard-partitioned cumsum, so Spark must not repartition again."""
    from datavault4dbt_spark.llm.sampling import (SequencePackingConfig,
                                                  build_sequence_packing)
    reg = fixtures.registry(spark, sf_dir)
    df = build_sequence_packing(spark, reg, SequencePackingConfig("pk"))
    plan = _plan(df)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_repetition_shuffles_key_on_doc_id(spark, sf_dir):
    """Gram counting and per-doc rollup both key on doc_id (plus gram);
    no broadcast-defeating cartesian, no global exchange."""
    from datavault4dbt_spark.llm.scrub import (RepetitionConfig,
                                               build_repetition)
    reg = fixtures.registry(spark, sf_dir)
    plan = _plan(build_repetition(spark, reg, RepetitionConfig("r")))
    assert "CartesianProduct" not in plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "doc_id" in m.group(1), m.group(0)


def test_quantize_stats_are_broadcast(spark, sf_dir):
    """The n_dims-row stats table must broadcast; the only hash
    exchanges key on the dimension (stats) and vec_id (reassembly)."""
    from datavault4dbt_spark.llm.quantize import (ScalarQuantizeConfig,
                                                  build_scalar_quantize)
    reg = fixtures.registry(spark, sf_dir)
    plan = _plan(build_scalar_quantize(spark, reg,
                                       ScalarQuantizeConfig("sq")))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_substring_dup_joins_on_gram_hash_no_cartesian(spark, sf_dir):
    """The match-point join must key on the gram hash (equi-join) with
    the hot-gram anti-join broadcast — never a cartesian expansion."""
    from datavault4dbt_spark.llm.substring import (SubstringDupConfig,
                                                   build_substring_dup)
    reg = fixtures.registry(spark, sf_dir)
    plan = _plan(build_substring_dup(spark, reg,
                                     SubstringDupConfig("ss")))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan   # df-cap anti-join


def test_tfidf_df_join_is_aqe_decided_not_forced(spark, sf_dir):
    """Round-6 contract: the tf<->df join must NOT carry a compile-time
    broadcast hint (a web-scale vocabulary is tens of GB; a forced
    broadcast bypasses the threshold and OOMs instead of degrading).
    Proof by threshold: with autoBroadcastJoinThreshold disabled (the
    stand-in for "df table larger than the threshold"), the un-hinted
    term join must degrade to a shuffle join — while the opt-in
    force_broadcast_df hint still compiles to a broadcast (that is the
    bypass the default no longer takes). The min_df cut must sit in
    the plan as a filter on the df agg."""
    from datavault4dbt_spark.llm.tfidf import TfidfConfig, build_tfidf
    reg = fixtures.registry(spark, sf_dir)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(build_tfidf(spark, reg, TfidfConfig("tt", min_df=2)))
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "df#" in plan and ">= 2" in plan, plan  # min_df cut present
        forced = _plan(build_tfidf(
            spark, reg, TfidfConfig("tt2", force_broadcast_df=True)))
        assert "BroadcastHashJoin" in forced, forced
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_source_gate_broadcasts_offenders_no_shuffle_on_corpus(spark, sf_dir):
    """The offending-source set is origins-sized, never corpus-sized:
    the gate must compile to a broadcast anti-join (corpus side stays
    a single scan), with the only exchanges inside the tiny stats
    aggregation."""
    from datavault4dbt_spark.llm.sources import (SourceGateConfig,
                                                 build_source_gate)
    reg = fixtures.registry(spark, sf_dir)
    plan = _plan(build_source_gate(spark, reg,
                                   SourceGateConfig("sg")))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan


def test_doc_chunks_is_scan_stage_only(spark, sf_dir):
    """Chunking is generate+project in the scan stage: ZERO exchanges
    anywhere in the plan."""
    from datavault4dbt_spark.llm.chunking import (ChunkConfig,
                                                  build_doc_chunks)
    reg = fixtures.registry(spark, sf_dir)
    plan = _plan(build_doc_chunks(spark, reg, ChunkConfig("ch")))
    assert "Exchange" not in plan, plan
    assert "Generate" in plan, plan


def test_sat_incremental_latest_lookup_is_semi_join_pruned(spark, sf_dir):
    """Round-6 (reference performance_filter parity): the incremental
    sat's latest-per-key lookup must scan only target rows whose key
    appears in the incoming batch — a LeftSemi against the batch keys
    sits UNDER the target-side window, so a 100 TB satellite is never
    fully windowed for a small delta."""
    from datavault4dbt_spark.operators.sat import build_sat_v0
    fixtures.ensure_session_conf(spark)
    reg = make_registry(sf_dir)
    stage = build_stage(spark, reg, fixtures.STAGES["stage_customer"])
    reg.spark_loaders["stage_customer"] = lambda _s: stage
    full = build_sat_v0(spark, reg, fixtures.SATS["sat_customer_n0_s"])
    inc = build_sat_v0(spark, reg, fixtures.SATS["sat_customer_n0_s"],
                       target=full, disable_hwm=True)
    plan = _plan(inc)
    assert "LeftSemi" in plan, plan


def test_chunk_scrub_census_shape(spark, sf_dir):
    """Chunk scrub: exactly two hash exchanges — the signature census
    and the per-doc reassembly; the join-back against the duplicated
    minority is an equi-join (broadcast at this SF), never a
    nested-loop. A third hash exchange means the removal join stopped
    reusing the census partitioning or AQE demoted the broadcast."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("docs_chunk_scrubbed")(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_boilerplate_census_shape(spark, sf_dir):
    """Line boilerplate: the distinct-doc census expands to Spark's
    two-phase count-distinct (2 exchanges) plus the per-doc reassembly
    — 3 hash exchanges total, equi-joins only."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("docs_boilerplate_clean")(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 3, plan


def test_lm_score_vocab_is_broadcast_single_row(spark, sf_dir):
    """Bigram LM: the vocabulary rides as an explicitly-broadcast
    1-row cross join (the ONLY nested-loop allowed); model joins are
    equi-joins."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("text_lm_score")(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") \
        + plan.count("ShuffledHashJoin") >= 2, plan


def test_dsir_single_pass_census(spark, sf_dir):
    """DSIR: target/raw counts come from ONE census aggregation (no
    second scan, no census-vs-census join) — two hash exchanges total
    (census + per-doc reduce), scoring join equi-keyed."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("dsir_score")(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_quality_classifier_census_is_bounded_and_broadcast(spark, sf_dir):
    """Learned quality classifier: exactly two exchanges — the
    map-side-combined feature census (onto n_features keys) and the
    per-doc reduce; the weight table and the final doc join-back are
    broadcast; never a cartesian or a corpus-vs-corpus sort-merge
    (the DSIR plan contract, llm/classifier.py)."""
    fixtures.ensure_session_conf(spark)
    plan = _plan(fixtures.entity_query("quality_classifier")(
        spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_ccnet_windows_run_over_histogram_not_corpus(spark, sf_dir):
    """CCNet buckets: the only windows in the plan are the cumulative
    count over the BOUNDED (lang, score) histogram — two Window nodes
    (cum + n specs), never a per-language NTILE over the corpus; the
    cutoff join-back is broadcast, and the only nested-loop joins are
    the LM subtree's 1-row vocabulary rider (one per score branch)."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("docs_ccnet_buckets")(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Window") == 2, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_temperature_mix_keeps_corpus_shuffle_free(spark, sf_dir):
    """Temperature mix: every exchange belongs to the strata-sized
    stats chain (map-side-combined aggs); the document-side keep
    decision joins the rate table by BROADCAST (one BHJ, no
    sort-merge), and the only nested-loop joins are the 1-row
    total/normalizer riders."""
    fixtures.ensure_session_conf(spark)
    plan = _plan(fixtures.entity_query("temperature_mix")(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 3, plan


def test_temperature_resample_explodes_at_the_scan(spark, sf_dir):
    """Repeat-expansion resampler: same strata-census + broadcast
    rate-join shape as the gate (one BHJ, no sort-merge, 1-row riders
    only), plus exactly ONE bounded Generate (the copy explode) and no
    document-side exchange — copies multiply at the scan and stream
    out."""
    fixtures.ensure_session_conf(spark)
    plan = _plan(fixtures.entity_query("temperature_resample")(
        spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 3, plan
    assert plan.count("Generate") == 1, plan


def test_corpus_shuffle_is_one_exchange_one_window(spark, sf_dir):
    """Corpus shuffle: the only shuffle IS the shuffle — one hash
    exchange on the shard plus the per-shard rank window; the 48-bit
    key derivation stays in the scan stage."""
    fixtures.ensure_session_conf(spark)
    plan = _plan(fixtures.entity_query("corpus_shuffle")(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") == 1, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_cohort_retention_plan_shape(spark, sf_dir):
    """Cohort retention: user-keyed aggs + a broadcast/equi cohort
    join + the map-side (cohort, offset) rollup — no windows, no
    nested loops, bounded exchanges."""
    fixtures.ensure_session_conf(spark)
    plan = _plan(fixtures.entity_query("event_cohort_retention")(
        spark, sf_dir))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 4, plan


def test_grouped_quantiles_windows_run_over_histogram(spark, sf_dir):
    """Grouped quantiles: two exchanges (histogram agg + window) and
    two Window nodes over the BOUNDED histogram — never a per-group
    percentile window over the raw corpus."""
    fixtures.ensure_session_conf(spark)
    plan = _plan(fixtures.entity_query("source_len_quantiles")(
        spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("Window") == 2, plan
    assert "CartesianProduct" not in plan, plan


def test_grouping_sets_census_is_one_expand_one_shuffle(spark, sf_dir):
    """ROLLUP/CUBE census: Spark must plan ONE Expand feeding ONE
    hash-aggregate pair (map-side partials + a single exchange on the
    expanded grouping key) — no per-grouping-set rescans of the input,
    and the cents projection sits below the Expand so the replicated
    rows are narrow."""
    fixtures.ensure_session_conf(spark)
    for name in ("lineitem_rollup_census", "docs_cube_census"):
        plan = _plan(fixtures.entity_query(name)(spark, sf_dir))
        assert plan.count("Expand") == 1, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert plan.count("Scan parquet") == 1, plan


def test_heavy_hitters_branches_are_pruned_bounded_heaps(spark, sf_dir):
    """Key-skew card: each column branch is a TakeOrderedAndProject
    (bounded per-partition heap, no full census sort) over a scan that
    reads ONLY that column; the corpus total joins as a 1-row
    broadcast, never a shuffle of the union."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("events_skew_profile")(spark, sf_dir)
    plan = _plan(df)
    n_cols = len(fixtures.HEAVY_HITTERS["events_skew_profile"].columns)
    assert plan.count("TakeOrderedAndProject") == n_cols, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row total join
    assert "CartesianProduct" not in plan, plan
    fmt = _formatted(df)
    assert "ReadSchema: struct<event_type:string>" in fmt, fmt
    assert "ReadSchema: struct<user_id:bigint>" in fmt, fmt


def test_transition_matrix_single_user_exchange(spark, sf_dir):
    """Transition matrix: ONE exchange on the user key feeds the LEAD
    window; the pair census is map-side combined and the normalization
    windows over the bounded census (its exchange moves at most
    n_types^2+1 rows — visible as the from_event repartition)."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("event_transitions")(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan
    # user window + census agg + census window = 3 hash exchanges total
    assert plan.count("Exchange hashpartitioning") == 3, plan
    assert plan.count("Window") == 2, plan


def test_json_extract_is_scan_stage_only(spark, sf_dir):
    """JSON flatten: pure projection — zero exchanges, no Python
    evaluation (get_json_object runs in whole-stage codegen)."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("events_props_extracted")(spark, sf_dir)
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_locf_single_key_exchange(spark, sf_dir):
    """LOCF gap fill: ONE exchange on the key feeds the running
    last-non-null frame; no self-join, no extra shuffle for the flag."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("events_value_locf")(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") == 1, plan
    assert "Join" not in plan, plan


def test_grouped_vocab_ranks_over_reduced_census(spark, sf_dir):
    """Per-group vocabulary: the rank window's exchange moves the
    AGGREGATED census (post-groupBy), not the exploded token stream —
    (lang, token, doc) distinct level + census final + the window's
    lang repartition = 3 hash exchanges; the rnk <= k filter must
    compile to a partial+final WindowGroupLimit (per-partition bounded
    heaps BEFORE the window exchange, Spark's grouped TakeOrdered)."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("vocab_topk_by_lang")(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 3, plan
    assert plan.count("WindowGroupLimit") == 2, plan
    assert "CartesianProduct" not in plan, plan


def test_pivot_is_single_conditional_aggregate(spark, sf_dir):
    """Pivot with declared values: Spark's two-level plan — a
    map-side-combined (group, pivot) census, then the __pivot_*
    transpose on the group key (2 exchanges, the second moving only
    census rows) — over ONE scan, no per-value rescans, no Expand."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("docs_source_lang_pivot")(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "__pivot_" in plan, plan
    assert "Expand" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_exact_sample_uses_window_group_limit(spark, sf_dir):
    """Exactly-n-per-stratum sample: the rank-and-cut must compile to
    a partial+final WindowGroupLimit pair — per-partition heaps of n
    rows BEFORE the stratum exchange, so the shuffle never moves the
    corpus."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("docs_exact_sample")(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("WindowGroupLimit") == 2, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_rolling_agg_one_exchange_one_window(spark, sf_dir):
    """Rolling block: all four frame aggregates share ONE window spec
    (one Window operator) over ONE key exchange."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("events_rolling_value")(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") == 1, plan


def test_quarantine_lane_is_scan_stage_only(spark, sf_dir):
    """Quarantine routing: rule flags + reason string are a pure
    projection — zero exchanges, zero joins."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("lineitem_quarantine")(spark, sf_dir)
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_sufficient_stats_single_aggregate(spark, sf_dir):
    """Second-moment census: all six moments in ONE map-side-combined
    aggregate pair over one scan."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("lineitem_qty_price_stats")(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Scan parquet") == 1, plan


def test_linkage_blocks_never_cartesian(spark, sf_dir):
    """Blocked linkage: the pair stage is an equi join on the blocking
    keys (hash/broadcast, NEVER a cartesian); the block-size census is
    built once (one hash exchange — the one-sided cap filter), and
    levenshtein stays a JVM intrinsic in the join/filter stage (no
    Python evaluation)."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("part_name_linkage")(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "levenshtein" in plan, plan
    assert "Python" not in plan, plan


def test_source_overlap_single_scan_hashed_index(spark, sf_dir):
    """Source-overlap matrix: the (stratum, md5) distinct index is
    persisted and reused by all three consumers — ONE parquet scan of
    the corpus; the shingle hashing happens in the scan stage (the
    shuffle moves 32-byte md5 keys, never text); the pair stage is an
    equi join on the hash, never a cartesian; the size census joins
    back broadcast."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("source_overlap_matrix")(spark, sf_dir)
    plan = _plan(df)
    # every index consumer reads the persisted (stratum, md5) relation
    # (the parquet scans visible in the plan text are the CACHED
    # subtree reprinted under each InMemoryRelation, not live scans)
    assert plan.count("InMemoryTableScan") >= 3, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # md5 projected below the index exchange: no Exchange in the plan
    # carries the raw shingle string `s`
    import re
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "s#" not in m.group(1), m.group(0)


def test_cooccurrence_distinct_index_never_cartesian(spark, sf_dir):
    """Co-occurrence: the distinct (basket, item) level is persisted
    and reused by its consumers; the pair stage is an equi join on the
    basket key (never a cartesian — the only nested-loop join allowed
    is the broadcast 1-row basket total); supports join back
    broadcast."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("part_cooccurrence")(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("InMemoryTableScan") >= 3, plan
    assert "CartesianProduct" not in plan, plan
    # the 1-row total is the single broadcast nested loop
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_ohlc_single_mergeable_aggregate(spark, sf_dir):
    """OHLC bars: ONE map-side-combined HashAggregate pair (open/close
    ride as struct extrema) — no sort windows, no join, one exchange."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("events_ohlc_hourly")(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan
    assert "partial_min" in plan or "HashAggregate" in plan, plan


def test_attribution_single_running_frame(spark, sf_dir):
    """Last-touch attribution: ONE user-keyed exchange, ONE Window
    operator (both running last() frames share the spec), no
    self-join / as-of probe."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("events_last_touch")(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") == 1, plan
    assert "Join" not in plan, plan


def test_k_anonymity_single_window_no_join(spark, sf_dir):
    """k-anonymity: ONE QI-keyed exchange, the set size is a count
    window and the suppression a scan-stage CASE — no census
    join-back."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("docs_k_anonymity")(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") == 1, plan
    assert "Join" not in plan, plan


def test_partitioned_roundtrip_prunes_partitions(spark, sf_dir):
    """Partitioned-layout round-trip: the read-back scan must carry
    the partition-value equality as a PartitionFilter (directory
    pruning), NOT as a data filter — and read zero non-selected
    partitions."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("docs_partitioned_en")(spark, sf_dir)
    plan = _plan(df)
    assert "PartitionFilters: [isnotnull(lang" in plan, plan
    assert "= en" in plan, plan
    assert "PushedFilters: []" in plan, plan
    assert "Exchange" not in plan, plan


def test_trending_topk_window_group_limit(spark, sf_dir):
    """Trending top-k: the rank-and-cut over the (bucket, value)
    census compiles to a partial+final WindowGroupLimit pair (the
    grouped-vocab shape) — bounded heaps before the bucket exchange."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("events_trending_daily")(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("WindowGroupLimit") == 2, plan
    assert "Join" not in plan, plan


def test_text_normalize_scan_stage_only(spark, sf_dir):
    """Text normalization: pure scan-stage projection — zero
    exchanges, zero joins."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("docs_normalized")(spark, sf_dir)
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_percentile_rank_one_exchange(spark, sf_dir):
    """Percentile rank: the rank and stratum-count windows share ONE
    stratum-keyed exchange; no census join-back."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("docs_length_pr")(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_quantile_gate_bounds_join_is_broadcast(spark, sf_dir):
    """Percentile trim gate: the histogram/cumulative machinery runs
    over the bounded (stratum, value) census; the per-stratum bounds
    table joins back BROADCAST — no corpus shuffle on the gate side."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("docs_length_gate")(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    # the only hash exchanges belong to the bounds derivation
    # (histogram groupBy + its windows + bounds agg), never the corpus
    # probe side: probe-side scan flows straight into the broadcast join
    assert "SortMergeJoin" not in plan, plan


def test_vocab_topk_avoids_global_sort(spark, sf_dir):
    """Vocabulary top-k: ORDER BY + LIMIT must compile to
    TakeOrderedAndProject (per-partition heaps, no full vocabulary
    sort); the census is one two-level aggregate (two hash exchanges:
    tf/df partials + final); the rnk window runs over the k-row
    result."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("text_vocab_topk")(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("TakeOrderedAndProject") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("Window") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_negative_samples_bucket_join_no_cartesian(spark, sf_dir):
    """Negatives pair ONLY through the bucket equi-join (never a
    cartesian), and the per-anchor top-k runs as WindowGroupLimit
    heaps — the two properties that bound the operator at scale."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("docs_negative_samples")(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_tukey_outliers_histogram_window_is_bounded(spark, sf_dir):
    """The fence derivation windows over the BOUNDED (group, value)
    histogram, never the corpus: the only Window sits above a
    HashAggregate, and the row-level verdict is a join-back (no
    row-level window)."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("events_value_outliers")(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    # exactly one Window (the cumulative histogram sum)
    assert plan.count("Window ") <= 2, plan
    assert "HashAggregate" in plan, plan


def test_profile_drift_is_single_pass(spark, sf_dir):
    """The two-slice census is ONE aggregate over one scan — no join
    between slices, no second scan of the source."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("docs_profile_drift")(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("documents.parquet") == 1, plan
    assert "Join" not in plan, plan


def test_url_gate_census_join_back(spark, sf_dir):
    """URL normalization stays in the scan stage; the only exchanges
    are the domain census groupBy and its AQE-decided join-back — no
    sort, no cartesian."""
    fixtures.ensure_session_conf(spark)
    df = fixtures.entity_query("docs_url_gate")(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "regexp_replace" in plan, plan


# Each bundle's dependency closure is FROZEN (round-7 advice #2): a new
# member whose dependencies are not already in its bundle's set is paid
# as a fresh subtree on EVERY bench run (the vault_checks lesson: one
# fresh-subtree draft cost +10 s and was reverted). Adding a member that
# only consumes entities below keeps the bundle's cost flat
# (_multi_consumed persists the shared subtrees once). To grow a closure
# anyway, update its set DELIBERATELY and justify the bench cost in
# BENCH.md. Per-member standalone costs for every widening through
# round 10 were measured before adding (see git history of this file
# and BENCH.md round sections).
#
# round-10: the single vault_dims_bundle split into four thematic
# bundles (r9 advice #1) — closures recomputed per bundle. The split
# itself added no fresh subtrees beyond the eight rotated-in members,
# each of which was previously a directly-exposed bench line (total
# cost is a wash); vault_checks' small-dim subtree (stage/hub/link/sat
# over nation/supplier/part) is deliberately rebuilt inside
# analytics_bundle — those tables are tiny at any sf.
_BUNDLE_CLOSURES = {
    "vault_core_bundle": frozenset([
        "control_snap_v0", "control_snap_v1", "hub_nation", "hub_order",
        "hub_part", "hub_part_enriched", "hub_region", "hub_supplier",
        "hub_user", "link_customer_nation", "link_supplier_nation",
        "ma_sat_customer_orders", "ma_sat_customer_orders_v1",
        "pit_nation", "pit_nation_cleaned", "ref_hub_nation",
        "ref_hub_part", "ref_sat_nation_v0", "ref_sat_nation_v1",
        "ref_sat_part_v0", "ref_table_nation_latest",
        "ref_table_nation_snap", "sat_customer_p0_s", "sat_nation_s",
        "sat_part_s", "sat_part_s_v1", "stage_customer", "stage_events",
        "stage_events_seq", "stage_lineitem", "stage_nation",
        "stage_orders", "stage_part", "stage_region", "stage_supplier",
    ]),
    "curation_bundle": frozenset([
        "canonical_docs", "chunk_dedup_spans", "curation_strategy_diff",
        "dedup_groups", "dedup_minhash_lsh", "dedup_report",
        "doc_chunks", "docs_boilerplate_clean", "docs_ccnet_buckets",
        "docs_curated", "docs_curated_best", "docs_decontaminated",
        "docs_k_anonymity", "docs_length_gate", "docs_normalized",
        "docs_source_capped", "docs_source_gated", "docs_split",
        "dsir_score", "multimodal_decode", "quality_classifier",
        "source_stats", "text_langid", "text_line_clean",
        "text_lm_score", "text_quality", "text_repetition",
        # round-10 deliberate widening: URL gate — scan-stage
        # normalization + one census groupBy + AQE join-back; 1.05s
        # warm standalone at sf0.1 (min-of-4, measured before adding)
        "docs_url_gate",
        # round-10 deliberate widening: video frame sampling — one
        # shuffle-free Arrow mapInPandas fan-out bounded by max_frames;
        # 0.87s (under a concurrent slow-suite run; idle is lower) warm standalone at sf0.1 (min-of-4, measured
        # before adding)
        "multimodal_framesample",
        # round-10 deliberate widening: fit-in-box resize geometry —
        # the multimodal_decode plan shape (shuffle-free Arrow parse);
        # 4.6s under a concurrent full-verify run (the identical-shape framesample reads 0.87s on the same host when quieter; idle is ~1s) warm standalone at sf0.1 (min-of-4, measured
        # before adding)
        "multimodal_resize",
        # round-11 deliberate widening: WAV/RIFF audio decode —
        # shuffle-free Arrow encode+parse; 0.53s warm standalone at
        # sf0.1 (min-of-4, measured before adding). text_repetition
        # also rotated IN as a member this round (1.65s standalone
        # sf0.1 minimum from the r9 driver bench) — already in this
        # closure above as docs_curated's dependency.
        "multimodal_wav_decode",
        # (multimodal_wav_stats rotated OUT to an exposed slot in
        # round 12)
        # round-12 rotation IN (exposed since r5): Gopher quality
        # rules — scan-stage word censuses; 0.61s warm standalone at
        # sf0.1 (min-of-4, loadavg 1.4-1.9, measured before adding)
        "gopher_rules",
    ]),
    "corpus_stats_bundle": frozenset([
        "corpus_shuffle", "dataset_profile", "docs_cube_census",
        "docs_exact_sample", "docs_length_histogram", "docs_length_pr",
        "docs_proportional_sample", "docs_source_lang_pivot",
        "packing_manifest", "source_len_quantiles",
        "source_token_budget",
        "temperature_resample", "text_fingerprint", "text_vocab_topk",
        "vocab_topk_by_lang",
        # round-11 rotations IN (long-exposed text stats; standalone
        # sf0.1 minima from the r9 driver bench while exposed: 0.47s /
        # 0.49s / 0.31s — previously-measured bench lines, not new
        # subtrees; source_overlap_matrix and docs_kfold rotated OUT
        # to exposed slots)
        "text_langid", "text_quality", "text_token_count",
        # moved from analytics_bundle with the OHLC streaming replay
        # and the SCD1 streaming replay (costs unchanged — same
        # members, different union)
        "docs_compacted", "docs_partitioned_en",
        "events_source_json", "events_source_csv", "events_source_orc",
        # round-10 deliberate widening: bucket-bounded negative
        # sampling (one bucket equi-join + WindowGroupLimit) and the
        # one-pass profile-drift census; 1.11s / 0.88s warm standalone
        # at sf0.1 (min-of-4, measured before adding)
        "docs_negative_samples", "docs_profile_drift",
        # round-11 deliberate widening: G.711 mu-law decode census —
        # shuffle-free Arrow table-lookup expansion; 0.72s warm
        # standalone at sf0.1 (min-of-4, measured before adding)
        "multimodal_ulaw_stats",
        # (multimodal_png_decode rotated OUT to an exposed slot in
        # round 12)
        # round-12 deliberate widening: real animated-GIF LZW decode —
        # the same shuffle-free Arrow encode+parse shape; 1.05s warm
        # standalone at sf0.1 (min-of-4, loadavg 0.9, measured before
        # adding)
        "multimodal_gif_frames",
        # round-12 rotations IN (exposed since r5; scan-stage salted
        # draws / integer apportionment / one packing groupBy):
        # 0.34s / 0.71s / 0.62s warm standalone at sf0.1 (min-of-4,
        # loadavg 1.4-1.9, measured before adding)
        "dataset_mix", "temperature_mix", "sequence_packing",
    ]),
    "analytics_bundle": frozenset([
        "control_snap_v0",
        # round-10 deliberate widening: the OHLC streaming replay (3
        # staged arrivals + 3 foreachBatch epochs + merged read-back);
        # 3.8s warm standalone at sf0.1 (min-of-4, measured before
        # adding — the cost IS the certified streaming store loop, the
        # lineitem_scd1 adjudication)
        "events_ohlc_stream",
        "event_cohort_retention", "event_hopping_agg", "event_sessions",
        "event_transitions", "events_active_users",
        "events_asof_click_incl", "events_asof_click_tol",
        "events_conversion_paths", "events_in_snapshot_day",
        "events_last_touch",
        "events_props_extracted", "events_rolling_value",
        "events_skew_profile",
        # round-11 rotation IN (long-exposed strict as-of; 0.48s
        # standalone sf0.1 minimum from the r9 driver bench while
        # exposed; events_ohlc_hourly and part_name_linkage rotated
        # OUT to exposed slots)
        "events_asof_click",
        # round-12 (late) rotation IN: the batch funnel rotates back
        # (bundled r8-r10; 0.46s standalone sf0.1 min-of-4, measured
        # before adding; the widened bundle re-measured 28.4s min-of-4
        # under residual load vs its 26.98s pre-widening minimum).
        # Its freed slot backs events_dedup_stream, the eighth driver
        # gate (native streaming deduplication).
        "event_funnel",
        "events_trending_daily", "events_value_locf", "hub_nation",
        "hub_supplier", "lineitem_qty_price_stats",
        "lineitem_quarantine", "lineitem_rollup_census",
        # (lineitem_scd1_cdc rotated OUT to an exposed slot in
        # round 12)
        "lineitem_scd1_current",
        "link_supplier_nation", "part_cooccurrence",
        "ref_hub_nation", "sat_nation_s",
        "sat_part_s", "stage_nation", "stage_part", "stage_supplier",
        "vault_checks",
        # round-10 deliberate widening: Tukey-fence outlier gate (one
        # bounded-histogram groupBy + census join-back); 1.13s warm
        # standalone at sf0.1 (min-of-4, measured before adding)
        "events_value_outliers",
        # round-12 rotation IN (exposed since r8): the keyed interval
        # join against the hopping windows its closure already builds
        # (event_hopping_agg is a member above); 0.54s warm standalone
        # at sf0.1 (min-of-4, measured before adding; the widened
        # bundle re-measured 26.98s min-of-4 — flat vs the pre-widening
        # 24-27s band). Its freed slot backs events_hopping_stream,
        # the seventh driver gate (native watermarked aggregation).
        "events_in_hopping_window",
        # round-10 deliberate widening: the SCD1 streaming replay —
        # same 3-upsert store loop as lineitem_scd1_current driven
        # through an actual checkpointed stream; 6.1s (under a concurrent bench run; idle is lower) warm
        # standalone at sf0.1 (min-of-4, measured before adding)
        "lineitem_scd1_stream",
    ]),
}


def test_bundle_dependency_closures_are_frozen():
    idx = fixtures._index()

    def closure(name, seen):
        cfg, _b, _o, deps = idx[name]
        for d in deps(cfg):
            if d in idx and d not in seen:
                seen.add(d)
                closure(d, seen)
        return seen

    for bundle, frozen in _BUNDLE_CLOSURES.items():
        got = closure(bundle, set())
        new = got - frozen
        gone = frozen - got
        assert not new, (
            f"{bundle} grew fresh dependency subtrees {sorted(new)} "
            f"— every new member must target entities the bundle already "
            f"builds (see comment above; measure before widening)")
        assert not gone, (
            f"frozen closure entries no longer built by {bundle}: "
            f"{sorted(gone)} — update _BUNDLE_CLOSURES to match")


def test_wav_entities_are_shuffle_free_arrow_scans(spark, sf_dir):
    """Round-11 audio path: both WAV entities are (project -> Arrow
    mapInPandas) over the documents scan — ZERO exchanges (the 100 TB
    contract: payload decode never shuffles payload bytes), exactly one
    ArrowEvalPython/MapInPandas stage, and the scan reads only the two
    consumed columns (pruning reaches parquet)."""
    for name in ("multimodal_wav_decode", "multimodal_wav_stats",
                 "multimodal_ulaw_stats", "multimodal_png_decode"):
        df = fixtures.entity_query(name)(spark, sf_dir)
        plan = _plan(df)
        assert "Exchange" not in plan, (name, plan)
        assert "MapInPandas" in plan, (name, plan)
        fmt = _formatted(df)
        m = re.search(r"ReadSchema: struct<([^>]*)>", fmt)
        assert m and set(c.split(":")[0] for c in m.group(1).split(",")) \
            == {"doc_id", "text"}, (name, fmt)


def test_vault_checks_is_one_keyed_aggregation(spark, tmp_path):
    """The example project's vault_checks suite over stored tables: each
    checked entity is scanned once (hub_customer is a check subject
    AND both relationships' parent), and the six checks are ONE
    Exchange keyed on (check id, key) feeding the per-check sum — no
    join, no per-check branch."""
    from datavault4dbt_spark.operators.checks import build_vault_checks
    from datavault4dbt_spark.plans.project import load_project

    cfg = load_project("examples/project")["vault_checks"].cfg
    reg = Registry()
    tables = {"hub_customer": "hk_customer_h string",
              "link_customer_nation":
                  "hk_customer_nation_l string, hk_customer_h string",
              "sat_customer_n0_s": "hk_customer_h string, ldts timestamp"}
    assert {c.entity for c in cfg.checks} | \
        {c.to_entity for c in cfg.checks if c.to_entity} == set(tables)
    for name, schema in tables.items():
        path = str(tmp_path / name)
        spark.createDataFrame([], schema).write.parquet(path)
        reg.register_parquet(name, path)
    plan = _plan(build_vault_checks(spark, reg, cfg, DEFAULT))
    assert plan.count("FileScan parquet") == len(tables), plan
    keyed = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(keyed) == 1, plan
    assert re.fullmatch(r"cid#\d+, k#\d+, \d+", keyed[0]), plan
    assert plan.count("Exchange") == 2, plan     # + SinglePartition sum
    assert "SinglePartition" in plan, plan
    assert "Join" not in plan, plan
