"""Streaming ingestion: file-stream -> foreachBatch -> hub/nh_sat loads
must equal the one-shot batch load (idempotent insert-only pattern),
and replaying a batch must insert nothing."""

import os

import pytest

from conftest import SF_DIR

from datavault4dbt_spark import fixtures
from datavault4dbt_spark.context import Registry
from datavault4dbt_spark.operators.stage import build_stage
from datavault4dbt_spark.operators.hub import build_hub
from datavault4dbt_spark.operators.nh import build_nh_sat
from datavault4dbt_spark.plans.incremental import ParquetStore
from datavault4dbt_spark.streaming.ingest import (
    StreamIngestConfig, start_ingest, micro_batch_loader,
    windowed_event_counts)

pytestmark = pytest.mark.slow


@pytest.fixture(scope="module")
def event_batches(tmp_path_factory):
    """Split the events table into 3 arriving files by TIME range —
    realistic arrival order, so watermark-based ops drop nothing."""
    import duckdb
    root = tmp_path_factory.mktemp("stream_src")
    con = duckdb.connect()
    lo, hi = con.execute(
        f"SELECT min(ts), max(ts) FROM '{SF_DIR}/events.parquet'").fetchone()
    span = (hi - lo) / 3
    for i in range(3):
        cond = (f"ts >= TIMESTAMP '{lo + i * span}' AND "
                + (f"ts < TIMESTAMP '{lo + (i + 1) * span}'" if i < 2 else "TRUE"))
        con.execute(
            f"COPY (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) "
            f"FROM '{SF_DIR}/events.parquet' WHERE {cond}) "
            f"TO '{root}/batch_{i}.parquet' (FORMAT PARQUET)")
        # strictly-increasing mtimes: a tie makes the file source's
        # arrival order arbitrary (the test_stateful_sessions lesson)
        import os
        os.utime(f"{root}/batch_{i}.parquet",
                 (1_700_000_000 + i * 10,) * 2)
    return str(root)


def _ingest_cfg():
    return StreamIngestConfig(
        source_dir="",  # filled per test
        source_name="events",
        stage=fixtures.STAGES["stage_events"],
        hubs=(fixtures.HUBS["hub_user"],),
        nh_sats=(fixtures.NH_SATS["nh_sat_user_event"],))


def test_stream_equals_batch(spark, sf_dir, event_batches, tmp_path):
    fixtures.ensure_session_conf(spark)
    cfg = _ingest_cfg()
    cfg = type(cfg)(**{**cfg.__dict__, "source_dir": event_batches})
    store = ParquetStore(spark, str(tmp_path / "vault"))
    schema = spark.read.parquet(event_batches).schema

    q = start_ingest(spark, cfg, store, schema, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    # batch reference: the fixtures' registry (full-load semantics)
    reg = fixtures.registry(spark, sf_dir)
    want_hub = {tuple(r) for r in
                reg.load(spark, "hub_user").select("hk_user_h").collect()}
    got_hub = {tuple(r) for r in
               store.read("hub_user").select("hk_user_h").collect()}
    assert got_hub == want_hub

    want_sat = reg.load(spark, "nh_sat_user_event").count()
    got_sat = store.read("nh_sat_user_event").count()
    assert got_sat == want_sat


def test_replay_inserts_nothing(spark, event_batches, tmp_path):
    fixtures.ensure_session_conf(spark)
    cfg = _ingest_cfg()
    cfg = type(cfg)(**{**cfg.__dict__, "source_dir": event_batches})
    store = ParquetStore(spark, str(tmp_path / "vault"))
    batch = spark.read.parquet(f"{event_batches}/batch_0.parquet")
    loader = micro_batch_loader(cfg, store)
    loader(batch, 0)
    n1 = store.read("hub_user").count(), store.read("nh_sat_user_event").count()
    loader(batch, 1)   # at-least-once replay
    n2 = store.read("hub_user").count(), store.read("nh_sat_user_event").count()
    assert n1 == n2


def test_windowed_counts_stream_matches_batch(spark, event_batches, tmp_path):
    fixtures.ensure_session_conf(spark)
    schema = spark.read.parquet(event_batches).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(event_batches))
    agg = windowed_event_counts(stream)
    q = (agg.writeStream.format("memory").queryName("win_counts")
         .outputMode("append").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt_win")).start())
    q.awaitTermination(300)
    got = spark.table("win_counts")
    want = windowed_event_counts(spark.read.parquet(event_batches))
    # append mode only emits windows closed by the watermark; every
    # emitted row must match the batch computation exactly
    w = {tuple(map(str, r)) for r in want.collect()}
    g = {tuple(map(str, r)) for r in got.collect()}
    assert g <= w
    assert len(g) > 0


def _cust_stream_cfgs():
    """A delta-historized customer feed: ldts comes from the file's
    load_ts column, so later files carry new VERSIONS of existing keys
    — the case hub/nh_sat ingestion never exercises."""
    from datavault4dbt_spark.functions.hashing import HashSpec
    from datavault4dbt_spark.operators.stage import StageConfig
    from datavault4dbt_spark.operators.sat import SatConfig

    stage = StageConfig(
        name="stage_cust_stream", source_model="cust_stream",
        ldts="load_ts", rsrc="!STREAM/customer",
        source_schema=(("c_custkey", "BIGINT"), ("c_name", "STRING"),
                       ("c_acctbal", "DOUBLE"), ("c_mktsegment", "STRING"),
                       ("load_ts", "TIMESTAMP")),
        hashed_columns=(
            HashSpec("hk_customer_h", ("c_custkey",)),
            HashSpec("hd_customer_s", ("c_acctbal", "c_mktsegment"),
                     is_hashdiff=True)))
    sat = SatConfig("sat_cust_stream", "stage_cust_stream",
                    "hk_customer_h", "hd_customer_s",
                    payload=("c_acctbal", "c_mktsegment"))
    return stage, sat


@pytest.fixture(scope="module")
def customer_version_batches(tmp_path_factory):
    """3 arriving files: full snapshot, then two delta files that mix
    real changes with no-change re-deliveries (same hashdiff, newer
    ldts) — the rows sat_v0's latest-vs-target compare must drop."""
    import time
    import duckdb
    root = tmp_path_factory.mktemp("cust_stream_src")
    con = duckdb.connect()
    base = (f"SELECT c_custkey, c_name, c_acctbal, c_mktsegment "
            f"FROM '{SF_DIR}/customer.parquet'")
    batches = [
        # day 1: initial snapshot of everyone
        f"SELECT *, TIMESTAMP '2024-03-01' AS load_ts FROM ({base})",
        # day 2: even keys change balance; odd keys re-delivered verbatim
        f"""SELECT c_custkey, c_name,
                   CASE WHEN c_custkey % 2 = 0 THEN c_acctbal + 10
                        ELSE c_acctbal END AS c_acctbal,
                   c_mktsegment, TIMESTAMP '2024-03-02' AS load_ts
            FROM ({base}) WHERE c_custkey % 3 != 0""",
        # day 3: replay of some day-2 rows (no change) + segment flips
        f"""SELECT c_custkey, c_name, c_acctbal + 10 AS c_acctbal,
                   CASE WHEN c_custkey % 4 = 0 THEN 'FLIPPED'
                        ELSE c_mktsegment END AS c_mktsegment,
                   TIMESTAMP '2024-03-03' AS load_ts
            FROM ({base}) WHERE c_custkey % 2 = 0""",
    ]
    for i, q in enumerate(batches):
        con.execute(f"COPY ({q}) TO '{root}/batch_{i}.parquet' "
                    f"(FORMAT PARQUET)")
        time.sleep(0.05)  # distinct mtimes: file source processes in order
    return str(root)


def test_streaming_sat_v0_equals_batch(spark, customer_version_batches,
                                       tmp_path):
    """Streamed sat_v0 (LAG dedup per batch + latest-vs-target compare +
    (hk, ldts) replay anti-join) over time-ordered version files must
    equal the one-shot batch sat_v0 over the union of all files."""
    from pyspark.sql import functions as F
    from datavault4dbt_spark.context import Registry
    from datavault4dbt_spark.operators.stage import build_stage
    from datavault4dbt_spark.operators.sat import build_sat_v0

    fixtures.ensure_session_conf(spark)
    stage_cfg, sat_cfg = _cust_stream_cfgs()
    cfg = StreamIngestConfig(
        source_dir=customer_version_batches, source_name="cust_stream",
        stage=stage_cfg, sats=(sat_cfg,))
    store = ParquetStore(spark, str(tmp_path / "vault"))
    schema = spark.read.parquet(customer_version_batches).schema

    q = start_ingest(spark, cfg, store, schema, str(tmp_path / "ckpt_sat"))
    q.awaitTermination(300)

    # one-shot batch reference over the union of every arrived file
    reg = Registry()
    reg.spark_loaders["cust_stream"] = (
        lambda sp: sp.read.parquet(customer_version_batches))
    staged = build_stage(spark, reg, stage_cfg)
    reg.spark_loaders[stage_cfg.name] = lambda sp: staged
    want_df = build_sat_v0(spark, reg, sat_cfg)

    cols = ["hk_customer_h", "hd_customer_s", "ldts", "rsrc",
            "c_acctbal", "c_mktsegment"]
    want = {tuple(map(str, r)) for r in want_df.select(*cols).collect()}
    got = {tuple(map(str, r))
           for r in store.read(sat_cfg.name).select(*cols).collect()}
    assert got == want
    # day-2 changes and day-3 flips actually landed (delta history real)
    n_versions = (store.read(sat_cfg.name)
                  .groupBy("hk_customer_h").count()
                  .agg(F.max("count")).first()[0])
    assert n_versions >= 3


def test_streaming_sat_v0_replay_inserts_nothing(spark,
                                                 customer_version_batches,
                                                 tmp_path):
    """At-least-once re-delivery of an already-applied micro-batch must
    insert zero rows (the (hk, ldts) anti-join guarantee)."""
    stage_cfg, sat_cfg = _cust_stream_cfgs()
    fixtures.ensure_session_conf(spark)
    cfg = StreamIngestConfig(
        source_dir=customer_version_batches, source_name="cust_stream",
        stage=stage_cfg, sats=(sat_cfg,))
    store = ParquetStore(spark, str(tmp_path / "vault"))
    loader = micro_batch_loader(cfg, store)
    b0 = spark.read.parquet(f"{customer_version_batches}/batch_0.parquet")
    b1 = spark.read.parquet(f"{customer_version_batches}/batch_1.parquet")
    loader(b0, 0)
    loader(b1, 1)
    n1 = store.read(sat_cfg.name).count()
    loader(b1, 2)   # replay the whole second batch
    n2 = store.read(sat_cfg.name).count()
    assert n1 == n2 > 0


def test_streaming_exact_dedup_matches_batch(spark, event_batches, tmp_path):
    """Streamed horizon-dedup over arriving files (including a full
    duplicate file) must keep exactly one row per content hash — the
    same set a batch dedup of the union produces."""
    import shutil
    from pyspark.sql import functions as F
    from datavault4dbt_spark.streaming.dedup import streaming_exact_dedup

    fixtures.ensure_session_conf(spark)
    src = str(tmp_path / "dup_src")
    shutil.copytree(event_batches, src)
    shutil.copy(os.path.join(src, "batch_0.parquet"),
                os.path.join(src, "batch_0_replay.parquet"))

    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    # horizon larger than the data's time span -> exact global dedup
    deduped = streaming_exact_dedup(stream, "props", "ts",
                                    watermark="3650 days")
    q = (deduped.writeStream.format("memory").queryName("dedup_out")
         .outputMode("append").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
         .start())
    q.awaitTermination(120)

    got = spark.sql("SELECT content_hash FROM dedup_out").collect()
    hashes = [r.content_hash for r in got]
    want = (spark.read.parquet(src)
            .select(F.md5(F.col("props").cast("string")).alias("h"))
            .distinct().count())
    assert len(hashes) == len(set(hashes)) == want


def _link_stream_cfgs():
    """An events stage carrying a (user, event) link hashkey so link and
    nh_link ingestion are exercised (the stock stage_events has no link
    hashkeys)."""
    from datavault4dbt_spark.functions.hashing import HashSpec
    from datavault4dbt_spark.operators.link import LinkConfig
    from datavault4dbt_spark.operators.nh import NhLinkConfig
    from datavault4dbt_spark.operators.stage import StageConfig

    stage = StageConfig(
        name="stage_events_link", source_model="events",
        ldts="date_trunc('hour', ts)", rsrc="!STREAM/events",
        source_schema=(("event_id", "BIGINT"), ("ts", "TIMESTAMP"),
                       ("user_id", "BIGINT"), ("event_type", "STRING"),
                       ("value", "DOUBLE")),
        hashed_columns=(
            HashSpec("hk_user_h", ("user_id",)),
            HashSpec("hk_event_h", ("event_id",)),
            HashSpec("hk_user_event_l", ("user_id", "event_id")),
        ))
    link = LinkConfig("link_user_event", "hk_user_event_l",
                      ("hk_user_h", "hk_event_h"),
                      (fixtures.EntitySource("stage_events_link"),))
    nh_link = NhLinkConfig("nh_link_user_event", "hk_user_event_l",
                           ("hk_user_h", "hk_event_h"), ("value",),
                           (fixtures.EntitySource("stage_events_link"),),
                           source_is_single_batch=False)
    return stage, link, nh_link


def test_streaming_link_equals_batch(spark, event_batches, tmp_path):
    """Streamed link + nh_link loads over arriving files must equal the
    one-shot batch loads, and replaying a batch must insert nothing."""
    from datavault4dbt_spark.operators.link import build_link
    from datavault4dbt_spark.operators.nh import build_nh_link

    fixtures.ensure_session_conf(spark)
    stage_cfg, link_cfg, nhl_cfg = _link_stream_cfgs()
    cfg = StreamIngestConfig(
        source_dir=event_batches, source_name="events",
        stage=stage_cfg, links=(link_cfg,), nh_links=(nhl_cfg,))
    store = ParquetStore(spark, str(tmp_path / "vault"))
    schema = spark.read.parquet(event_batches).schema

    q = start_ingest(spark, cfg, store, schema, str(tmp_path / "ckpt_link"))
    q.awaitTermination(300)

    reg = Registry()
    reg.spark_loaders["events"] = (
        lambda sp: sp.read.parquet(event_batches))
    staged = build_stage(spark, reg, stage_cfg)
    reg.spark_loaders[stage_cfg.name] = lambda sp: staged

    want_link = {tuple(map(str, r)) for r in
                 build_link(spark, reg, link_cfg).collect()}
    got_link = {tuple(map(str, r)) for r in
                store.read(link_cfg.name).collect()}
    assert got_link == want_link and len(got_link) > 0

    want_nhl = build_nh_link(spark, reg, nhl_cfg).count()
    assert store.read(nhl_cfg.name).count() == want_nhl > 0

    # at-least-once replay of an already-applied file inserts nothing
    loader = micro_batch_loader(cfg, store)
    b0 = spark.read.parquet(f"{event_batches}/batch_0.parquet")
    loader(b0, 99)
    assert store.read(link_cfg.name).count() == len(got_link)
    assert store.read(nhl_cfg.name).count() == want_nhl


@pytest.fixture(scope="module")
def order_version_batches(tmp_path_factory):
    """The orders table split into its 3 deterministic daily batches
    (ldts = day keyed on o_orderkey % 3, matching stage_orders), written
    in day order — so streamed per-batch ma_sat group semantics must
    equal the one-shot load."""
    import time
    import duckdb
    root = tmp_path_factory.mktemp("order_stream_src")
    con = duckdb.connect()
    for i in range(3):
        con.execute(
            f"COPY (SELECT * FROM '{SF_DIR}/orders.parquet' "
            f"WHERE o_orderkey % 3 = {i}) "
            f"TO '{root}/batch_{i}.parquet' (FORMAT PARQUET)")
        time.sleep(0.05)
    return str(root)


def test_streaming_ma_sat_equals_batch(spark, sf_dir, order_version_batches,
                                       tmp_path):
    """Streamed ma_sat_v0 (group hashdiff per micro-batch +
    latest-vs-target compare + (hk, ldts) replay anti-join) must equal
    the one-shot batch load, and replay must insert nothing."""
    fixtures.ensure_session_conf(spark)
    ma_cfg = fixtures.MA_SATS["ma_sat_customer_orders"]
    cfg = StreamIngestConfig(
        source_dir=order_version_batches, source_name="orders",
        stage=fixtures.STAGES["stage_orders"], ma_sats=(ma_cfg,))
    store = ParquetStore(spark, str(tmp_path / "vault"))
    schema = spark.read.parquet(order_version_batches).schema

    q = start_ingest(spark, cfg, store, schema, str(tmp_path / "ckpt_ma"))
    q.awaitTermination(300)

    reg = fixtures.registry(spark, sf_dir)
    want = {tuple(map(str, r))
            for r in reg.load(spark, ma_cfg.name).collect()}
    got = {tuple(map(str, r))
           for r in store.read(ma_cfg.name)
           .select(*reg.load(spark, ma_cfg.name).columns).collect()}
    assert got == want and len(got) > 0

    # replay an already-applied batch: nothing inserted
    loader = micro_batch_loader(cfg, store)
    b1 = spark.read.parquet(f"{order_version_batches}/batch_1.parquet")
    loader(b1, 99)
    assert store.read(ma_cfg.name).count() == len(got)


@pytest.fixture(scope="module")
def doc_batches(tmp_path_factory):
    """documents split into 3 arriving files in doc_id order, each with
    a synthetic arrival timestamp one day apart."""
    import duckdb
    import time
    root = tmp_path_factory.mktemp("doc_stream_src")
    con = duckdb.connect()
    n = con.execute(
        f"SELECT max(doc_id) FROM '{SF_DIR}/documents.parquet'").fetchone()[0]
    step = (n + 3) // 3
    for i in range(3):
        con.execute(
            f"COPY (SELECT doc_id, text, TIMESTAMP '2024-05-01' "
            f"+ INTERVAL {i} DAY AS ts "
            f"FROM '{SF_DIR}/documents.parquet' "
            f"WHERE doc_id >= {i * step} AND doc_id < {(i + 1) * step}) "
            f"TO '{root}/batch_{i}.parquet' (FORMAT PARQUET)")
        time.sleep(0.05)
    return str(root)


def test_streaming_curation_equals_batch(spark, sf_dir, doc_batches,
                                         tmp_path):
    """The streamed curation chain must equal (a) the same chain on a
    batch read of all files, and (b) the oracle-checked batch builders'
    quality/langid values for every surviving document."""
    from pyspark.sql import functions as F
    from datavault4dbt_spark.streaming.curation import streaming_curation

    fixtures.ensure_session_conf(spark)
    schema = spark.read.parquet(doc_batches).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(doc_batches))
    out = streaming_curation(stream, dedup_watermark="3650 days")
    q = (out.writeStream.format("memory").queryName("cur_stream")
         .outputMode("append").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt_cur")).start())
    q.awaitTermination(300)
    got = {tuple(map(str, r)) for r in spark.table("cur_stream").collect()}

    want_df = streaming_curation(spark.read.parquet(doc_batches),
                                 dedup_watermark="3650 days")
    want = {tuple(map(str, r)) for r in want_df.collect()}
    assert got == want and len(got) > 0
    # the quality gate actually dropped documents (the sf0.001 corpus
    # has no exact-TEXT duplicate pairs, so the dedup stage is a
    # pass-through here; its streaming semantics are pinned by
    # test_streaming_exact_dedup_matches_batch, and the id tiebreak in
    # streaming_curation keeps the batch twin deterministic on corpora
    # that DO carry equal-timestamp duplicates)
    assert len(got) < spark.read.parquet(doc_batches).filter(
        "length(text) > 0").count()

    # metric parity with the oracle-checked batch builders
    reg = fixtures.registry(spark, sf_dir)
    bq = reg.load(spark, "text_quality").select("doc_id", "quality_score")
    bl = reg.load(spark, "text_langid").select("doc_id", "predicted_lang")
    ref = {(str(r["doc_id"]), str(r["quality_score"]),
            str(r["predicted_lang"]))
           for r in bq.join(bl, "doc_id").collect()}
    for doc_id, _ts, _n, lang, score, _h in got:
        assert (doc_id, score, lang) in ref


def test_streaming_doc_chunks_equals_batch(spark, doc_batches, tmp_path):
    """Chunking is stateless generate+project, so the SAME
    chunk_dataframe implementation runs inside a micro-batch plan:
    streamed chunks over 3 file-batches must equal the batch chunks of
    the full corpus, carry columns included."""
    from datavault4dbt_spark.llm.chunking import ChunkConfig, chunk_dataframe

    fixtures.ensure_session_conf(spark)
    cfg = ChunkConfig("ch", chunk_chars=120, stride=90)
    schema = spark.read.parquet(doc_batches).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(doc_batches))
    out = chunk_dataframe(stream, cfg, carry=("ts",))
    q = (out.writeStream.format("memory").queryName("chunk_stream")
         .outputMode("append").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt_ch")).start())
    q.awaitTermination(300)
    got = {tuple(map(str, r)) for r in spark.table("chunk_stream").collect()}

    want = {tuple(map(str, r)) for r in chunk_dataframe(
        spark.read.parquet(doc_batches), cfg, carry=("ts",)).collect()}
    assert got == want and len(got) > 0


def test_streaming_source_gate_equals_batch(spark, sf_dir, doc_batches,
                                            tmp_path):
    """Stream-static anti-join: streamed documents gated against a
    batch-computed source-stats table must equal the oracle-checked
    batch gate over the same corpus (doc_batches carries doc_id+text
    only, so stats/gate run on a source column derived from doc_id —
    same expressions both paths)."""
    from pyspark.sql import functions as F
    from datavault4dbt_spark.context import Registry
    from datavault4dbt_spark.llm.sources import (
        SourceStatsConfig, SourceGateConfig, build_source_stats,
        build_source_gate)
    from datavault4dbt_spark.streaming.curation import streaming_source_gate

    fixtures.ensure_session_conf(spark)
    src_expr = "concat('s', CAST(doc_id % 7 AS STRING))"
    batch = spark.read.parquet(doc_batches).selectExpr(
        "doc_id", "text", f"{src_expr} AS source")
    reg = Registry()
    reg.spark_loaders["gdocs"] = lambda _s: batch
    stats_cfg = SourceStatsConfig("source_stats", source="gdocs")
    reg.spark_loaders["source_stats"] = (
        lambda sp: build_source_stats(sp, reg, stats_cfg))
    stats = build_source_stats(spark, reg, stats_cfg)  # static side
    # data-derived threshold (median short_ratio): the predicate is a
    # strict >, so sources above the median drop and the rest survive —
    # the gate genuinely bites at any scale factor
    ratios = sorted(r.short_ratio for r in stats.collect())
    gate_cfg = SourceGateConfig("sg", source="gdocs",
                                max_short_ratio=ratios[len(ratios) // 2])
    want = {(r.doc_id, r.source) for r in build_source_gate(
        spark, reg, gate_cfg).collect()}
    schema = spark.read.parquet(doc_batches).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(doc_batches)
              .selectExpr("doc_id", "text", f"{src_expr} AS source"))
    out = streaming_source_gate(stream, stats, gate_cfg)
    q = (out.writeStream.format("memory").queryName("gate_stream")
         .outputMode("append").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt_sg")).start())
    q.awaitTermination(300)
    got = {(r.doc_id, r.source)
           for r in spark.table("gate_stream").collect()}
    assert got == want and 0 < len(got) < batch.count()


def test_streaming_contamination_gate_equals_batch(spark, sf_dir,
                                                   doc_batches, tmp_path):
    """Decontamination on an arriving stream: gated micro-batches
    appended by foreachBatch must union to exactly the batch gate's
    output over the full corpus (shared contamination_gate, static
    broadcast eval gram set), and the gate must genuinely bite (some
    docs dropped, some kept)."""
    from datavault4dbt_spark.context import Registry
    from datavault4dbt_spark.llm.contamination import (
        ContaminationConfig, contamination_gate, eval_gram_set)
    from datavault4dbt_spark.streaming.curation import (
        start_contamination_gate)

    fixtures.ensure_session_conf(spark)
    batch = spark.read.parquet(doc_batches)
    reg = Registry()
    reg.spark_loaders["cdocs"] = lambda _s: batch
    cfg = ContaminationConfig("cg", source="cdocs", ngram_n=3)
    ev = eval_gram_set(spark, reg, cfg).localCheckpoint(eager=True)
    want = {r.doc_id for r in
            contamination_gate(batch, ev, cfg).collect()}
    n_train = batch.filter(f"doc_id % {cfg.eval_mod} != 0").count()
    assert 0 < len(want) < n_train     # dropped some, kept some

    got_rows = []
    schema = batch.schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(doc_batches))
    q = start_contamination_gate(
        stream, ev, cfg,
        sink=lambda df: got_rows.extend(df.collect()),
        checkpoint_dir=str(tmp_path / "ckpt_cg"))
    q.awaitTermination(300)
    assert {r.doc_id for r in got_rows} == want
    # max_doc_freq is corpus-wide: the gate must refuse it
    with pytest.raises(ValueError, match="max_doc_freq"):
        contamination_gate(batch, ev, ContaminationConfig(
            "cg2", source="cdocs", max_doc_freq=3))


def test_streaming_gopher_gate_equals_batch(spark, doc_batches, tmp_path):
    """Gopher rule-gating on an arriving stream: the gate is a
    stateless scan-stage projection sharing gopher_rules_frame with
    the oracle-checked batch builder, so streamed survivors (with
    verdict columns and the carried event-time column) must equal the
    batch gate over the full corpus — and the gate must genuinely bite
    (thresholds data-derived so some documents drop, some survive)."""
    from datavault4dbt_spark.llm.gopher import (
        GopherRulesConfig, gopher_rules_frame)
    from datavault4dbt_spark.streaming.curation import streaming_gopher_gate

    fixtures.ensure_session_conf(spark)
    batch = spark.read.parquet(doc_batches)
    # median word count as min_words: a strict lower bound that bites
    # at any scale factor
    wc = sorted(r[0] for r in batch.selectExpr(
        "size(split(lower(text), '\\\\s+')) AS n").collect())
    cfg = GopherRulesConfig("gg", min_words=wc[len(wc) // 2],
                            min_stopwords=1)
    want = {tuple(map(str, r)) for r in gopher_rules_frame(
        batch, cfg, carry=("ts",)).filter("keep").collect()}
    assert 0 < len(want) < batch.count()   # dropped some, kept some

    stream = (spark.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", 1).parquet(doc_batches))
    out = streaming_gopher_gate(stream, cfg, event_time_col="ts")
    q = (out.writeStream.format("memory").queryName("gopher_stream")
         .outputMode("append").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt_gg")).start())
    q.awaitTermination(300)
    got = {tuple(map(str, r))
           for r in spark.table("gopher_stream").collect()}
    assert got == want


def test_streaming_ccnet_gate_equals_batch(spark, doc_batches, tmp_path):
    """CCNet gate on an arriving stream: documents scored against a
    STATIC trained bigram model and bucketed against STATIC per-lang
    cutoffs must equal the batch scoring+assignment of the full corpus
    (shared lm_score_frame / ccnet_assign_frame), and the gate must
    genuinely bite (terciles: the tail third drops per language)."""
    from datavault4dbt_spark.llm.lm import (
        BigramLmConfig, lm_model_frames, lm_score_frame,
        ccnet_cutoffs_frame, ccnet_assign_frame)
    from datavault4dbt_spark.streaming.curation import start_ccnet_gate

    fixtures.ensure_session_conf(spark)
    lang_expr = "CASE doc_id % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'fr' " \
                "ELSE 'de' END"
    batch = spark.read.parquet(doc_batches).selectExpr(
        "doc_id", "text", f"{lang_expr} AS lang")
    cfg = BigramLmConfig("ccg")
    model = tuple(f.localCheckpoint(eager=True)
                  for f in lm_model_frames(batch, cfg))
    scored = lm_score_frame(batch, *model, cfg, carry=("lang",))
    cuts = ccnet_cutoffs_frame(scored).localCheckpoint(eager=True)
    want_df = ccnet_assign_frame(scored, cuts, cfg.id_col)
    want = {tuple(map(str, r))
            for r in want_df.filter("keep").collect()}
    assert 0 < len(want) < batch.count()   # tail third dropped

    got_rows = []
    schema = spark.read.parquet(doc_batches).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(doc_batches)
              .selectExpr("doc_id", "text", f"{lang_expr} AS lang"))
    q = start_ccnet_gate(
        stream, model, cuts, cfg,
        sink=lambda df: got_rows.extend(df.collect()),
        checkpoint_dir=str(tmp_path / "ckpt_ccg"))
    q.awaitTermination(300)
    got = {tuple(map(str, r)) for r in got_rows}
    assert got == want


def test_streaming_temperature_gate_equals_batch(spark, doc_batches,
                                                 tmp_path):
    """Alpha sampling on an arriving stream: streamed survivors gated
    against a batch-computed rate table must equal the batch gate over
    the full corpus (shared temperature_gate_frame), and the gate must
    genuinely bite (budget < 1 drops documents in every stratum)."""
    from datavault4dbt_spark.llm.sampling import (
        TemperatureMixConfig, temperature_rates_frame,
        temperature_gate_frame)
    from datavault4dbt_spark.streaming.curation import (
        streaming_temperature_gate)

    fixtures.ensure_session_conf(spark)
    strata_expr = "CASE WHEN doc_id % 10 < 7 THEN 'big' ELSE 'small' END"
    batch = spark.read.parquet(doc_batches).selectExpr(
        "doc_id", f"{strata_expr} AS stratum")
    cfg = TemperatureMixConfig("tg", strata_col="stratum", alpha="0.5",
                               budget_ppm=600_000)
    rates = temperature_rates_frame(batch, cfg).localCheckpoint(eager=True)
    want = {(r.doc_id, r.stratum, r.rate_ppm) for r in
            temperature_gate_frame(batch, rates, cfg).collect()}
    assert 0 < len(want) < batch.count()

    schema = spark.read.parquet(doc_batches).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(doc_batches)
              .selectExpr("doc_id", f"{strata_expr} AS stratum"))
    out = streaming_temperature_gate(stream, rates, cfg)
    q = (out.writeStream.format("memory").queryName("temp_gate")
         .outputMode("append").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt_tg")).start())
    q.awaitTermination(300)
    got = {(r.doc_id, r.stratum, r.rate_ppm)
           for r in spark.table("temp_gate").collect()}
    assert got == want


def test_streaming_ccnet_gate_nondefault_lang_col(spark, doc_batches,
                                                  tmp_path):
    """The gate must work for ANY language column name, not just
    'lang' (regression: the carry expression used to be re-evaluated
    after the first projection had already renamed the column)."""
    from datavault4dbt_spark.llm.lm import (
        BigramLmConfig, lm_model_frames, lm_score_frame,
        ccnet_cutoffs_frame, ccnet_assign_frame)
    from datavault4dbt_spark.streaming.curation import start_ccnet_gate

    fixtures.ensure_session_conf(spark)
    lang_expr = "CASE WHEN doc_id % 2 = 0 THEN 'en' ELSE 'de' END"
    batch = spark.read.parquet(doc_batches).selectExpr(
        "doc_id", "text", f"{lang_expr} AS language")
    cfg = BigramLmConfig("ccg2")
    model = tuple(f.localCheckpoint(eager=True)
                  for f in lm_model_frames(batch, cfg))
    scored = lm_score_frame(
        batch.withColumnRenamed("language", "lang"), *model, cfg,
        carry=("lang",))
    cuts = ccnet_cutoffs_frame(scored).localCheckpoint(eager=True)
    want = {tuple(map(str, r)) for r in
            ccnet_assign_frame(scored, cuts, cfg.id_col)
            .filter("keep").collect()}

    got_rows = []
    schema = spark.read.parquet(doc_batches).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(doc_batches)
              .selectExpr("doc_id", "text", f"{lang_expr} AS language"))
    q = start_ccnet_gate(
        stream, model, cuts, cfg, lang_col="language",
        sink=lambda df: got_rows.extend(df.collect()),
        checkpoint_dir=str(tmp_path / "ckpt_ccg2"))
    q.awaitTermination(300)
    assert {tuple(map(str, r)) for r in got_rows} == want and want


def test_streaming_quarantine_equals_batch(spark, doc_batches, tmp_path):
    """Schema-contract routing on an arriving stream must equal the
    batch lanes over the same corpus — both run the shared route_lanes
    core — and the lanes must partition the input."""
    from datavault4dbt_spark.context import Registry
    from datavault4dbt_spark.operators.quarantine import (
        QuarantineConfig, split_lanes)
    from datavault4dbt_spark.streaming.curation import streaming_quarantine

    fixtures.ensure_session_conf(spark)
    cfg = QuarantineConfig(
        "qs", "qdocs",
        rules=(("even_id", "doc_id % 2 = 0"),
               ("short", "length(text) < 300")),
        id_cols=("doc_id",))
    batch = spark.read.parquet(doc_batches)
    reg = Registry()
    reg.spark_loaders["qdocs"] = lambda _s: batch
    valid_b, quar_b = split_lanes(spark, reg, cfg)
    want_valid = {r.doc_id for r in valid_b.collect()}
    want_quar = {(r.doc_id, r.failed_rules) for r in quar_b.collect()}
    assert want_valid and want_quar                 # both lanes bite
    assert len(want_valid) + len(want_quar) == batch.count()

    schema = batch.schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(doc_batches))
    valid_s, quar_s = streaming_quarantine(stream, cfg)
    for name, lane in (("q_valid", valid_s), ("q_quar", quar_s)):
        q = (lane.writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True)
             .option("checkpointLocation",
                     str(tmp_path / f"ckpt_{name}")).start())
        q.awaitTermination(300)
    got_valid = {r.doc_id for r in spark.table("q_valid").collect()}
    got_quar = {(r.doc_id, r.failed_rules)
                for r in spark.table("q_quar").collect()}
    assert got_valid == want_valid
    assert got_quar == want_quar
