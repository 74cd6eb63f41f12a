"""Multi-batch replay: loading the three deterministic daily batches
one-by-one through the incremental path (HWM + anti-join append) must
produce exactly the single-shot full load (SURVEY §5 test plan)."""

import pytest
from pyspark.sql import functions as F

from datavault4dbt_spark import fixtures
from datavault4dbt_spark.context import DEFAULT, Registry
from datavault4dbt_spark.operators.hub import build_hub
from datavault4dbt_spark.operators.sat import build_sat_v0
from datavault4dbt_spark.operators.link import build_link
from datavault4dbt_spark.plans.incremental import ParquetStore, max_ldts

pytestmark = pytest.mark.slow

G = DEFAULT


def _staged_batches(spark, sf_dir, stage_name):
    """The stage split into its deterministic daily ldts batches."""
    full = fixtures.entity_query(stage_name)(spark, sf_dir)
    ghosts = full.filter(F.col("rsrc").isin("SYSTEM", "ERROR"))
    data = full.filter(~F.col("rsrc").isin("SYSTEM", "ERROR"))
    days = sorted(r[0] for r in data.select("ldts").distinct().collect())
    # ghost records ride along with the FIRST batch (they are generated
    # by the stage; replaying them is harmless but not realistic)
    return [data.filter(F.col("ldts") == d) if i else
            data.filter(F.col("ldts") == d).unionByName(ghosts)
            for i, d in enumerate(days)]


def _rows(df, cols=None):
    cols = cols or df.columns
    return sorted(tuple(str(x) for x in r) for r in df.select(*cols).collect())


@pytest.mark.parametrize("entity,builder", [
    ("hub_customer", build_hub),
    ("link_customer_nation", build_link),
    ("sat_customer_n0_s", build_sat_v0),
])
def test_batch_replay_equals_full_load(spark, sf_dir, tmp_path, entity, builder):
    cfg = fixtures._index()[entity][0]
    store = ParquetStore(spark, str(tmp_path))
    for batch in _staged_batches(spark, sf_dir, "stage_customer"):
        reg = Registry()
        reg.spark_loaders["stage_customer"] = lambda _s, b=batch: b
        target = store.read(entity) if store.exists(entity) else None
        new = builder(spark, reg, cfg, G, target=target)
        store.append(entity, new)

    want = fixtures.entity_query(entity)(spark, sf_dir)
    got = store.read(entity)
    assert _rows(got) == _rows(want)


def test_hwm_prunes_already_loaded_batches(spark, sf_dir, tmp_path):
    cfg = fixtures.HUBS["hub_customer"]
    store = ParquetStore(spark, str(tmp_path))
    batches = _staged_batches(spark, sf_dir, "stage_customer")

    reg = Registry()
    reg.spark_loaders["stage_customer"] = lambda _s, b=batches[0]: b
    store.append("hub", build_hub(spark, reg, cfg, G, target=None))
    hwm = max_ldts(store.read("hub"), G)

    # replay batch 0 + batch 1 together: HWM must prune batch 0 rows
    both = batches[0].unionByName(batches[1])
    reg2 = Registry()
    reg2.spark_loaders["stage_customer"] = lambda _s, b=both: b
    new = build_hub(spark, reg2, cfg, G, target=store.read("hub"))
    inserted = new.collect()
    assert all(r.ldts > hwm for r in inserted)
    # and nothing already present sneaks back in
    present = {r.hk_customer_h for r in store.read("hub").collect()}
    assert all(r.hk_customer_h not in present for r in inserted)


def test_rsrc_static_per_source_hwm(spark, sf_dir, tmp_path):
    """A brand-new source must not be pruned by another source's
    watermark (reference hub.sql:44-131 probe + per-rsrc_static HWM)."""
    from datavault4dbt_spark.operators.hub import EntitySource, HubConfig

    cfg2 = HubConfig(
        "hub_nation2", "hk_nation_h", ("n_nationkey",),
        (EntitySource("stage_nation", rsrc_static="TPCH/nation"),
         EntitySource("stage_supplier", bk_columns=("s_nationkey",),
                      rsrc_static="TPCH/supplier")))
    full_nation = fixtures.entity_query("stage_nation")(spark, sf_dir)
    full_supplier = fixtures.entity_query("stage_supplier")(spark, sf_dir)

    # load 1: nation only (supplier source empty)
    reg = Registry()
    reg.spark_loaders["stage_nation"] = lambda _s: full_nation
    reg.spark_loaders["stage_supplier"] = (
        lambda _s: full_supplier.limit(0))
    store = ParquetStore(spark, str(tmp_path))
    store.append("hub", build_hub(spark, reg, cfg2, G, target=None))
    target = store.read("hub")

    # load 2: supplier appears. Its ldts batches start at 2024-01-01 —
    # BELOW nation's watermark — so a global HWM would drop them; the
    # per-rsrc_static HWM + probe must keep every new supplier key.
    reg2 = Registry()
    reg2.spark_loaders["stage_nation"] = lambda _s: full_nation
    reg2.spark_loaders["stage_supplier"] = lambda _s: full_supplier
    new = build_hub(spark, reg2, cfg2, G, target=target)
    inserted = {r.n_nationkey for r in new.collect()}
    sup_keys = {r.s_nationkey for r in
                full_supplier.filter("rsrc = 'TPCH/supplier'").collect()}
    nation_keys = {r.n_nationkey for r in
                   full_nation.filter("rsrc = 'TPCH/nation'").collect()}
    assert sup_keys - nation_keys <= inserted or not (sup_keys - nation_keys)
    # and replaying load 2 inserts nothing
    store.append("hub", new)
    again = build_hub(spark, reg2, cfg2, G, target=store.read("hub"))
    assert again.count() == 0


def test_hwm_probe_scope_clears_cache_even_on_failure(spark):
    """The probe cache strongly references target DataFrames; the scope
    must drop the entries on BOTH exits so a failed load pass cannot
    leak plans for the process lifetime (round-7 advice)."""
    import datetime

    import pytest

    from datavault4dbt_spark.plans import incremental as inc

    t = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 2), "TPCH/nation")],
        f"{G.ldts_alias} timestamp, {G.rsrc_alias} string")
    with inc.hwm_probe_scope({"e": t}, {"e": [None, "TPCH/%"]}):
        assert id(t) in inc._HWM_PROBES
        # both probe kinds served from the cache (no further jobs)
        assert inc.max_ldts(t, G) == datetime.datetime(2024, 1, 2)
    assert id(t) not in inc._HWM_PROBES
    with pytest.raises(RuntimeError, match="boom"):
        with inc.hwm_probe_scope({"e": t}, {"e": [None]}):
            raise RuntimeError("boom")
    assert id(t) not in inc._HWM_PROBES


def test_replay_query_phase2_contributes(spark, sf_dir):
    """The driver-visible incremental_replay query must actually push
    rows through the phase-2 incremental branch: rows with ldts after
    the cutoff (excluding the end-of-times ghost) can only have been
    inserted by the incremental build against the stored target. A
    cutoff beyond the data would make the replay vacuously equal the
    full load without testing incrementality."""
    cfg = fixtures.REPLAYS["incremental_replay"]
    df = fixtures.entity_query("incremental_replay")(spark, sf_dir)
    late = df.filter(
        f"ldts > TIMESTAMP '{cfg.cutoff}' "
        f"AND ldts != TIMESTAMP '{G.end_of_all_times}'")
    per = {r["entity"]: r["count"]
           for r in late.groupBy("entity").count().collect()}
    for m in cfg.members:
        if m.entity == "hub_nation_multisource":
            # all nations arrive in phase 1: the phase-2 anti-join must
            # drop every candidate (a broken anti-join would instead
            # surface duplicates and fail the oracle hash)
            assert per.get(m.entity, 0) == 0
        else:
            assert per.get(m.entity, 0) > 0, f"phase 2 empty for {m.entity}"


def test_replay_union_split_gated_on_source_bytes(spark, sf_dir):
    """The small-vault union split (operators/bundle.py:
    split_small_union): each final branch gets its own AQE rebalance
    exchange when the registry's source bytes are known and under the
    ceiling (always true for the testdata), bounding per-stage task
    closures to one branch; an unknown-scale registry
    (source_bytes == 0) keeps the union exchange-free at the top (the
    production shape)."""
    df = fixtures.entity_query("incremental_replay")(spark, sf_dir)
    assert "RebalancePartitions" in df._jdf.queryExecution() \
        .analyzed().toString(), "split gate should fire on testdata"

    reg = fixtures.registry(spark, sf_dir)
    reg.source_bytes = 0
    reg.persist_names.update(fixtures._multi_consumed("incremental_replay"))
    df_off = reg.load(spark, "incremental_replay")
    assert "RebalancePartitions" not in df_off._jdf.queryExecution() \
        .analyzed().toString(), "unknown scale must not split"


def test_store_known_schema_reads(spark, tmp_path):
    """ParquetStore records the schema of its own UNPARTITIONED writes
    and serves later reads with it (skipping footer inference) — the
    read must still see rows appended after the memo was recorded, and
    a partitioned write must drop the memo (read-back column order
    differs under a hive layout)."""
    store = ParquetStore(spark, str(tmp_path))
    df1 = spark.createDataFrame([(1, "a")], "k int, v string")
    store.overwrite("t", df1)
    assert "t" in store._known_schemas
    # later appends are visible through the memo'd-schema read
    store.append("t", spark.createDataFrame([(2, "b")], "k int, v string"))
    got = store.read("t")
    assert got.schema == df1.schema
    assert sorted(r["k"] for r in got.collect()) == [1, 2]
    # an overwrite with a different schema refreshes the memo
    df2 = spark.createDataFrame([("x", 9)], "v string, k int")
    store.overwrite("t", df2)
    assert store.read("t").columns == ["v", "k"]
    # partitioned writes drop the memo and fall back to inference
    store.append("p", spark.createDataFrame(
        [(1, 0)], "k int, part int"), partition_by=("part",))
    assert "p" not in store._known_schemas
    assert sorted(store.read("p").columns) == ["k", "part"]


def test_store_empty_appends_land_no_file(spark, tmp_path):
    """An append of zero rows to an existing table leaves its file set
    (and so its listing) unchanged; the table still reads with its
    schema. A first write keeps its schema-carrying file."""
    import os

    store = ParquetStore(spark, str(tmp_path))
    empty = spark.createDataFrame([], "k int, v string")
    store.append("t", empty)
    files = sorted(os.listdir(store.path("t")))
    assert any(f.endswith(".parquet") for f in files)
    store.append("t", spark.createDataFrame([(1, "a")], "k int, v string"))
    files = sorted(os.listdir(store.path("t")))
    listing = store.listing("t")
    for _ in range(3):
        store.append("t", empty)
    assert sorted(os.listdir(store.path("t"))) == files
    assert store.listing("t") == listing
    fresh = ParquetStore(spark, str(tmp_path))      # no schema memo
    got = fresh.read("t")
    assert got.schema == empty.schema
    assert [tuple(r) for r in got.collect()] == [(1, "a")]
