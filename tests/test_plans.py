"""Physical-plan assertions: the plans we'd want at 100 TB, not just the
first ones that passed (predicate pushdown, column pruning, broadcast
joins, whole-stage codegen)."""
import contextlib
import io

from pyspark.sql import functions as F

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_q1_filter_pushed_to_scan(spark):
    plan = plan_of(entrymod.q1_pricing_summary(spark, SF))
    assert "PushedFilters" in plan and "l_shipdate" in plan


def test_q1_partial_aggregation(spark):
    # partial (map-side) + final agg: two HashAggregate nodes
    plan = plan_of(entrymod.q1_pricing_summary(spark, SF))
    assert plan.count("HashAggregate") >= 2


def test_j1_broadcast_join(spark):
    plan = plan_of(entrymod.j1_brand_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_text_stats_column_pruning(spark):
    plan = plan_of(entrymod.text_stats(spark, SF))
    # scan should read only doc_id + text, never lang/source/n_chars
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan and "lang" not in scan[0] and "n_chars" not in scan[0]


def test_p4_filter_stays_jvm_side(spark):
    """filter_rows through the Phase engine: the predicate CANNOT push below
    the scan — row numbers are assigned to pre-filter rows (reference
    semantics: dropped rows consume numbers), and Catalyst correctly
    refuses to move a filter through the nondeterministic lineage
    projection.  What we assert instead: the filter runs as a native
    Filter node (no Python), directly above the numbering."""
    plan = plan_of(entrymod.p4_filter_rows(spark, SF), "simple")
    assert "Filter" in plan and "l_quantity" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_raw_filter_pushdown_outside_phase(spark):
    """Without lineage semantics in the way, the same predicate reaches the
    parquet scan."""
    df = spark.read.parquet(f"{SF}/lineitem.parquet").filter(
        F.col("l_quantity") >= 45
    )
    plan = plan_of(df)
    assert "PushedFilters" in plan and "l_quantity" in plan


def test_column_stage_is_one_projection(spark):
    """The whole cast/validate stage must stay inside whole-stage codegen —
    no Python evaluation nodes."""
    plan = plan_of(entrymod.p1_column_casts(spark, SF), "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_topk_single_shuffle(spark):
    plan = plan_of(entrymod.topk_orders_per_customer(spark, SF), "simple")
    # one exchange for the window partitioning; no extra global sort
    assert plan.count("Exchange") <= 2


def test_minhash_partial_aggregation(spark):
    from phaser_spark.ops import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(dedup.minhash_signatures(docs), "simple")
    assert "HashAggregate" in plan or "SortAggregate" in plan
    assert "BatchEvalPython" not in plan


def test_asof_join_single_shuffle_no_join(spark):
    # union + one keyed window: exactly one exchange on the key, and NO
    # join node (a range join here would be quadratic at scale)
    plan = plan_of(entrymod.j4_asof_join(spark, SF))
    assert "Join" not in plan
    assert plan.count("hashpartitioning(") == 1


def test_rollup_partial_aggregation(spark):
    plan = plan_of(entrymod.a7_time_rollup(spark, SF))
    assert "Expand" in plan  # grouping-sets expansion, not 3 separate scans
    assert plan.count("HashAggregate") >= 2


def test_ivf_candidate_join_is_equi_join_on_cell(spark):
    from phaser_spark.ops import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    plan = plan_of(
        similarity.ivf_topk(
            emb, q, k=3, n_centroids=4, n_probe=2, broadcast_queries=True
        )
    )
    # with a provably-small probe set the join is a broadcast hash join on
    # cell, not a nested-loop scan
    assert "BroadcastHashJoin" in plan and "cell" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the default (AQE-decided) path must still be an equi-join on cell —
    # never a nested loop
    default_plan = plan_of(similarity.ivf_topk(emb, q, k=3, n_centroids=4, n_probe=2))
    assert "cell" in default_plan
    assert "BroadcastNestedLoopJoin" not in default_plan


def test_lineage_cache_skipped_for_deterministic_scans(spark):
    # auto mode: numbering a pure file scan (and a sort over one) must NOT
    # pin the input — a .cache() of a 100 TB source is a scale-killer; the
    # two numbering passes re-read the deterministic scan instead
    from phaser_spark.lineage import with_row_numbers

    plain = plan_of(with_row_numbers(spark.read.parquet(f"{SF}/orders.parquet")))
    assert "InMemoryRelation" not in plain and "InMemoryTableScan" not in plain
    o1 = plan_of(entrymod.o1_sort_rank(spark, SF))
    assert "InMemoryRelation" not in o1 and "InMemoryTableScan" not in o1
    p1 = plan_of(entrymod.p1_column_casts(spark, SF))
    assert "InMemoryRelation" not in p1 and "InMemoryTableScan" not in p1
    # ...but a shuffled input (no longer deterministic) IS pinned
    shuffled = plan_of(
        with_row_numbers(
            spark.read.parquet(f"{SF}/orders.parquet").repartition(8)
        )
    )
    assert "InMemoryRelation" in shuffled or "InMemoryTableScan" in shuffled


def test_ordered_renumber_has_no_global_window(spark):
    # scalable renumber: range-partitioned sort with the offsets folded
    # into the plan, never a single-task global row_number window
    df = entrymod.o1_sort_rank(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "rangepartitioning" in plan and "Join" not in plan


def test_pii_redaction_is_shuffle_free(spark):
    # redact_pii is a pure projection: scan -> regex stage -> project,
    # no Exchange at any data size (the driver query's spread_for_compute
    # fan-out is a separate, deliberate repartition)
    from phaser_spark.ops import pii

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(pii.redact_pii(docs, "text"))
    assert "Exchange" not in plan


def test_repetition_counting_is_partial_agg(spark):
    # the (id, kind, item) count must map-side combine before its shuffle
    plan = plan_of(entrymod.text_repetition(spark, SF))
    assert "partial_count" in plan or "HashAggregate" in plan


def test_stratified_sample_is_shuffle_free_with_pushdown(spark):
    # hash-bucket sampling is scan -> filter: no Exchange, and the filter
    # must not block column pruning of the wide text column
    plan = plan_of(entrymod.stratified_sample(spark, SF))
    assert "Exchange" not in plan
    assert "text" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_web_blocklist_filter_is_shuffle_free(spark):
    from phaser_spark.ops import web

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(web.filter_blocked_domains(docs, "text", ["ads.bad"]))
    assert "Exchange" not in plan


def test_pack_sequences_single_shuffle(spark):
    # partition-local windows: exactly one exchange (hash by lang), no
    # global sort (formatted mode prints each node name twice — count the
    # partitioning spec instead)
    plan = plan_of(entrymod.pack_sequences_by_lang(spark, SF))
    assert plan.count("hashpartitioning(") == 1
    assert "rangepartitioning" not in plan


def test_embedding_quantize_is_shuffle_free(spark):
    # per-row higher-order folds: single scan, zero exchanges, no Python
    plan = plan_of(entrymod.embedding_quantize(spark, SF))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_embedding_centroids_partial_aggregation(spark):
    # posexplode -> groupBy(label, dim) must map-side combine; the only
    # shuffle key is (g, dim) then (g) for reassembly
    plan = plan_of(entrymod.embedding_centroids(spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    # Co-located join: both sides bucketed on the join key with the same
    # bucket count -> the SortMergeJoin runs with NO Exchange on either
    # side (the 100-TB join strategy: shuffle once at write, never at read)
    from phaser_spark.io import save_parquet_bucketed

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        facts = spark.range(0, 1000).select(
            (F.col("id") % 50).alias("k"), F.col("id").alias("v")
        )
        dims = spark.range(0, 50).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("w")
        )
        save_parquet_bucketed(
            facts, "bt_facts", ["k"], num_buckets=4, sort_cols=["k"],
            path=str(tmp_path / "facts"),
        )
        save_parquet_bucketed(
            dims, "bt_dims", ["k"], num_buckets=4, sort_cols=["k"],
            path=str(tmp_path / "dims"),
        )
        joined = spark.table("bt_facts").join(spark.table("bt_dims"), "k")
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert "SelectedBucketsCount" in plan  # scan is bucket-aware
        assert joined.count() == 1000
        # aggregation on the bucket key rides the same layout: no Exchange
        agg = spark.table("bt_facts").groupBy("k").agg(F.sum("v").alias("s"))
        assert "Exchange" not in plan_of(agg)
        assert agg.count() == 50
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bt_facts")
        spark.sql("DROP TABLE IF EXISTS bt_dims")


def test_simhash_signature_build_has_no_join(spark):
    # the signature build must hash words inline on the (id, word, count)
    # rows — a vocabulary join would shuffle the full count table on the
    # word key (and the corpus vocabulary is never broadcastable at scale)
    from phaser_spark.ops import dedup

    docs = spark.read.parquet(SF + "/documents.parquet")
    plan = plan_of(dedup.simhash(docs, "doc_id", "text"))
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2  # map-side partials survive


def test_bucketed_checkpoint_phase2_agg_zero_exchange(spark, tmp_path):
    # Phase(checkpoint_bucket_by=...) materializes the phase checkpoint as
    # a bucketed catalog table, so a LATER phase's aggregation on the
    # bucketed key reads a pre-shuffled layout and skips its Exchange —
    # the families-pipeline idiom (re-join/re-agg on one key phase after
    # phase) pays its shuffle once at checkpoint write, never at read.
    from phaser_spark import Phase, Pipeline
    from phaser_spark.steps import dataframe_step

    data = spark.range(0, 2000).select(
        (F.col("id") % 10).cast("string").alias("k"), F.col("id").alias("v")
    )
    captured = {}

    @dataframe_step
    def agg_on_k(df, context=None):
        out = df.groupBy("k").agg(F.sum("v").alias("total"))
        captured["plan"] = plan_of(out)
        return out

    p1 = Phase(name="bucketstage", checkpoint_bucket_by=["k"], checkpoint_num_buckets=4)
    p2 = Phase(name="aggstage", steps=[agg_on_k])
    wd = str(tmp_path / "wd")
    try:
        result = Pipeline(
            working_dir=wd, source=data, phases=[p1, p2], spark=spark
        ).run()
        assert "Exchange" not in captured["plan"]
        assert "SelectedBucketsCount" in captured["plan"]  # bucket-aware scan
        got = {(r["k"], r["total"]) for r in result.select("k", "total").collect()}
        exp = {
            (r["k"], r["total"])
            for r in data.groupBy("k").agg(F.sum("v").alias("total")).collect()
        }
        assert got == exp
    finally:
        spark.sql("DROP TABLE IF EXISTS phaser_ckpt_pipeline_bucketstage")
        spark.sql("DROP TABLE IF EXISTS phaser_ckpt_pipeline_aggstage")


def test_bucketed_checkpoint_phase2_join_zero_exchange(spark, tmp_path):
    # Same contract for a join: the bucketed checkpoint side arrives
    # pre-shuffled, so only the OTHER side exchanges.
    from phaser_spark import Phase, Pipeline
    from phaser_spark.io import save_parquet_bucketed
    from phaser_spark.steps import dataframe_step

    data = spark.range(0, 1000).select(
        (F.col("id") % 50).alias("k"), F.col("id").alias("v")
    )
    dims = spark.range(0, 50).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
    captured = {}
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        save_parquet_bucketed(
            dims, "bt_ckpt_dims", ["k"], num_buckets=4, sort_cols=["k"],
            path=str(tmp_path / "dims"),
        )

        @dataframe_step
        def join_on_k(df, context=None):
            out = df.join(spark.table("bt_ckpt_dims"), "k")
            captured["plan"] = plan_of(out)
            return out

        p1 = Phase(name="bucketsrc", checkpoint_bucket_by=["k"], checkpoint_num_buckets=4)
        p2 = Phase(name="joinstage", steps=[join_on_k])
        result = Pipeline(
            working_dir=str(tmp_path / "wd"), source=data,
            phases=[p1, p2], spark=spark,
        ).run()
        assert "SortMergeJoin" in captured["plan"]
        assert "Exchange" not in captured["plan"]
        assert result.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bt_ckpt_dims")
        spark.sql("DROP TABLE IF EXISTS phaser_ckpt_pipeline_bucketsrc")
        spark.sql("DROP TABLE IF EXISTS phaser_ckpt_pipeline_joinstage")


def test_salted_join_spreads_hot_key(spark):
    # The salted plan must shuffle on (key, salt) — never on the key alone
    # — so a key holding half the table fans out over n_salts partitions
    # instead of landing on one sort-merge task.
    from phaser_spark.ops.relational import salted_join

    orders = spark.read.parquet(SF + "/orders.parquet")
    cust = spark.read.parquet(SF + "/customer.parquet").select(
        F.col("c_custkey").alias("k"), "c_mktsegment"
    )
    big = orders.select(
        F.when(F.col("o_orderkey") % 2 == 0, F.lit(1))
        .otherwise(F.col("o_custkey"))
        .cast("long")
        .alias("k"),
        "o_totalprice",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = salted_join(big, cust, on=["k"], n_salts=16)
        plan = plan_of(joined, "simple")
        assert "__phaser_salt__" in plan  # salt participates in the join key
        assert "xxhash64" in plan  # deterministic (retry-safe) salt, not rand()
        parts = [ln for ln in plan.splitlines() if "hashpartitioning(" in ln]
        assert parts and all("__phaser_salt__" in ln for ln in parts)
        # empirically: the hot key occupies every one of the 16 salt buckets
        # (same expression salted_join uses: xxhash64 over non-key columns)
        n_buckets = (
            big.filter(F.col("k") == 1)
            .select(F.pmod(F.xxhash64("o_totalprice"), F.lit(16)).alias("s"))
            .distinct()
            .count()
        )
        assert n_buckets == 16
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_salted_join_key_only_warns(spark):
    # Degenerate salt_source (keys only) cannot spread a hot key — the
    # engine must say so instead of silently doing nothing.
    import warnings

    from phaser_spark.ops.relational import salted_join

    big = spark.range(0, 100).select((F.col("id") % 3).alias("k"))
    small = spark.range(0, 3).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = salted_join(big, small, on=["k"], n_salts=4)
        assert any("skew mitigation does nothing" in str(w.message) for w in caught)
    assert out.count() == 100


def test_tfidf_partitioned_window_and_partial_aggs(spark):
    # tf and df aggregates must map-side combine; the ranking window is
    # partitioned per document — a global (empty-partition) window would
    # be a single-task bottleneck at corpus scale
    from phaser_spark.ops import text as text_ops

    docs = spark.read.parquet(SF + "/documents.parquet")
    plan = plan_of(text_ops.tfidf_top_terms(docs, "doc_id", "text", k=5))
    assert plan.count("HashAggregate") >= 2
    # ranking window is keyed on the document id (first windowspec arg);
    # a global window would show an empty/other partition spec
    assert "windowspecdefinition(id#" in plan
    # rank<=k pushed into the shuffle as WindowGroupLimit (partial top-k
    # before the exchange — the plan we want at corpus scale)
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cube_single_scan_expand_partial_agg(spark):
    # all 4 cube levels from ONE scan + Expand + partial/final agg — not a
    # scan per level
    plan = plan_of(entrymod.a9_cube_revenue(spark, SF), "simple")
    assert "Expand" in plan
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Scan parquet") == 1


def test_range_join_is_equi_join_on_bin_not_nested_loop(spark):
    # the bin-bucketed range join must plan an equi-join (hash/sort-merge
    # on the bin key) with the range predicate as residual — a
    # BroadcastNestedLoopJoin here is the quadratic plan we refuse
    plan = plan_of(entrymod.j5_interval_match(spark, SF))
    assert "NestedLoop" not in plan
    assert "__phaser_bin__" in plan


def test_range_join_default_derives_bin_never_cartesian(spark):
    # with bin_width omitted the width is DERIVED from the interval-span
    # distribution — the planned join must still be the binned equi-join,
    # never BroadcastNestedLoopJoin/CartesianProduct (the old default)
    from phaser_spark.ops.relational import range_join

    points = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "pid long, p double"
    )
    intervals = spark.createDataFrame(
        [(j, float(j), float(j + 3)) for j in range(10)],
        "iid long, s double, e double",
    )
    out = range_join(points, intervals, "p", "s", "e")
    plan = plan_of(out)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "__phaser_bin__" in plan
    # the explicit escape hatch still plans the naive non-equi join
    naive = range_join(
        points, intervals, "p", "s", "e", allow_cartesian=True
    )
    assert "__phaser_bin__" not in plan_of(naive)


def test_range_join_span_skew_bounds_replication(spark):
    """Pathological span skew: one interval 100,000× wider than the rest.
    A median-derived width would replicate it across ~100,000 bins; the
    p95 + max/1024 derivation bounds EVERY interval's replication, and
    results still match the naive join."""
    from pyspark.sql import functions as F

    from phaser_spark.ops.relational import range_join

    points = spark.createDataFrame(
        [(i, float(i * 37 % 1000)) for i in range(200)], "pid long, p double"
    )
    ivs = [(j, float(j * 10), float(j * 10 + 1)) for j in range(50)]
    ivs.append((999, 0.0, 100_000.0))  # the one monster interval
    intervals = spark.createDataFrame(ivs, "iid long, s double, e double")
    out = range_join(points, intervals, "p", "s", "e")
    got = {(r.pid, r.iid) for r in out.collect()}
    want = {
        (r.pid, r.iid)
        for r in points.crossJoin(intervals)
        .filter((F.col("p") >= F.col("s")) & (F.col("p") < F.col("e")))
        .collect()
    }
    assert got == want
    # replication bound: reproduce the derived width and count each
    # interval's bins — no interval may exceed the documented cap
    spans = intervals.select((F.col("e") - F.col("s")).alias("sp"))
    p95, mx = spans.agg(
        F.percentile_approx("sp", F.lit(0.95), F.lit(1000)),
        F.max("sp"),
    ).collect()[0]
    width = max(float(p95), float(mx) / 1024)
    reps = [int(e // width) - int(s // width) + 1 for _, s, e in ivs]
    assert max(reps) <= 1025  # span/width bins + 1 boundary partial
    # and the typical interval still lands in O(1) bins
    assert sorted(reps)[len(reps) // 2] <= 2


def test_sketch_report_stays_jvm_side(spark):
    plan = plan_of(entrymod.sketch_distinct_accuracy(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final



def test_plan_summary_and_assert_scalable(spark):
    from pyspark.sql import functions as F

    from phaser_spark.exceptions import PhaserError
    from phaser_spark.plan import assert_scalable, plan_summary

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    agg = li.filter(F.col("l_quantity") > 10).groupBy("l_returnflag").count()
    s = plan_summary(agg)
    assert s["exchanges"] == 1 and s["scans"] == 1
    assert s["python_evals"] == 0 and s["nested_loops"] == 0
    assert s["expands"] == 0
    assert s["hash_aggregates"] >= 2 and s["pushed_filters"]
    assert assert_scalable(agg, max_exchanges=1) == s

    # over-budget: one exchange against a zero-exchange budget
    import pytest as _pytest

    # the multiple-DISTINCT rewrite replicates rows via Expand: budgetable
    multi = li.agg(
        F.count_distinct("l_orderkey"), F.count_distinct("l_partkey")
    )
    with _pytest.raises(PhaserError, match="Expand"):
        assert_scalable(multi, max_expands=0)

    with _pytest.raises(PhaserError, match="exchanges"):
        assert_scalable(agg, max_exchanges=0)

    # quadratic join shape is flagged
    other = spark.range(3).withColumnRenamed("id", "r")
    nested = li.join(other, li.l_quantity > other.r)
    with _pytest.raises(PhaserError, match="NestedLoop"):
        assert_scalable(nested)


def test_skew_report_flags_hot_key(spark):
    from phaser_spark.plan import skew_report

    rows = [("hot",)] * 900 + [(f"k{i}",) for i in range(100)]
    df = spark.createDataFrame(rows, "k string")
    rep = skew_report(df, ["k"], top=5, shuffle_partitions=32).collect()
    by_key = {r.k: r for r in rep}
    assert by_key["hot"].hot and abs(by_key["hot"].share - 0.9) < 1e-9
    # uniform tail keys are not hot
    assert not any(r.hot for r in rep if r.k != "hot")

    import pytest as _pytest

    from phaser_spark.exceptions import PhaserError

    with _pytest.raises(PhaserError):
        skew_report(spark.createDataFrame([], "k string"), ["k"])


def test_decimal_exact_ops_invariant_under_partitioning(spark):
    """The determinism contract behind every oracle: operators built on
    decimal-exact accumulation must produce BIT-IDENTICAL results no
    matter how the data is partitioned (a plain double sum would differ
    in low bits per shuffle layout)."""
    import random

    from pyspark.sql import functions as F

    from phaser_spark.ops import quality as Q
    from phaser_spark.ops.embeddings import group_centroids
    from phaser_spark.ops.features import target_encode
    from phaser_spark.ops.profile import correlations

    rng = random.Random(11)
    rows = [
        (i, ["a", "b", "c"][i % 3], rng.uniform(-1e6, 1e6), rng.uniform(0, 1),
         [rng.uniform(-1, 1) for _ in range(8)])
        for i in range(500)
    ]
    schema = "id long, g string, x double, y double, v array<double>"

    def snapshot(df):
        out = []
        out.append(sorted(map(tuple, Q.standardize(df, "x", group_by=["g"])
                              .select("id", "x_z").collect())))
        out.append(sorted(map(tuple, correlations(df, ["x", "y"]).collect())))
        out.append(sorted(map(tuple, target_encode(df, "g", "x", smoothing=3.0)
                              .select("id", "g_enc").collect())))
        out.append(sorted(
            (r.g, tuple(r.centroid)) for r in group_centroids(df, "g", "v").collect()
        ))
        return out

    one = snapshot(spark.createDataFrame(rows, schema).coalesce(1))
    many = snapshot(spark.createDataFrame(rows, schema).repartition(17, "id"))
    assert one == many  # bit-identical, not approximately equal


def test_codegen_fallback_probe_and_warning(spark):
    """VERDICT r11 #4: a fused stage that janino rejects (64 KB method
    limit) silently runs interpreted — the engine now test-compiles
    risky phases and surfaces a named warning.  The exact probe says a
    30-IntColumn contract still compiles while 40+ fall back (the r11
    SCALE.md note that 60 columns compile clean predates the r11
    swept-row/policy-struct growth of the fused stage); the pathological
    all-axes fusion from the differential sweep warns too."""
    import warnings as W

    from phaser_spark import Column, DateColumn, IntColumn, Phase, Pipeline
    from phaser_spark.context import Context
    from phaser_spark.lineage import with_row_numbers
    from phaser_spark.plan import (
        CODEGEN_PROBE_MIN_WEIGHT,
        codegen_weight,
        warn_if_codegen_fallback,
    )

    def phase_out(cols, names):
        df = spark.createDataFrame(
            [tuple(str(i) for _ in names) for i in range(5)],
            ", ".join(f"{c} string" for c in names),
        )
        ph = Phase(name="probe", columns=cols, context=Context(spark=spark))
        return ph.run(with_row_numbers(df))

    # narrow phases never pay the probe: static weight below the gate
    assert codegen_weight([IntColumn(f"c{i}") for i in range(10)]) < \
        CODEGEN_PROBE_MIN_WEIGHT

    # 30 plain IntColumns: probed (weight == gate) and SILENT — compiles
    out30 = phase_out([IntColumn(f"c{i}") for i in range(30)],
                      [f"c{i}" for i in range(30)])
    assert warn_if_codegen_fallback(out30, "phase t30") == []

    # 60 plain IntColumns: the fused cast+policy stage exceeds 64 KB
    out60 = phase_out([IntColumn(f"c{i}") for i in range(60)],
                      [f"c{i}" for i in range(60)])
    with W.catch_warnings(record=True) as got:
        W.simplefilter("always")
        failed = warn_if_codegen_fallback(out60, "phase t60")
    assert failed and not failed[0]["compiled"]
    assert any("CODEGEN_FALLBACK in phase t60" in str(w.message) for w in got)

    # the r11 differential sweep's all-axes fusion warns end-to-end
    # through Pipeline.run (the weight gate admits it, the probe fails)
    cols, names = [], []
    for i in range(24):  # 16-pair shape compiles at 51 KB; 24 clears 64 KB
        names += [f"d{i}", f"s{i}"]
        cols.append(DateColumn(f"d{i}", default="2020-01-01"))
        cols.append(Column(f"s{i}", allowed_values=list("abc1234"),
                           default="a", fix_value_fn=["strip", "lower"]))
    assert codegen_weight(cols) >= CODEGEN_PROBE_MIN_WEIGHT
    src = spark.createDataFrame(
        [
            tuple("2020-01-01" if c.startswith("d") else "a" for c in names)
            for _ in range(3)
        ],
        ", ".join(f"{c} string" for c in names),
    )
    pipe = Pipeline(
        phases=[Phase(name="axes", columns=cols)], name="cg", spark=spark
    )
    with W.catch_warnings(record=True) as got:
        W.simplefilter("always")
        pipe.run(src)
    assert any("CODEGEN_FALLBACK in phase axes" in str(w.message) for w in got)
