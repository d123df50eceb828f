"""Mechanical plan-quality gate over the ENTIRE query registry.

tools/plan_audit.py renders the headline plans for human review; this test
makes the two unambiguous scale red-flags a hard gate for every registered
query, so a regression (a lost broadcast hint, an accidental cartesian, a
non-equi join slipping into a nested loop) fails CI instead of surfacing in
a round report:

* ``CartesianProduct`` — never acceptable (every deliberate cross join in
  the engine broadcasts a tiny side, which plans as
  BroadcastNestedLoopJoin, not CartesianProduct);
* ``BroadcastNestedLoopJoin`` — acceptable only on the documented
  whitelist (tools/plan_audit.py::EXPECTED_NESTED_LOOP), where the
  broadcast side is rows-of-stats sized by construction.

Plans are compiled at sf0.001 (query builders that sample the data —
approxQuantile bucket bounds, counts — run tiny jobs; no query executes
its full plan here).
"""

from __future__ import annotations

import pytest

from etl_weather_jabar_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_cartesian_and_whitelisted_nested_loops(spark, all_query_frames):
    from tools.plan_audit import EXPECTED_NESTED_LOOP

    frames, build_errors = all_query_frames
    cartesian, stray_bnlj, errors = [], [], list(build_errors.items())
    for name in sorted(frames):
        try:
            plan = frames[name]._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # pragma: no cover - surfaced in assert
            errors.append((name, repr(e)[:200]))
            continue
        if "CartesianProduct" in plan:
            cartesian.append(name)
        if "BroadcastNestedLoopJoin" in plan and name not in EXPECTED_NESTED_LOOP:
            stray_bnlj.append(name)
    assert not errors, f"queries failed to plan: {errors}"
    assert not cartesian, f"CartesianProduct in: {cartesian}"
    assert not stray_bnlj, (
        "BroadcastNestedLoopJoin outside the documented whitelist in: "
        f"{stray_bnlj} — either fix the join to an equi-join or add the "
        "query to tools/plan_audit.py::EXPECTED_NESTED_LOOP with the "
        "reason its broadcast side is stats-sized"
    )


@pytest.mark.parametrize("name", ["pricing_summary", "broadcast_dim_join"])
def test_gate_is_sensitive(spark, name):
    """The gate reads real plans (not empty strings): a known-good query
    plans clean and non-trivially."""
    plan = _plan(spark, name)
    assert "Scan parquet" in plan and len(plan) > 500


def test_plan_only_mode_builds_heavy_queries_without_jobs(spark):
    """planmode.plan_only: the eager builders (connected components,
    BFS, PageRank iteration, MinHash candidate checkpoint) must build a
    plan WITHOUT submitting a single Spark job — the contract explain/
    plan-audit callers rely on. Verified via a job group: no job ids may
    appear for the construction thread."""
    from etl_weather_jabar_spark.planmode import plan_only
    from etl_weather_jabar_spark.queries import QUERIES

    from etl_weather_jabar_spark.sources.parquet import load_tables

    sc = spark.sparkContext
    sf_dir = "/root/testdata/sf0.001"
    # warm the per-table schema memo: the FIRST schemaless read of a
    # parquet path runs one footer job; every later load_table is
    # job-free, which is what plan-only construction relies on
    load_tables(spark, sf_dir)
    heavy = [
        "lsh_neardup_clusters",
        "minhash_lsh_neardup",
        "bfs_levels_graph",
        "pagerank_residue_graph",
    ]
    for name in heavy:
        group = f"planonly-{name}"
        sc.setJobGroup(group, "plan-only build probe")
        try:
            with plan_only():
                df = QUERIES[name](spark, sf_dir)
                # explain formats the plan; it must not execute either
                df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
        finally:
            sc.setJobGroup("", "")
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert list(jobs) == [], f"{name}: plan-only build ran jobs {jobs}"
        assert df.columns  # a real schema came back


def test_plan_only_mode_does_not_change_execution_results(spark):
    """Outside the context nothing changes: connected components still
    iterates to the true fixpoint (a 5-chain needs >1 round, which the
    single plan-only round would get wrong)."""
    from etl_weather_jabar_spark.ext.graph import connected_components
    from etl_weather_jabar_spark.planmode import is_plan_only, plan_only

    assert not is_plan_only()
    with plan_only():
        assert is_plan_only()
    assert not is_plan_only()

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], ["src", "dst"]
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(chain).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_reliable_checkpoint_persists_disk_only_and_keeps_lineage(spark):
    """checkpoint(df, reliable=True) (round-5 verdict item 3): blocks go
    to DISK_ONLY storage, lineage is KEPT (an executor loss on a real
    cluster recomputes instead of failing), results equal the default
    localCheckpoint path, and plan-only mode stays the identity."""
    import pyspark.sql.functions as F
    from pyspark import StorageLevel

    from etl_weather_jabar_spark.planmode import checkpoint, plan_only

    df = spark.range(100).withColumn("v", F.col("id") * 2)
    rel = checkpoint(df, reliable=True)
    try:
        assert rel.storageLevel == StorageLevel.DISK_ONLY
        # lineage kept: the analyzed plan still shows the Range source
        # (a localCheckpoint plan is an opaque LogicalRDD instead)
        assert "Range" in rel._jdf.queryExecution().analyzed().toString()
        loc = checkpoint(df)
        assert "Range" not in loc._jdf.queryExecution().analyzed().toString()
        assert sorted(r["v"] for r in rel.collect()) == sorted(
            r["v"] for r in loc.collect()
        )
        with plan_only():
            ident = checkpoint(df, reliable=True)
        assert ident is df
    finally:
        rel.unpersist()


def test_broadcast_if_small_guard_fallback_equals_broadcast(spark):
    """broadcast_if_small (round-5 verdict item 7): under the row
    threshold the hint is applied; past it the frame comes back
    unhinted (shuffle join — a web-scale vocabulary cannot OOM the
    driver) and the join RESULTS are identical either way; plan-only
    mode hints without running the probe job."""
    import pyspark.sql.functions as F

    from etl_weather_jabar_spark.operators.joins import broadcast_if_small
    from etl_weather_jabar_spark.planmode import plan_only

    vocab = spark.range(200).select(
        F.col("id").alias("w"), (F.col("id") % 7).alias("c")
    )
    fact = spark.range(1000).select((F.col("id") % 300).alias("w"))

    hinted = broadcast_if_small(vocab, max_rows=1000)
    unhinted = broadcast_if_small(vocab, max_rows=10)
    assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()
    assert (
        "ResolvedHint"
        not in unhinted._jdf.queryExecution().analyzed().toString()
    )
    # the hint survives an aliasing projection (the PMI x/y reuse shape)
    proj = hinted.select(F.col("w").alias("x"), "c")
    assert "ResolvedHint" in proj._jdf.queryExecution().analyzed().toString()

    a = sorted(map(tuple, fact.join(hinted, "w").collect()))
    b = sorted(map(tuple, fact.join(unhinted, "w").collect()))
    assert a == b
    assert len(a) > 0

    sc = spark.sparkContext
    group = "bif-planonly"
    sc.setJobGroup(group, "probe must not run in plan-only mode")
    try:
        with plan_only():
            po = broadcast_if_small(vocab, max_rows=0)
    finally:
        sc.setJobGroup("", "")
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert "ResolvedHint" in po._jdf.queryExecution().analyzed().toString()


def test_spread_never_executes_wide_plans(spark, tmp_path):
    """spread() must (a) fan out small narrow scans, (b) leave
    shuffle-bearing plans untouched WITHOUT executing them (df.rdd under
    AQE materializes every upstream exchange — the round-4 build-time
    bug), (c) repartition unconditionally under force=True."""
    import pyspark.sql.functions as F

    from etl_weather_jabar_spark.operators.partitioning import (
        _has_wide_node,
        spread,
    )

    p = str(tmp_path / "t")
    spark.range(100).select("id", (F.col("id") * 2).alias("v")).coalesce(
        1
    ).write.parquet(p)
    scan = spark.read.parquet(p)
    assert not _has_wide_node(scan)
    assert spread(scan).rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism

    wide = scan.groupBy("v").count()
    assert _has_wide_node(wide)
    joined = scan.join(scan.withColumnRenamed("v", "w"), "id")
    assert _has_wide_node(joined)
    reparted = scan.repartition(4)
    assert _has_wide_node(reparted)

    # wide plan: spread is the identity AND submits no job deciding so
    sc = spark.sparkContext
    sc.setJobGroup("spread-wide-probe", "")
    try:
        out = spread(wide)
    finally:
        sc.setJobGroup("", "")
    assert out is wide
    assert list(sc.statusTracker().getJobIdsForGroup("spread-wide-probe")) == []

    forced = spread(joined, force=True)
    assert forced is not joined and _has_wide_node(forced)


def test_rfm_ntile_adds_zero_exchanges(spark):
    """rfm_segment_counts' three differently-ordered quartiles are pure
    Column expressions (ntile_by_boundaries): the executed plan carries
    exactly the two semantic exchanges — the per-customer aggregate and
    the final (r, f, m) count — and nothing from the tile assignment
    (round-5 verdict item 6; the two-phase form paid one range
    repartition per measure)."""
    import re

    from etl_weather_jabar_spark.queries import QUERIES

    df = QUERIES["rfm_segment_counts"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the per-customer aggregate sits behind the localCheckpoint (it
    # feeds the boundary-selection jobs too), so the executed plan shows
    # ONLY the final (r, f, m) groupBy exchange — the tile projection
    # itself contributes none, and in particular no range repartition
    parts = set(re.findall(r"Exchange hashpartitioning\(([^,)]+)", plan))
    assert len(parts) == 1 and next(iter(parts)).startswith("r#"), parts
    assert not re.search(r"Exchange (range|RoundRobin)", plan, re.I), plan


def test_ppl_bucket_split_has_no_unpartitioned_window(spark):
    """Round-7 verdict item 1 made permanent: the CCNet tercile query's
    plan must never regress to a corpus-wide single-partition Window.
    After the scalable_ntile swap the only Window left is the LOCAL
    per-range-bucket row_number (partitionBy __part — exactly the
    scale-safe shape), and the offsets prefix-sum is a broadcast join,
    not a Window. A partitioned Window line prints three top-level
    bracket groups ([funcs], [partition], [order]); an unpartitioned
    one prints two — assert every Window in the plan is partitioned."""
    import re

    plan = _plan(spark, "ppl_bucket_split")
    windows = [
        ln for ln in plan.splitlines() if re.search(r"\bWindow \[", ln)
    ]
    assert windows, "expected the partitioned local-rank Window"
    for ln in windows:
        assert ln.count("], [") == 2, f"unpartitioned Window: {ln}"


def test_daily_recap_plans_one_exchange_and_no_join(spark):
    """daily_recap's hourly aggregate, hour window, day window and nest are
    all keyed on a superset of (date, location_id), and the wind mode and
    data points are computed from the hour window's list: with AQE off the
    executed plan holds exactly one hash exchange, on those two columns,
    and no join."""
    import re

    from etl_weather_jabar_spark.operators.aggregates import daily_recap
    from tests.fixtures import silver_fixture

    saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        recap = daily_recap(silver_fixture(spark))
        plan = recap._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)
    exchanges = re.findall(r"Exchange (\w+)\(([^)]*)\)", plan)
    assert len(exchanges) == 1, exchanges
    kind, cols = exchanges[0]
    assert kind == "hashpartitioning", exchanges
    assert re.fullmatch(r"date#\d+, location_id#\d+L?, \d+", cols), exchanges
    assert not re.search(r"Join|CartesianProduct", plan), plan
