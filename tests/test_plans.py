"""Physical-plan discipline: the properties SURVEY.md §4 says Catalyst
must deliver once we phrase operators declaratively. These assertions
are the 100 TB posture made checkable."""

import pytest
from pyspark.sql import functions as F

from dbscan_pyspark_spark.operators.anonymize import assign_nearest
from dbscan_pyspark_spark.operators.eps_join import core_points, eps_self_join
from dbscan_pyspark_spark.plans.inspect import (
    assert_no_cartesian,
    broadcast_join_count,
    pushed_filters,
    scan_columns,
    shuffle_count,
    wholestage_codegen_spans,
)
from dbscan_pyspark_spark.sources.tables import load_table, points_from_customer

SF = "/root/testdata/sf0.001"


def test_filter_and_column_pushdown(spark):
    li = (
        load_table(spark, SF, "lineitem")
        .where(F.col("l_quantity") > 40)
        .select("l_orderkey", "l_quantity")
    )
    filters = pushed_filters(li)
    assert any("GreaterThan(l_quantity,40.0)" in f for f in filters)
    cols = scan_columns(li)
    # scan reads only the two projected columns, not all 11
    assert cols and set(cols[0]) == {"l_orderkey", "l_quantity"}


def test_q1_prunes_scan(spark):
    import __spark_entry__ as m

    q1 = m.queries()["q1_pricing_summary"](spark, SF)
    cols = scan_columns(q1)[0]
    assert set(cols) == {
        "l_quantity", "l_extendedprice", "l_discount", "l_returnflag", "l_linestatus",
    }
    assert shuffle_count(q1) <= 1  # single agg exchange


def test_joins_broadcast_small_dims(spark):
    import __spark_entry__ as m

    nr = m.queries()["nation_revenue"](spark, SF)
    assert broadcast_join_count(nr) >= 2  # nation + region at minimum
    assert_no_cartesian(nr)


def test_eps_join_is_not_cartesian(spark):
    pts = points_from_customer(spark, SF)
    pairs = eps_self_join(pts, 3.0)
    assert_no_cartesian(pairs)


def test_core_points_contracted_bounded_shuffles(spark):
    # duplicate contraction trades a bounded number of extra exchanges
    # (rep groupBy, weighted count, expansion join) for orders of
    # magnitude fewer candidate pairs — the 100 TB trade. Fixed bound so
    # a regression that re-joins the pair relation shows up here.
    pts = points_from_customer(spark, SF)
    cp = core_points(pts, 3.0, 4)
    assert shuffle_count(cp) <= 6
    assert_no_cartesian(cp)


def test_assign_nearest_broadcasts_centroids(spark):
    pts = points_from_customer(spark, SF)
    cents = spark.createDataFrame(
        [(0, [0.0, 5.0]), (1, [25.0, 12.0])], "cluster_id int, centroid array<double>"
    )
    an = assign_nearest(pts, cents)
    assert broadcast_join_count(an) >= 1
    assert_no_cartesian(an)


def test_codegen_active_on_agg_path(spark):
    import __spark_entry__ as m

    q1 = m.queries()["q1_pricing_summary"](spark, SF)
    assert wholestage_codegen_spans(q1) >= 1


def test_nation_pair_trade_broadcasts_all_dims(spark):
    """Q7 shape: both nation aliases + supplier + customer build sides
    broadcast; the only exchange left is the final aggregation."""
    import __spark_entry__ as m

    df = m.queries()["nation_pair_trade"](spark, SF)
    assert broadcast_join_count(df) >= 4
    assert shuffle_count(df) <= 1
    assert_no_cartesian(df)


def test_market_share_dims_broadcast(spark):
    """Q8 shape: supplier/nation/region dim chain broadcasts so the
    fact table shuffles once — for the orders join — plus the final
    year aggregation; no dim-induced fact shuffle."""
    import __spark_entry__ as m

    df = m.queries()["market_share_by_year"](spark, SF)
    assert broadcast_join_count(df) >= 3
    assert shuffle_count(df) <= 3  # orders join (2 sides) + year agg
    assert_no_cartesian(df)


def test_profit_rollup_pushes_part_filter(spark):
    """Q9 shape: the p_type predicate reaches the part scan (the 100 TB
    read reduction), and part/supplier/nation all broadcast."""
    import __spark_entry__ as m

    df = m.queries()["profit_by_nation_year"](spark, SF)
    assert any("EqualTo(p_type,PROMO)" in f for f in pushed_filters(df))
    assert broadcast_join_count(df) >= 3
    assert_no_cartesian(df)


def test_disjunctive_predicates_push_to_both_scans(spark):
    """Q19 shape: Catalyst must split the cross-table OR into per-side
    residuals and push them into BOTH parquet scans — the difference
    between scanning 100 TB and scanning the qualifying slivers."""
    import __spark_entry__ as m

    df = m.queries()["disjunctive_part_revenue"](spark, SF)
    filters = pushed_filters(df)
    assert any("Or(And(" in f and "l_quantity" in f for f in filters), filters
    assert any("EqualTo(p_brand,Brand#1)" in f for f in filters), filters
    assert_no_cartesian(df)


@pytest.mark.slow
def test_no_contract_query_degenerates_to_cartesian(spark):
    """Every contract query's physical plan is cartesian-free — the
    reference's fatal mistake (DBSCAN.py:161) can't re-enter through any
    registered operator. BroadcastNestedLoop against bounded build sides
    (centroid/query sets) stays allowed, as in assert_no_cartesian."""
    import __spark_entry__ as m

    failures = []
    for name, fn in m.queries().items():
        try:
            assert_no_cartesian(fn(spark, SF))
        except AssertionError:
            failures.append(name)
        except Exception as e:  # plan construction itself failed
            failures.append(f"{name} (error: {e})")
    assert not failures, f"cartesian/failed plans: {failures}"


def test_static_partition_pruning(spark, tmp_path):
    # A filter on the partition column must become a PartitionFilter on
    # the scan (directories skipped at planning time), not a post-scan
    # Filter over all partitions -- at 100 TB this is the difference
    # between reading one day and reading the table.
    ev = load_table(spark, SF, "events")
    path = str(tmp_path / "ev_parted")
    ev.write.partitionBy("event_type").parquet(path)
    df = spark.read.parquet(path).where(F.col("event_type") == "click")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    lo = plan.find("PartitionFilters")
    assert "event_type" in plan[lo : plan.find("]", lo)]
    assert df.count() == ev.where(F.col("event_type") == "click").count()


def test_dynamic_partition_pruning(spark, tmp_path):
    # Star-join shape: the fact is partitioned on the join key and the
    # dim carries the selective filter. DPP must inject a runtime
    # pruning subquery into the fact scan so only dim-surviving
    # partitions are read.
    ev = load_table(spark, SF, "events")
    path = str(tmp_path / "ev_parted_dpp")
    ev.write.partitionBy("event_type").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("click", "interactive"), ("view", "passive"), ("error", "ops")],
        "event_type string, category string",
    )
    joined = fact.join(dim.where(F.col("category") == "ops"), "event_type")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    assert joined.count() == ev.where(F.col("event_type") == "error").count()


def test_runtime_bloom_filter_reaches_fact_scan(spark, tmp_path):
    """A selective dim filter on a shuffle join injects a runtime bloom
    filter (might_contain) on the fact side — the SPARK-32268 pruning
    session.py pins on. Thresholds are lowered to exercise the path on
    test-sized parquet; production keeps Spark defaults."""
    from pyspark.sql import functions as F

    fact_p = str(tmp_path / "fact")
    dim_p = str(tmp_path / "dim")
    spark.range(50_000).select(
        F.col("id").alias("fk"), (F.col("id") % 97).alias("v")
    ).write.mode("overwrite").parquet(fact_p)
    spark.range(5_000).select(
        F.col("id").alias("pk"), (F.col("id") % 7).alias("cat")
    ).write.mode("overwrite").parquet(dim_p)

    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        fact = spark.read.parquet(fact_p)
        dim = spark.read.parquet(dim_p).where(F.col("cat") == 3)
        joined = fact.join(dim, fact["fk"] == dim["pk"])
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
        # and the result is still correct
        assert joined.count() == 5_000 // 7 + (1 if 3 < 5000 % 7 else 0)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_corpus_filter_bounded_shuffles(spark):
    """All quality signals are projections over one scan; the only
    exchange is the fingerprint dup-window. A regression that re-joins
    per-signal relations shows up as extra shuffles here."""
    from dbscan_pyspark_spark.operators.pipeline import corpus_filter
    from dbscan_pyspark_spark.sources.tables import load_table

    out = corpus_filter(load_table(spark, SF, "documents"))
    assert shuffle_count(out) <= 1
    assert_no_cartesian(out)


def test_scd2_single_sort_exchange(spark):
    """Both stacked windows share the (key) partitioning: one exchange,
    and Spark reuses one sort for the run-detection lag and the
    interval lead."""
    from dbscan_pyspark_spark.operators.events import scd2_intervals
    from dbscan_pyspark_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events")
    out = scd2_intervals(ev, "user_id", "ts", ["event_type"], order_cols=("event_id",))
    assert shuffle_count(out) <= 1
    assert_no_cartesian(out)


def test_merge_intervals_two_exchanges_max(spark):
    """One exchange for the key windows + the partial-aggregated island
    groupBy (same key prefix — AQE may even reuse); bounded so an
    accidental re-sort regression is caught."""
    from dbscan_pyspark_spark.operators.events import merge_intervals
    from dbscan_pyspark_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, SF, "events").select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("e"),
    )
    out = merge_intervals(ev, "user_id", "s", "e")
    assert shuffle_count(out) <= 2
    assert_no_cartesian(out)


def test_embedding_covariance_one_partial_gram_pass(spark):
    """The plan must show exactly one Arrow (MapInPandas) pass feeding
    the final tiny aggregation — never an explode of n x dim^2 rows."""
    from dbscan_pyspark_spark.operators.similarity import embedding_covariance
    from dbscan_pyspark_spark.sources.tables import load_table

    out = embedding_covariance(load_table(spark, SF, "embeddings"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "Generate" not in plan  # no posexplode fallback
    assert shuffle_count(out) <= 1
