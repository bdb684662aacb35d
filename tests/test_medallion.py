"""End-to-end medallion pipeline: bronze→silver→gold on fixtures, quality
gate, lineage traversal, and cross-layer consistency invariants."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from telecom_dataengineering_pipeline_spark.plans.medallion import MedallionPipeline


@pytest.fixture(scope="module")
def pipeline(spark):
    with tempfile.TemporaryDirectory() as d:
        p = MedallionPipeline(spark, d, n_events=5000, n_customers=300)
        run = p.dag().run_managed()
        assert run.ok, run.failed
        yield p, [r.name for r in run.results]


def test_stage_order_respects_dependencies(pipeline):
    _, order = pipeline
    assert order.index("ingest_bronze") < order.index("silver_calls")
    assert order.index("silver_calls") < order.index("fact_calls")
    assert order.index("dim_customers") < order.index("fact_calls")
    assert order.index("fact_calls") < order.index("quality_gate")


def test_silver_dedup_exact(pipeline, spark):
    p, _ = pipeline
    bronze = spark.read.parquet(p.path("bronze", "call_events"))
    silver = spark.read.parquet(p.path("silver", "calls"))
    assert silver.count() == bronze.select("event_id").distinct().count()
    assert silver.groupBy("call_id").count().filter("count > 1").count() == 0


def test_fact_star_join_integrity(pipeline, spark):
    p, _ = pipeline
    silver = spark.read.parquet(p.path("silver", "calls"))
    fact = spark.read.parquet(p.path("gold", "fact_calls"))
    assert fact.count() == silver.count()
    # every fact row resolved its dims (fixture data is fully conformed)
    assert fact.filter(F.col("customer_key") == "UNKNOWN").count() == 0
    assert fact.filter(F.col("tower_key") == "UNKNOWN").count() == 0
    assert fact.filter(F.col("date_key") == -1).count() == 0


def test_hourly_agg_consistency(pipeline, spark):
    p, _ = pipeline
    silver = spark.read.parquet(p.path("silver", "calls"))
    agg = spark.read.parquet(p.path("gold", "agg_tower_hourly"))
    total_from_agg = agg.agg(F.sum("total_call_attempts")).collect()[0][0]
    assert total_from_agg == silver.count()
    ok = agg.agg(F.sum("successful_calls")).collect()[0][0]
    assert ok == silver.filter("is_successful").count()
    # success rate within [0, 100]
    assert agg.filter((F.col("success_rate_pct") < 0) | (F.col("success_rate_pct") > 100)).count() == 0


def test_monthly_agg_grain(pipeline, spark):
    p, _ = pipeline
    m = spark.read.parquet(p.path("gold", "agg_customer_monthly"))
    assert m.groupBy("customer_id", "year_month").count().filter("count > 1").count() == 0


def test_dim_customers_masked(pipeline, spark):
    p, _ = pipeline
    dim = spark.read.parquet(p.path("gold", "dim_customers"))
    # PII never survives to gold in clear text
    assert dim.filter(~F.col("email_masked").rlike(r"^.{2}\*\*\*@")).count() == 0
    assert dim.filter(F.length("first_name_masked") != 4).count() == 0
    assert set(r["nps_segment"] for r in dim.select("nps_segment").distinct().collect()) <= {
        "PROMOTER",
        "PASSIVE",
        "DETRACTOR",
    }


def test_lineage_traversal(pipeline):
    p, _ = pipeline
    dag = p.dag()
    impact = dag.impact("silver.calls")
    assert {"gold.fact_calls", "gold.agg_tower_hourly", "gold.agg_customer_monthly", "published"} <= impact
    upstream = dag.upstream("gold.fact_calls")
    assert {"silver.calls", "bronze.call_events", "gold.dim_customers"} <= upstream


def test_partition_pruning_on_gold(pipeline, spark):
    p, _ = pipeline
    fact = spark.read.parquet(p.path("gold", "fact_calls"))
    one_month = fact.filter((F.col("year") == 2024) & (F.col("month") == 1))
    plan = one_month._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "month" in plan.split("PartitionFilters")[1][:200]
