"""Report layer tests (generate_report.py semantics: metrics + HTML)."""

from __future__ import annotations

from serverless_etl_reporting_pipeline_spark.etl import RAW_TRANSACTIONS_SCHEMA, clean_transactions
from serverless_etl_reporting_pipeline_spark.report import daily_metrics, render_html


def _transactions(spark):
    rows = [
        (1, "2024-03-01 10:00:00", 1000, 1, 1, "Truck A", "d", 1, 5, "card"),
        (2, "2024-03-01 11:00:00", 3000, 1, 1, "Truck A", "d", 1, 5, "card"),
        (3, "2024-03-01 12:00:00", 1000, 2, 2, "Truck B", "d", 0, 3, "cash"),
    ]
    return clean_transactions(spark.createDataFrame(rows, schema=RAW_TRANSACTIONS_SCHEMA))


def test_metrics(spark):
    m = daily_metrics(_transactions(spark))
    assert m["total_transactions"] == 3
    assert m["total_revenue"] == 50.0
    assert m["best_group"] == "Truck A"
    assert m["worst_group"] == "Truck B"
    # 2% card fee on 40.00 of card revenue (generate_report.py:120-131)
    assert m["card_fees"] == 0.80
    assert m["net_revenue"] == 49.20
    assert m["by_method"]["card"]["pct_of_revenue"] == 80.0


def test_metrics_empty(spark):
    empty = _transactions(spark).filter("total > 1e9")
    m = daily_metrics(empty)
    assert m["empty"] is True


def test_metrics_one_aggregate(spark, spark_jobs, tmp_path):
    """Overall, per-group and per-method totals over a lake day come from
    one grouping-sets aggregate: no empty probe, one shuffle."""
    _transactions(spark).write.parquet(str(tmp_path / "day"))
    tx = spark.read.parquet(str(tmp_path / "day"))
    m, jobs = spark_jobs(lambda: daily_metrics(tx))
    assert m["total_transactions"] == 3
    assert jobs <= 2, f"{jobs} Spark jobs for one report"


def test_metrics_match_separate_aggregates(spark):
    """The grouping-sets split reproduces three plain aggregates exactly:
    groups ordered by revenue desc then name asc, a NULL name first among
    equal revenue, methods keyed by name (NULL included)."""
    from pyspark.sql import functions as F

    from serverless_etl_reporting_pipeline_spark.functions.money import cents

    rows = [
        (1, "2024-03-01 10:00:00", 1000, 1, 1, "Truck A", "d", 1, 5, "card"),
        (2, "2024-03-01 11:00:00", 1000, 2, 2, None, "d", 0, 3, "cash"),
        (3, "2024-03-01 12:00:00", 1000, 3, 3, "Truck C", "d", 1, 4, None),
        (4, "2024-03-01 13:00:00", 2500, 4, 1, "Truck D", "d", 1, 4, "card"),
        (5, "2024-03-01 14:00:00", 999, 5, 2, "Truck B", "d", 1, 4, "cash"),
    ]
    tx = clean_transactions(spark.createDataFrame(rows, schema=RAW_TRANSACTIONS_SCHEMA))
    m = daily_metrics(tx)

    def agg(key):
        return tx.groupBy(key).agg(F.count("*").alias("n"), F.sum(cents("total")).alias("c"))

    groups = agg("truck_name").orderBy(F.desc("c"), F.asc("truck_name")).collect()
    assert m["by_group"] == [{"name": r["truck_name"], "transactions": r["n"], "revenue": r["c"] / 100.0} for r in groups]
    assert [g["name"] for g in m["by_group"]] == ["Truck D", None, "Truck A", "Truck C", "Truck B"]
    assert (m["best_group"], m["worst_group"]) == ("Truck D", "Truck B")
    methods = {r["payment_method"]: (r["n"], r["c"] / 100.0) for r in agg("payment_method").collect()}
    assert {k: (v["transactions"], v["revenue"]) for k, v in m["by_method"].items()} == methods
    assert m["total_transactions"] == 5 and m["total_revenue"] == 64.99
    assert m["card_fees"] == 0.70  # 2% of 35.00 card revenue


def test_html_render(spark):
    html = render_html(daily_metrics(_transactions(spark)), title="T3 Daily")
    assert "T3 Daily" in html and "Truck A" in html and "49.20" in html
    assert render_html({"empty": True}).count("No transactions") == 1


def test_dashboard_panels(spark):
    """Dashboard layer: conjunctive filter + cached panel aggregations
    (dashboard.py:36-343 semantics)."""
    from datetime import date

    from pyspark.sql import functions as F

    from serverless_etl_reporting_pipeline_spark.report.dashboard import Dashboard, filtered_frame

    tx = _transactions(spark).withColumn("date", F.to_date("at"))
    flt = filtered_frame(
        tx,
        start=date(2024, 3, 1),
        end=date(2024, 3, 1),
        trucks=["Truck A"],
        methods=["card"],
    )
    dash = Dashboard(flt)
    try:
        head = dash.headline().collect()[0]
        assert head["transactions"] == 2
        assert head["total_revenue"] == 40.0
        assert head["avg_transaction"] == 20.0
        by_truck = dash.by_column("truck_name").collect()
        assert [r["truck_name"] for r in by_truck] == ["Truck A"]
        trend = dash.daily_trend().collect()
        assert len(trend) == 1 and trend[0]["revenue"] == 40.0
        assert dash.top_days(1).collect()[0]["revenue"] == 40.0
        latest = dash.latest(1).collect()
        assert latest[0]["transaction_id"] == 2  # newest first
    finally:
        dash.close()
