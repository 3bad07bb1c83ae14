"""Daily report metrics (reference `pipeline/report-lambda/generate_report.py:70-157`).

Correct Spark idiom for reporting: aggregate in the cluster, `collect()`
only the few result rows, render on the driver (S10/A13). The reference
pulls the whole day's partition into pandas; here the day filter is a
pushed-down partition predicate and only aggregates move.

Money flows through exact integer cents (functions/money.py).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from serverless_etl_reporting_pipeline_spark.functions.money import cents

CARD_FEE_RATE = 0.02  # generate_report.py:120-122 (2% of card revenue)


def daily_metrics(
    transactions: DataFrame,
    group_col: str = "truck_name",
    method_col: str = "payment_method",
    amount_col: str = "total",
) -> dict[str, Any]:
    """Compute the report-metric dict from a (pre-filtered) day of data.

    Mirrors `calculate_metrics` (generate_report.py:70-157): overall
    totals, per-group revenue with best/worst, per-method split with the
    2% card fee, all from ONE grouping-sets aggregation job — the three
    groupings ride one scan and one shuffle, and the few result rows are
    split and ordered on the driver. An empty input yields no grouping
    rows at all, not even the overall one: that is the empty guard
    (generate_report.py:72-84), with no separate probe.
    """
    # grouping_id() over (group, method): 3 = overall, 1 = per group, 2 = per method
    rows = (
        transactions.groupingSets([[], [group_col], [method_col]], group_col, method_col)
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
            F.sum(cents(amount_col)).alias("rev_cents"),
        )
        .collect()
    )
    overall = next((r for r in rows if r["gid"] == 3), None)
    if overall is None:
        return {"empty": True, "total_transactions": 0, "total_revenue": 0.0}
    # ORDER BY rev_cents DESC (NULLS LAST), group ASC (NULLS FIRST)
    by_group = sorted(
        (r for r in rows if r["gid"] == 1),
        key=lambda r: (r["rev_cents"] is None, -(r["rev_cents"] or 0), r[group_col] is not None, r[group_col]),
    )
    by_method = sorted(
        (r for r in rows if r["gid"] == 2), key=lambda r: (r[method_col] is not None, r[method_col])
    )

    total_cents = overall["rev_cents"]
    methods = {}
    card_fee_cents = 0
    for row in by_method:
        method = row[method_col]
        fee = round(row["rev_cents"] * CARD_FEE_RATE) if "card" in str(method).lower() else 0
        card_fee_cents += fee
        methods[method] = {
            "transactions": row["n"],
            "revenue": row["rev_cents"] / 100.0,
            "pct_of_revenue": round(row["rev_cents"] * 10000.0 / total_cents) / 100.0 if total_cents else 0.0,
            "fee": fee / 100.0,
        }

    return {
        "empty": False,
        "total_transactions": overall["n"],
        "total_revenue": total_cents / 100.0,
        "avg_transaction": round(total_cents / overall["n"]) / 100.0,
        "by_group": [
            {"name": r[group_col], "transactions": r["n"], "revenue": r["rev_cents"] / 100.0} for r in by_group
        ],
        "best_group": by_group[0][group_col],  # generate_report.py:98-101
        "worst_group": by_group[-1][group_col],
        "by_method": methods,
        "card_fees": card_fee_cents / 100.0,
        "net_revenue": (total_cents - card_fee_cents) / 100.0,
    }
