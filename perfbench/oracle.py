"""Expected outputs, computed with DuckDB from the generated inputs.

The ETL oracle replays ``run_pipeline``'s contract batch by batch:
clean (drop NULL/zero totals and NULL critical columns, keep the lowest
``transaction_id`` per dedup key), keep rows strictly newer than the
previous committed watermark, commit the batch maximum. The report
oracle then recomputes ``daily_metrics``' dict from integer pence.
Registry results are compared with each query's ``Query.oracle`` SQL
through ``tools/oracle_check.compare``.
"""

from __future__ import annotations

import os
import sys
from datetime import date, datetime

import duckdb

CARD_FEE_RATE = 0.02


class EtlOracle:
    """Expected lake contents after each committed batch."""

    def __init__(self, batch_paths: list[str]):
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE lake (batch INTEGER, ts TIMESTAMP, pence BIGINT, truck_name VARCHAR, payment_method VARCHAR)"
        )
        self.watermarks: list[datetime | None] = []
        self.increments: list[int] = []
        wm = None
        for b, path in enumerate(batch_paths):
            pred = "" if wm is None else f"AND ts > TIMESTAMP '{wm.isoformat(sep=' ')}'"
            self.con.execute(
                f"""
                INSERT INTO lake
                SELECT {b}, ts, total, truck_name, payment_method FROM (
                  SELECT CAST("at" AS TIMESTAMP) AS ts, total, truck_name, payment_method,
                         row_number() OVER (PARTITION BY "at", truck_id, payment_method_id, total
                                            ORDER BY transaction_id) AS rn
                  FROM read_parquet('{path}')
                  WHERE total IS NOT NULL AND total <> 0 AND transaction_id IS NOT NULL
                    AND "at" IS NOT NULL AND truck_id IS NOT NULL AND payment_method_id IS NOT NULL)
                WHERE rn = 1 {pred}
                """
            )
            n, top = self.con.execute(f"SELECT count(*), max(ts) FROM lake WHERE batch = {b}").fetchone()
            self.increments.append(n)
            wm = top if top is not None else wm
            self.watermarks.append(wm)

    def rows_upto(self, batch: int) -> int:
        return self.con.execute(f"SELECT count(*) FROM lake WHERE batch <= {batch}").fetchone()[0]

    def day_metrics(self, batch: int, day: date) -> dict:
        """``daily_metrics`` for ``day`` as of the commit of ``batch``."""
        where = f"batch <= {batch} AND CAST(ts AS DATE) = DATE '{day.isoformat()}'"
        n, total = self.con.execute(f"SELECT count(*), sum(pence) FROM lake WHERE {where}").fetchone()
        if n == 0:
            return {"empty": True, "total_transactions": 0, "total_revenue": 0.0}
        groups = self.con.execute(
            f"SELECT truck_name, count(*), sum(pence) AS rev FROM lake WHERE {where} "
            "GROUP BY 1 ORDER BY rev DESC, truck_name ASC"
        ).fetchall()
        methods = {}
        fees = 0
        for m, k, rev in self.con.execute(
            f"SELECT payment_method, count(*), sum(pence) FROM lake WHERE {where} GROUP BY 1"
        ).fetchall():
            fee = round(rev * CARD_FEE_RATE) if "card" in str(m).lower() else 0
            fees += fee
            methods[m] = {
                "transactions": k,
                "revenue": rev / 100.0,
                "pct_of_revenue": round(rev * 10000.0 / total) / 100.0 if total else 0.0,
                "fee": fee / 100.0,
            }
        return {
            "empty": False,
            "total_transactions": n,
            "total_revenue": total / 100.0,
            "avg_transaction": round(total / n) / 100.0,
            "by_group": [{"name": g, "transactions": k, "revenue": r / 100.0} for g, k, r in groups],
            "best_group": groups[0][0],
            "worst_group": groups[-1][0],
            "by_method": methods,
            "card_fees": fees / 100.0,
            "net_revenue": (total - fees) / 100.0,
        }

    def dashboard(self, batch: int, start: date, end: date) -> tuple[int, float, int, int]:
        """(transactions, revenue, trucks, days) in a date range as of ``batch``."""
        n, rev, trucks, days = self.con.execute(
            f"SELECT count(*), sum(pence), count(DISTINCT truck_name), count(DISTINCT CAST(ts AS DATE)) "
            f"FROM lake WHERE batch <= {batch} AND CAST(ts AS DATE) BETWEEN DATE '{start}' AND DATE '{end}'"
        ).fetchone()
        return n, (rev or 0) / 100.0, trucks, days


def _oracle_check_module(root: str):
    tools = os.path.join(root, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import oracle_check

    return oracle_check


class QueryOracle:
    """DuckDB results of the registry's oracle SQL over the run's tables."""

    def __init__(self, root: str, sf_dir: str):
        self.oc = _oracle_check_module(root)
        self.con = self.oc.duck_connect(sf_dir)
        self._cache: dict[str, tuple[list, list]] = {}

    def check(self, name: str, sql: str | None, cols: list[str], rows: list) -> str | None:
        """None when ``rows`` match; otherwise the mismatch."""
        if sql is None:
            return None if rows else "no rows (rows-only check)"
        if name not in self._cache:
            cur = self.con.execute(sql)
            self._cache[name] = ([d[0] for d in cur.description], cur.fetchall())
        dcols, drows = self._cache[name]
        ok, msg, _ = self.oc.compare(rows, drows, cols, dcols)
        return None if ok else msg
