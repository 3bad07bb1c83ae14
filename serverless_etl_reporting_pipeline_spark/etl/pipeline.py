"""End-to-end incremental ETL (reference `pipeline/ETL/pipeline.py`).

The reference runs four processes handing off CSV files
(extract → transform → partition → load). Here the whole thing is ONE
lazy DataFrame DAG — Catalyst fuses clean/casts into the scan, the only
shuffle is the dedup window, and the sink is a Hive-partitioned append.
Stage files disappear; the persisted boundaries are exactly: source
read, lake write, watermark state (SURVEY.md §3.1).

A commit is ONE Spark write (its shuffle-map and result jobs): the row
count and the new watermark are an ``Observation`` on the written frame,
not extra actions, so the dedup shuffle runs once per commit. An empty
increment is a zero-row write — no data file; on a fresh lake path only
the ``_SUCCESS`` marker — and no commit.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from serverless_etl_reporting_pipeline_spark.etl.dims import extract_dims
from serverless_etl_reporting_pipeline_spark.etl.extract import FileWatermarkStore, incremental_extract
from serverless_etl_reporting_pipeline_spark.etl.transform import clean_transactions
from serverless_etl_reporting_pipeline_spark.sources.lake import write_dim, write_partitioned


@dataclass
class PipelineResult:
    rows_written: int
    watermark: datetime | None


def run_pipeline(
    raw: DataFrame,
    lake_path: str,
    state_path: str,
    write_dims: bool = False,
) -> PipelineResult:
    """Incremental extract → clean → partitioned append → (dims) → commit.

    ``raw`` is any DataFrame-shaped source (JDBC, parquet, …) with the
    RAW_TRANSACTIONS_SCHEMA columns. The increment is written as is,
    with an Observation of its row count and max event time attached;
    both are read back from the write, so an empty increment (reference
    `pipeline.py:13-16` early-exits) is a zero-row write that leaves no
    data file, writes no dims and does not commit. The increment is
    cached only when ``write_dims`` gives it second consumers.
    """
    store = FileWatermarkStore(state_path)
    cleaned = clean_transactions(raw)
    increment, commit = incremental_extract(cleaned, "at", store)

    if write_dims:
        increment = increment.cache()  # the fact write fills it, the dims read it
    try:
        obs = Observation()
        observed = increment.observe(obs, F.count(F.lit(1)).alias("n"), F.max("at").alias("max_at"))
        write_partitioned(observed, lake_path, ts_col="at", mode="append")
        stats = obs.get
        n = int(stats["n"])
        if write_dims and n:
            dim_trucks, dim_payments = extract_dims(increment)
            write_dim(dim_trucks, f"{lake_path}_dim_trucks")
            write_dim(dim_payments, f"{lake_path}_dim_payment_methods")
    finally:
        if write_dims:
            increment.unpersist()
    wm = commit(stats["max_at"])  # advance watermark only after a durable write
    return PipelineResult(rows_written=n, watermark=wm)
