"""Incremental watermark extract (reference `pipeline/ETL/extract.py:36-81`, S2).

The reference keeps a single text file `pipeline-state/last_run.txt` on
S3 with the max processed event time, bumps it by one second, and
string-interpolates `WHERE ft.at > '<ts>'` into the extract SQL. Two
bugs fixed here (SURVEY.md §2.9, §7.3):

- the 1-second bump silently skips rows that share the watermark second
  → we use a strictly-greater predicate on the exact stored timestamp
  (microsecond precision), no bump. Residual tie semantics, stated
  explicitly (r12): a row inserted AFTER a run completes with ``ts``
  exactly equal to that run's committed maximum is skipped by the next
  run — strict separation is what makes consecutive outputs a valid
  strictly-monotone CDC feed (the contract `streaming/scd2.py` and e08
  enforce downstream, under which a tie at the committed tip is always
  a redelivery). Sources that can emit same-microsecond late rows need
  a source-side ordering key beyond the timestamp;
- string interpolation into SQL → the predicate is a Column expression
  here; the JDBC path (sources/jdbc.py) still renders SQL text — the
  `query` option has no bind channel — but constrains both injected
  pieces (strftime timestamp, identifier-validated ts_col).

The principled streaming replacement (checkpointed Structured Streaming
with `Trigger.AvailableNow`) lives in `streaming/ingest.py`; this module
is the batch-contract equivalent, state kept in a small file exactly
like the reference so orchestration stays external.
"""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from serverless_etl_reporting_pipeline_spark.functions.timelit import ntz_lit

_FMT = "%Y-%m-%d %H:%M:%S.%f"


class FileWatermarkStore:
    """Tiny persisted high-watermark, one timestamp per line-less file.

    Reference: `extract.py:36-81` (S3 get/put of last_run.txt).
    """

    def __init__(self, path: str):
        self.path = path

    def read(self) -> datetime | None:
        if not os.path.exists(self.path):
            return None
        text = open(self.path, encoding="utf-8").read().strip()
        return datetime.strptime(text, _FMT) if text else None

    def write(self, ts: datetime) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(ts.strftime(_FMT))
        os.replace(tmp, self.path)  # atomic, no torn state on crash


def incremental_extract(df: DataFrame, ts_col: str, store: FileWatermarkStore) -> tuple[DataFrame, "_Commit"]:
    """Filter `df` to rows newer than the stored watermark.

    Returns (new_rows, commit). Call ``commit(batch_max)`` only after
    the batch has been durably written, with the max ``ts_col`` of the
    rows written (an Observation on the write yields it without a second
    pass) — the watermark then advances to it, so a crash between write
    and commit means reprocessing (at-least-once), never loss.
    """
    wm = store.read()
    # ntz_lit: a naive-datetime literal would be read through the
    # session timezone and shift the watermark boundary by the whole
    # zone offset under a non-UTC session (functions/timelit.py, r11)
    new_rows = df.filter(F.col(ts_col) > ntz_lit(wm)) if wm is not None else df
    return new_rows, _Commit(store, wm)


class _Commit:
    """Advance the stored watermark to a written batch's max event time.

    The caller passes the max it observed on the write; ``None`` (an
    empty batch) leaves the store untouched and returns the stored
    watermark. A max older than the stored watermark raises
    ``RuntimeError`` before anything is written — the watermark never
    moves backwards.
    """

    def __init__(self, store: FileWatermarkStore, prev: datetime | None):
        self._store = store
        self._prev = prev

    def __call__(self, batch_max: datetime | None) -> datetime | None:
        if batch_max is None:  # empty batch: watermark unchanged
            return self._prev
        if self._prev is not None and batch_max < self._prev:
            raise RuntimeError(f"watermark must be monotonic: batch max {batch_max} < stored {self._prev}")
        self._store.write(batch_max)
        return batch_max
