"""The workloads: what one pass does, warm-up, and output checks.

Load is a closed loop from one client: each operation starts when the
previous one has returned. A workload's warm-up is one pass (it
absorbs JIT, commits the first ETL batch and lands the first arrival
files); the timed window then runs
whole passes until ``--seconds`` have elapsed.

Every operation is checked after the window against DuckDB or against
its batch twin; a failed check or an exception counts as a failed
operation.
"""

from __future__ import annotations

import inspect
import os
import shutil
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import date, timedelta

from pyspark.sql import functions as F

from perfbench import gen
from perfbench.oracle import EtlOracle, QueryOracle
from perfbench.procs import tree_cpu_s
from perfbench.trace import Tracer, dir_census, leaf_dirs

# Registry queries per workload: one from every plans module the workload
# owns, so a pass fits the run's time budget while every module is timed
# on every pass.
SQL_QUERIES = (
    "j01",  # relational
    "a20",  # analytics
    "w07",  # windows
    "x01",  # sketches
    "e02",  # lakehouse
    "k01",  # skewed
    "s01",  # streams
)
TEXT_QUERIES = (
    "t11",  # text: MinHash candidates (spread scan), exact verify, components
    "c03",  # curation
    "pipe01",  # pipeline: the pretraining funnel
)
VECTOR_QUERIES = (
    "v15",  # vectors, Arrow kernels on Python workers
    "m02",  # multimodal
)


@dataclass
class Op:
    kind: str
    seconds: float
    items: int
    warm: bool
    query: str = ""
    ok: bool | None = None
    err: str | None = None
    cpu_s: float = 0.0  # CPU seconds of the process tree during the op


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    inputs: gen.Inputs
    work: str
    root: str
    ops: list[Op] = field(default_factory=list)
    warm: bool = True

    def op(self, kind: str, fn, items=lambda r: 1) -> tuple[Op, object]:
        """Run one operation inside a span named ``kind``, timed in wall
        and CPU seconds. An exception marks the op failed; it is never
        retried."""
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(kind):
                out = fn()
            rec = Op(kind, time.perf_counter() - t0, items(out), self.warm)
        except Exception as exc:  # a failed operation is a result, not a crash
            rec = Op(kind, time.perf_counter() - t0, 0, self.warm, ok=False, err=repr(exc)[:500])
            traceback.print_exc(file=sys.stderr)
            out = None
        rec.cpu_s = tree_cpu_s() - c0
        self.ops.append(rec)
        return rec, out

    def fail(self, rec: Op, why: str) -> None:
        rec.ok = False
        rec.err = why[:500]
        print(f"check failed: {rec.kind}: {why[:500]}", file=sys.stderr)


class QueryMix:
    """A fixed registry query list as a workload part: builder +
    ``collect()`` per query; results kept for the oracle comparison
    after the window."""

    exhausted = False

    def __init__(self, ctx: Ctx, names: tuple[str, ...]):
        from serverless_etl_reporting_pipeline_spark.plans import REGISTRY

        by_id = {n.split("_", 1)[0]: n for n in REGISTRY}
        self.ctx = ctx
        self.queries = [REGISTRY[by_id[q]] for q in names]
        self.results: list[tuple[object, Op, list, list]] = []

    def run_pass(self) -> None:
        ctx = self.ctx
        for q in self.queries:
            module = q.builder.__module__.rsplit(".", 1)[1]

            def call(q=q, module=module):
                with ctx.tracer.span(f"plans.{module}.build"):
                    df = q.builder(ctx.spark, ctx.inputs.sf_dir)
                return df.columns, df.collect()

            rec, out = ctx.op(f"plans.{module}", call)
            rec.query = q.name
            ctx.spark.catalog.clearCache()
            if out is not None:
                self.results.append((q, rec, out[0], out[1]))

    def check(self) -> None:
        oracle = QueryOracle(self.ctx.root, self.ctx.inputs.sf_dir)
        for q, rec, cols, rows in self.results:
            try:
                bad = oracle.check(q.name, q.oracle, cols, rows)
            except Exception as exc:
                bad = f"oracle error: {exc!r}"
            if bad:
                self.ctx.fail(rec, f"{q.name}: {bad}")
            else:
                rec.ok = True

    def census(self) -> dict:
        return {}


BATCHES_PER_PASS = 2


class LakeEtlReport:
    """Raw-transaction micro-batches through ``run_pipeline`` into a
    growing y/m/d lake; after each commit, the day's report and a
    six-panel dashboard refresh over the last three days. A pass commits
    BATCHES_PER_PASS batches (warm-up: one), then, outside warm-up,
    compacts the lake."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.lake = os.path.join(ctx.work, "lake")
        self.state = os.path.join(ctx.work, "etl_state", "last_run.txt")
        self.batch = 0
        self.commits: list[tuple[Op, int, object]] = []
        self.reports: list[tuple[Op, int, date, dict]] = []
        self.dashboards: list[tuple[Op, int, date, date, tuple]] = []
        self.compactions: list[Op] = []
        self.day0 = date(2024, 3, 1)
        # traced runs only: (warm-up?, files) per commit and per refresh
        self.files_added: list[tuple[bool, int]] = []
        self.files_at_refresh: list[tuple[bool, int]] = []

    @property
    def exhausted(self) -> bool:
        return self.batch >= len(self.ctx.inputs.txn_batches)

    def run_pass(self) -> None:
        from serverless_etl_reporting_pipeline_spark.sources.lake import compact_partitions

        tr = self.ctx.tracer
        # warm-up needs one cycle: the second would run warm code untimed
        for _ in range(1 if self.ctx.warm else BATCHES_PER_PASS):
            if not self.exhausted:
                self._commit_cycle()

        def compact():
            with tr.span("sources.lake.compact"):
                return compact_partitions(self.ctx.spark, self.lake)

        if not self.ctx.warm:
            self.compactions.append(self.ctx.op("maintenance", compact, lambda n: n)[0])

    def _commit_cycle(self) -> None:
        """One raw batch committed, then the day's report and a dashboard
        refresh over the last three days."""
        from serverless_etl_reporting_pipeline_spark.etl.pipeline import run_pipeline
        from serverless_etl_reporting_pipeline_spark.report.dashboard import Dashboard, filtered_frame
        from serverless_etl_reporting_pipeline_spark.report.html import render_html
        from serverless_etl_reporting_pipeline_spark.report.metrics import daily_metrics
        from serverless_etl_reporting_pipeline_spark.sources.lake import read_lake

        ctx, tr, b = self.ctx, self.ctx.tracer, self.batch
        spark = ctx.spark
        raw = spark.read.parquet(ctx.inputs.txn_batches[b])
        before = dir_census(self.lake)[0] if tr.on else 0
        rec, res = ctx.op("etl.pipeline", lambda: run_pipeline(raw, self.lake, self.state), lambda r: r.rows_written)
        self.commits.append((rec, b, res))
        if tr.on:
            self.files_added.append((ctx.warm, dir_census(self.lake)[0] - before))

        day = self.day0 + timedelta(days=b)

        def report():
            lake = read_lake(spark, self.lake)
            one_day = lake.filter(
                (F.col("year") == day.year) & (F.col("month") == day.month) & (F.col("day") == day.day)
            )
            with tr.span("report.metrics"):
                m = daily_metrics(one_day)
            with tr.span("report.html"):
                render_html(m, title=f"Daily report {day}")
            return m

        rec, m = ctx.op("report", report, lambda m: m["total_transactions"])
        self.reports.append((rec, b, day, m))

        start, end = self.day0 + timedelta(days=b - 2), day

        def refresh():
            lake = read_lake(spark, self.lake).withColumn("date", F.to_date("at"))
            dash = Dashboard(filtered_frame(lake, "date", start, end))
            try:
                with tr.span("report.dashboard.cache_build"):
                    head = dash.headline().collect()[0]
                with tr.span("report.dashboard.panels"):
                    trucks = dash.by_column("truck_name").collect()
                    dash.by_column("payment_method").collect()
                    days = dash.daily_trend().collect()
                    dash.top_days(5).collect()
                    dash.latest(20).collect()
            finally:
                dash.close()
            return head["transactions"], head["total_revenue"], len(trucks), len(days)

        if tr.on:
            self.files_at_refresh.append((ctx.warm, dir_census(self.lake)[0]))
        rec, head = ctx.op("report.dashboard", refresh, lambda h: h[0])
        self.dashboards.append((rec, b, start, end, head))
        self.batch += 1

    def check(self) -> None:
        from serverless_etl_reporting_pipeline_spark.sources.lake import read_lake

        ctx = self.ctx
        oracle = EtlOracle(ctx.inputs.txn_batches[: self.batch])
        for rec, b, res in self.commits:
            if res is None:
                continue
            want = (oracle.increments[b], oracle.watermarks[b])
            if (res.rows_written, res.watermark) != want:
                ctx.fail(rec, f"batch {b}: got {(res.rows_written, res.watermark)} want {want}")
            else:
                rec.ok = True
        for rec, b, day, m in self.reports:
            if m is None:
                continue
            want = oracle.day_metrics(b, day)
            if m != want:
                ctx.fail(rec, f"report {day} after batch {b}: got {m} want {want}")
            else:
                rec.ok = True
        for rec, b, start, end, head in self.dashboards:
            if head is None:
                continue
            want = oracle.dashboard(b, start, end)
            if tuple(head) != want:
                ctx.fail(rec, f"dashboard {start}..{end} after batch {b}: got {head} want {want}")
            else:
                rec.ok = True
        got = read_lake(ctx.spark, self.lake).count()
        want = oracle.rows_upto(self.batch - 1)
        for rec in self.compactions:
            if rec.ok is None:
                if got == want:
                    rec.ok = True
                else:
                    ctx.fail(rec, f"lake rows {got} want {want}")

    def census(self) -> dict:
        """Lake file counts from disk, and the rows the lazy ETL
        transform took in and kept over the window's batches."""
        from serverless_etl_reporting_pipeline_spark.etl.transform import clean_transactions

        spark = self.ctx.spark
        files, nbytes = dir_census(self.lake)
        raw = sum(os.path.getsize(p) for p in self.ctx.inputs.txn_batches[: self.batch])
        added = [n for warm, n in self.files_added if not warm]
        batches = [self.ctx.inputs.txn_batches[b] for rec, b, _ in self.commits if not rec.warm]
        return {
            "txn_rows": (
                spark.read.parquet(*batches).count(),
                sum(clean_transactions(spark.read.parquet(p)).count() for p in batches),
            ),
            "sources.lake.files_written": sum(added) / len(added) if added else 0.0,
            "lake_files_at_refresh": sum(n for warm, n in self.files_at_refresh if not warm),
            "sources.lake.bytes_per_input_byte": nbytes / raw if raw else 0.0,
            "sources.lake.files_per_partition": files / max(1, leaf_dirs(self.lake)),
        }


class _Arrivals:
    """Lands one arrival file per pass into a drain's source directory."""

    def __init__(self, files: list[str], src: str):
        self.files = files
        self.src = src
        self.landed = 0
        os.makedirs(src, exist_ok=True)

    @property
    def exhausted(self) -> bool:
        return self.landed >= len(self.files)

    def land(self) -> str:
        path = self.files[self.landed]
        shutil.copy(path, os.path.join(self.src, os.path.basename(path)))
        self.landed += 1
        return path


class TextCuration:
    """t/c/pipe registry queries, plus one document arrival per pass
    drained through the incremental text-dedup index and the curation
    funnel, then (outside warm-up) their compaction and vacuum."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.docs = _Arrivals(ctx.inputs.doc_arrivals, os.path.join(ctx.work, "doc_src"))
        self.text_work = os.path.join(ctx.work, "text_index")
        self.funnel_work = os.path.join(ctx.work, "funnel_state")
        self.drain_ops: list[Op] = []

    @property
    def exhausted(self) -> bool:
        return self.docs.exhausted

    def run_pass(self) -> None:
        from serverless_etl_reporting_pipeline_spark import streaming as S

        ctx, tr, spark = self.ctx, self.ctx.tracer, self.ctx.spark
        path = self.docs.land()
        schema = spark.read.parquet(path).schema
        n = gen.DOC_ARRIVAL_ROWS
        for kind, fn in (
            ("streaming.minhash", lambda: S.incremental_text_dedup_drain(spark, self.docs.src, schema, self.text_work)),
            ("streaming.funnel", lambda: S.incremental_funnel_drain(spark, self.docs.src, schema, self.funnel_work)),
        ):
            rec, got = ctx.op(kind, fn, lambda k: k * n)
            self.drain_ops.append(rec)
            if got is not None and got != 1:
                ctx.fail(rec, f"{kind} drained {got} micro-batches, want 1")

        def maintain():
            with tr.span("streaming.minhash.compact"):
                S.compact_text_index(spark, self.text_work)
            with tr.span("streaming.funnel.compact"):
                S.compact_hash_state(spark, self.funnel_work)
                S.compact_funnel_lake(spark, self.funnel_work)
            with tr.span("streaming.state.vacuum"):
                S.vacuum_text_index(spark, self.text_work)
                S.vacuum_hash_state(spark, self.funnel_work)
                S.vacuum_funnel_lake(spark, self.funnel_work)

        if not ctx.warm:
            self.drain_ops.append(ctx.op("maintenance", maintain)[0])

    def check(self) -> None:
        from serverless_etl_reporting_pipeline_spark.operators.funnel import annotate_batch, shingle_set
        from serverless_etl_reporting_pipeline_spark.operators.minhash import incremental_neardup_flags
        from serverless_etl_reporting_pipeline_spark.streaming.funnel import _lake

        ctx, spark = self.ctx, self.ctx.spark
        landed = self.docs.files[: self.docs.landed]
        read = lambda paths: spark.read.parquet(*paths)  # noqa: E731
        bad = []
        # text dedup: the last micro-batch against the batch operator over
        # every earlier arrival (earlier batches are folded into its state)
        last = len(landed) - 1
        got = {
            r["doc_id"]: (r["is_dup"], r["dup_src"])
            for r in spark.read.parquet(f"{self.text_work}/doc_ann/batch={last}").collect()
        }
        if last > 0:
            want = {
                r["doc_id"]: (r["is_dup"], r["dup_src"])
                for r in incremental_neardup_flags(
                    read(landed[:last]).select("doc_id", "text"), read(landed[last:]).select("doc_id", "text")
                ).collect()
            }
            if got != want:
                bad.append(f"text dedup batch {last}: {len(set(got.items()) ^ set(want.items()))} docs differ")
        # funnel: every drained annotation against one batch run over the
        # union, benchmark frozen at the first arrival
        docs = read(landed)
        first = spark.read.parquet(landed[0]).agg(F.max("doc_id")).collect()[0][0]
        ev = (F.col("doc_id") <= first) & F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin("0", "1")
        sh = shingle_set(docs)
        want_f = {
            r["doc_id"]: (r["q"], r["dd"], r["clean"])
            for r in annotate_batch(docs, sh.filter(ev).select("s").distinct(), ev=ev, shingle_frame=sh).collect()
        }
        # _lake is the funnel's own reader of its annotation lake (newest
        # fold plus the committed segment tail)
        got_f = {r["doc_id"]: (r["q"], r["dd"], r["clean"]) for r in _lake(spark, self.funnel_work)[0].collect()}
        if got_f != want_f:
            bad.append(f"funnel: {len(set(got_f.items()) ^ set(want_f.items()))} docs differ")
        for rec in self.drain_ops:
            if rec.ok is None:
                if bad:
                    ctx.fail(rec, "; ".join(bad))
                else:
                    rec.ok = True

    def census(self) -> dict:
        """State sizes from disk, and the MinHash candidate and verified
        pair counts over the ``documents`` table t11 reads."""
        _, text_bytes = dir_census(self.text_work)
        _, funnel_bytes = dir_census(self.funnel_work)
        # live segments of the three index logs: uncompacted batch= dirs
        # plus compacted upto= folds
        segs = sum(
            sum(1 for d in os.listdir(os.path.join(self.text_work, log)) if d.startswith(("batch=", "upto=")))
            for log in os.listdir(self.text_work)
            if log.startswith(("shingle_index", "sig_index", "band_fan"))
        )
        return {
            "streaming.minhash.index_bytes": text_bytes,
            "streaming.minhash.segments": segs,
            "streaming.funnel.state_bytes": funnel_bytes,
            "minhash_pairs": self._minhash_pairs(),
        }

    def _minhash_pairs(self) -> tuple[int, int]:
        """(candidate, verified) pairs of ``minhash_neardup_pairs`` at its
        default geometry, through the public stages: shingles, signatures,
        the band fan's bucket self-join, and ``neardup_components``'
        ``stats=`` edge count."""
        from serverless_etl_reporting_pipeline_spark.operators.minhash import (
            band_fan,
            minhash_neardup_pairs,
            minhash_signatures,
            neardup_components,
        )
        from serverless_etl_reporting_pipeline_spark.operators.text import shingles, tokens
        from serverless_etl_reporting_pipeline_spark.sources.reader import load_table

        p = {k: v.default for k, v in inspect.signature(minhash_neardup_pairs).parameters.items()}
        key = p["id_col"]
        docs = load_table(self.ctx.spark, self.ctx.inputs.sf_dir, "documents")
        sh = (
            docs.select(key, tokens(p["text_col"]).alias("toks"))
            .select(key, F.explode(shingles("toks", p["shingle_k"])).alias("s"))
            .distinct()
        )
        sigs = minhash_signatures(sh, key, p["num_hashes"])
        fan = band_fan(sigs, key, p["bands"], p["num_hashes"] // p["bands"])
        a, b = fan.alias("a"), fan.alias("b")
        cand = (
            a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.sig") == F.col("b.sig")))
            .where(F.col(f"a.{key}") < F.col(f"b.{key}"))
            .select(f"a.{key}", f"b.{key}")
            .distinct()
            .count()
        )
        stats: dict = {}
        neardup_components(minhash_neardup_pairs(docs), stats=stats).count()
        return cand, stats["edges"]


class VectorSearch:
    """v/m registry queries, plus one embedding arrival per pass drained
    through the vector-dedup band index and the IVF ingest, then (outside
    warm-up) their compaction, vacuum and an IVF quantizer refresh."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.embs = _Arrivals(ctx.inputs.emb_arrivals, os.path.join(ctx.work, "emb_src"))
        self.vec_work = os.path.join(ctx.work, "vec_index")
        self.ivf_work = os.path.join(ctx.work, "ivf_state")
        self.drain_ops: list[Op] = []

    @property
    def exhausted(self) -> bool:
        return self.embs.exhausted

    def run_pass(self) -> None:
        from serverless_etl_reporting_pipeline_spark import streaming as S

        ctx, tr, spark = self.ctx, self.ctx.tracer, self.ctx.spark
        path = self.embs.land()
        schema = spark.read.parquet(path).schema
        n = gen.EMB_ARRIVAL_ROWS
        for kind, fn in (
            (
                "streaming.vectors",
                lambda: S.incremental_vector_dedup_drain(spark, self.embs.src, schema, self.vec_work, dim=gen.EMB_DIM),
            ),
            ("streaming.ivf", lambda: S.incremental_ivf_ingest_drain(spark, self.embs.src, schema, self.ivf_work)),
        ):
            rec, got = ctx.op(kind, fn, lambda k: k * n)
            self.drain_ops.append(rec)
            if got is not None and got != 1:
                ctx.fail(rec, f"{kind} drained {got} micro-batches, want 1")

        def maintain():
            with tr.span("streaming.vectors.compact"):
                S.compact_band_index(spark, self.vec_work)
            with tr.span("streaming.ivf.compact"):
                S.compact_ivf_segments(spark, self.ivf_work)
            with tr.span("streaming.state.vacuum"):
                S.vacuum_band_index(spark, self.vec_work)
                S.vacuum_ivf_segments(spark, self.ivf_work)
            with tr.span("streaming.ivf.refresh"):
                S.refresh_ivf_state(spark, self.ivf_work)

        if not ctx.warm:
            self.drain_ops.append(ctx.op("maintenance", maintain)[0])

    def check(self) -> None:
        from serverless_etl_reporting_pipeline_spark.operators.vectors import assign_cells, neardup_vector_index_probe
        from serverless_etl_reporting_pipeline_spark.streaming.ivf import load_ivf_state

        ctx, spark = self.ctx, self.ctx.spark
        landed = self.embs.files[: self.embs.landed]
        read = lambda paths: spark.read.parquet(*paths).select("vec_id", "embedding")  # noqa: E731
        bad = []
        last = len(landed) - 1
        got = {
            r["vec_id"]: (r["is_dup"], r["dup_src"], r["cos"])
            for r in spark.read.parquet(f"{self.vec_work}/vec_ann/batch={last}").collect()
        }
        if last > 0:
            want = {
                r["vec_id"]: (r["is_dup"], r["dup_src"], r["cos"])
                for r in neardup_vector_index_probe(read(landed[:last]), read(landed[last:]), dim=gen.EMB_DIM).collect()
            }
            if got != want:
                bad.append(f"vector dedup batch {last}: {len(set(got.items()) ^ set(want.items()))} vectors differ")
        cent, postings = load_ivf_state(spark, self.ivf_work)
        pairs = lambda df: {(r["_cell"], r["_id"]) for r in df.collect()}  # noqa: E731
        got_p = pairs(postings)
        want_p = pairs(assign_cells(cent, spark.read.parquet(*landed)))
        if got_p != want_p or postings.count() != len(want_p):
            bad.append(f"ivf postings: {len(got_p ^ want_p)} differ")
        for rec in self.drain_ops:
            if rec.ok is None:
                if bad:
                    ctx.fail(rec, "; ".join(bad))
                else:
                    rec.ok = True

    def census(self) -> dict:
        return {}


class Composite:
    """Several workload parts run one after another in every pass."""

    def __init__(self, *parts):
        self.parts = parts

    @property
    def exhausted(self) -> bool:
        return any(p.exhausted for p in self.parts)

    def run_pass(self) -> None:
        for p in self.parts:
            p.run_pass()

    def check(self) -> None:
        """The parts' checks run concurrently: they are independent,
        start after the window, and only their wall time adds up."""
        with ThreadPoolExecutor(len(self.parts)) as pool:
            list(pool.map(lambda p: p.check(), self.parts))

    def census(self) -> dict:
        out: dict = {}
        for p in self.parts:
            out.update(p.census())
        return out


WORKLOADS = {
    # the operator's and the analyst's path: JVM codegen and shuffle only
    "lake_sql": lambda ctx: Composite(LakeEtlReport(ctx), QueryMix(ctx, SQL_QUERIES)),
    # the LLM-data path: MinHash, spread scan and Arrow Python workers
    "curation_vectors": lambda ctx: Composite(
        TextCuration(ctx), VectorSearch(ctx), QueryMix(ctx, TEXT_QUERIES + VECTOR_QUERIES)
    ),
}
