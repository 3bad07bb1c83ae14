"""Repo benchmark: the ``lake_sql`` and ``curation_vectors`` workloads
(perfbench/workloads.py) through the engine's public entry points,
closed loop, one client, on ``local[N]`` with N the usable core count
(``SPARK_GRAFT_CPUS`` overrides it).

    python3 perfbench/run.py --workload lake_sql --seed 1 --seconds 8 --trace 0

Run from the repository root. Inputs are generated from ``--seed``
into a fresh scratch directory under ``.perfbench/`` (removed at exit),
the session is started and warmed up (one pass), then whole passes
run until ``--seconds`` have elapsed, and every output is checked. The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. A traced run also writes its
spans to ``.perfbench/spans/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
PKG = "serverless_etl_reporting_pipeline_spark"
HERE = os.path.dirname(os.path.abspath(__file__))
PLANS_MODULES = (
    "relational", "analytics", "windows", "sketches", "lakehouse", "streams",
    "skewed", "text", "curation", "pipeline", "vectors", "multimodal",
)  # fmt: skip


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


TAIL_BEYOND = 10  # samples that must lie beyond a tail percentile


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at
    least TAIL_BEYOND samples beyond it. With fewer than
    2 * TAIL_BEYOND + 1 samples that percentile would fall below the
    median, so the maximum is returned instead, as percentile 100."""
    v = sorted(values)
    if len(v) <= 2 * TAIL_BEYOND:
        return v[-1], 100.0
    k = len(v) - 1 - TAIL_BEYOND
    return v[k], 100.0 * k / (len(v) - 1)


def _instrument(tracer, spread_calls: list[tuple[int, int]]) -> None:
    """Trace-only: spans around the layer calls ``run_pipeline`` makes,
    and around every ``spread_scan`` call site, whose fan-out width and
    pre-spread input bytes are appended to ``spread_calls``."""
    import importlib
    import pkgutil

    from serverless_etl_reporting_pipeline_spark.etl import pipeline as P
    from serverless_etl_reporting_pipeline_spark.sources import reader

    P.clean_transactions = tracer.wrap("etl.transform", P.clean_transactions)
    P.write_partitioned = tracer.wrap("sources.lake.write", P.write_partitioned)
    extract = P.incremental_extract

    def traced_extract(*a, **k):
        with tracer.span("etl.extract"):
            rows, commit = extract(*a, **k)
        return rows, tracer.wrap("etl.extract.commit", commit)

    P.incremental_extract = traced_extract

    orig = reader.spread_scan

    def traced_spread(df, key):
        with tracer.span("sources.reader.spread_scan"):
            out = orig(df, key)
        files = df.inputFiles()
        nbytes = reader._local_file_bytes(files) or 0
        width = len(files)
        if out is not df:
            m = re.search(r"RepartitionByExpression \[[^\]]*\], (\d+)", out._jdf.queryExecution().logical().toString())
            width = int(m.group(1)) if m else width
        spread_calls.append((width, nbytes))
        return out

    import serverless_etl_reporting_pipeline_spark as pkg

    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        mod = importlib.import_module(info.name)
        if getattr(mod, "spread_scan", None) is orig:
            mod.spread_scan = traced_spread


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _p50(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


INGEST_KINDS = ("etl.pipeline", "streaming.minhash", "streaming.funnel", "streaming.vectors", "streaming.ivf")


def _geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def end_to_end(ops, setup_s: float, cpu_s: float) -> dict[str, tuple[float, str]]:
    """The gated metrics. Operation costs are CPU seconds of the process
    tree (driver, JVM, Python workers): wall latencies on a shared host
    move with its other tenants' load (see README), CPU seconds much
    less. Per-path costs are geometric means over the window's
    operations, so each weighs the same whatever its size."""
    return {
        "setup_s": (setup_s, "s"),
        "cpu_s_per_op": (cpu_s / len(ops), "s"),
        "query_cpu_s": (_geomean(o.cpu_s for o in ops if o.kind.startswith("plans.")), "s"),
        "ingest_cpu_s": (_geomean(o.cpu_s for o in ops if o.kind in INGEST_KINDS), "s"),
    }


def wall_geomeans(ops) -> dict[str, float]:
    """Geometric-mean wall latency over all operations, over registry
    queries and over ingest batches."""
    return {
        "op_geomean_s": _geomean(o.seconds for o in ops),
        "query_geomean_s": _geomean(o.seconds for o in ops if o.kind.startswith("plans.")),
        "ingest_geomean_s": _geomean(o.seconds for o in ops if o.kind in INGEST_KINDS),
    }


def per_layer(ctx, window, census, spread_calls, extra) -> dict[str, tuple[float, str]]:
    """Per-layer census of the window. A layer's time is reported as its
    share of the window's wall time (``*_share``): a layer a workload
    never calls reads 0 as a ratio, where a time of 0 would read the
    same on every run. Job, task and byte counts are per call."""
    tr = ctx.tracer
    spans = [s for s in tr.spans if window[0] <= s.start < window[1]]
    ops = [o for o in ctx.ops if not o.warm]
    window_s = window[1] - window[0]
    selfs = tr.self_times(window)

    def share(name, self_time=False):
        t = selfs.get(name, 0.0) if self_time else sum(s.end - s.start for s in spans if s.name == name)
        return t / window_s, "ratio"

    def subtree(name, key):
        """Census ``key`` summed over every span path at or under a
        window span called ``name``."""
        paths = {s.path for s in spans if s.name == name}
        return sum(
            m.get(key, 0) for p, m in census.items() if any(p == q or p.startswith(q + "/") for q in paths)
        )

    def per_call(name, key, unit, scale=1.0):
        n = sum(1 for s in spans if s.name == name)
        return (subtree(name, key) * scale / n if n else 0.0), unit

    window_census = [m for p, m in census.items() if not p.startswith("session.warmup")]
    task_s = sum(m.get("run_s", 0) for m in window_census)
    exec_cpu_s = sum(m.get("cpu_s", 0) for m in window_census)
    rows_in, rows_out = extra.get("txn_rows", (0, 0))
    batches = [o for o in ops if o.kind == "etl.pipeline"]
    out: dict[str, tuple[float, str]] = {
        "session.peak_rss_mb": (extra["peak_rss_mb"], "MB"),
        "session.get_spark_s": (extra["get_spark_s"], "s"),
        "session.warmup_s": (extra["warmup_s"], "s"),
        "session.gc_s": (sum(m.get("gc_s", 0) for m in window_census), "s"),
        "session.shuffle_fetch_wait_share": (
            sum(m.get("fetch_wait_s", 0) for m in window_census) / task_s if task_s else 0.0,
            "ratio",
        ),
        "session.scheduler_delay_s": (sum(m.get("sched_delay_s", 0) for m in window_census), "s"),
        "etl.transform.rows_in": (rows_in, "rows"),
        "etl.transform.rows_out": (rows_out, "rows"),
        "etl.transform.keep_ratio": (rows_out / rows_in if rows_in else 0.0, "ratio"),
        "etl.transform.build_share": share("etl.transform"),
        "etl.extract.commit_share": share("etl.extract.commit"),
        "etl.extract.increment_rows": (_mean(o.items for o in batches), "rows"),
        "etl.pipeline.self_share": share("etl.pipeline", self_time=True),
        "etl.pipeline.jobs": per_call("etl.pipeline", "jobs", "count"),
        "etl.pipeline.tasks": per_call("etl.pipeline", "tasks", "count"),
        "etl.pipeline.shuffle_bytes": per_call("etl.pipeline", "shuf_write_mb", "bytes", 1e6),
        "sources.lake.write_share": share("sources.lake.write"),
        "sources.lake.files_written": (extra.get("sources.lake.files_written", 0.0), "count"),
        "sources.lake.bytes_per_input_byte": (extra.get("sources.lake.bytes_per_input_byte", 0.0), "ratio"),
        "sources.lake.files_per_partition": (extra.get("sources.lake.files_per_partition", 0.0), "ratio"),
        "sources.lake.compact_share": share("sources.lake.compact"),
        "report.metrics.share": share("report.metrics"),
        "report.metrics.jobs": per_call("report.metrics", "jobs", "count"),
        "report.metrics.input_bytes": per_call("report.metrics", "input_mb", "bytes", 1e6),
        "report.html.render_share": share("report.html"),
        "report.dashboard.cache_build_share": share("report.dashboard.cache_build"),
        "report.dashboard.panels_share": share("report.dashboard.panels"),
        "report.dashboard.jobs": per_call("report.dashboard", "jobs", "count"),
        "report.dashboard.files_scanned_ratio": (
            subtree("report.dashboard", "files_read") / extra["lake_files_at_refresh"]
            if extra.get("lake_files_at_refresh")
            else 0.0,
            "ratio",
        ),
    }
    for mod in PLANS_MODULES:
        name = f"plans.{mod}"
        out.update(
            {
                f"{name}.wall_share": share(name),
                f"{name}.jobs": per_call(name, "jobs", "count"),
                f"{name}.tasks": per_call(name, "tasks", "count"),
                f"{name}.cpu_share": (subtree(name, "cpu_s") / exec_cpu_s if exec_cpu_s else 0.0, "ratio"),
                f"{name}.shuffle_bytes": per_call(name, "shuf_write_mb", "bytes", 1e6),
            }
        )
    window_spread = spread_calls[extra.get("spread_calls_before_window", 0) :]
    cand, verified = extra.get("minhash_pairs", (0, 0))
    queries = [o.seconds for o in ops if o.kind.startswith("plans.")]
    ingest = [o for o in ops if o.kind in INGEST_KINDS]
    out.update(
        {
            "sources.reader.spread_calls": (len(window_spread), "count"),
            "sources.reader.spread_width": (_mean(w for w, _ in window_spread), "tasks"),
            "sources.reader.input_bytes": (_mean(b for _, b in window_spread), "bytes"),
            "operators.minhash.candidate_pairs": (cand, "pairs"),
            "operators.minhash.verified_pairs": (verified, "pairs"),
            "operators.minhash.verify_yield": (verified / cand if cand else 0.0, "ratio"),
            "streaming.minhash.batch_share": share("streaming.minhash"),
            "streaming.minhash.index_bytes": (extra.get("streaming.minhash.index_bytes", 0), "bytes"),
            "streaming.minhash.segments": (extra.get("streaming.minhash.segments", 0), "count"),
            "streaming.minhash.compact_share": share("streaming.minhash.compact"),
            "streaming.funnel.batch_share": share("streaming.funnel"),
            "streaming.funnel.state_bytes": (extra.get("streaming.funnel.state_bytes", 0), "bytes"),
            "streaming.funnel.compact_share": share("streaming.funnel.compact"),
            "streaming.state.vacuum_share": share("streaming.state.vacuum"),
            "streaming.vectors.batch_share": share("streaming.vectors"),
            "streaming.ivf.batch_share": share("streaming.ivf"),
            "streaming.ivf.refresh_share": share("streaming.ivf.refresh"),
            # user-path stages that both workloads have: registry queries,
            # ingest batches (ETL batch or drain micro-batch), maintenance
            "query.p50_s": (_p50(queries), "s"),
            # the window's maximum while query.count <= 2 * TAIL_BEYOND
            "query.tail_s": (tail(queries)[0], "s"),
            "query.count": (len(queries), "count"),
            "query.per_s": (len(queries) / sum(queries), "1/s"),
            "ingest.batch_p50_s": (_p50(o.seconds for o in ingest), "s"),
            "ingest.items_per_s": (sum(o.items for o in ingest) / sum(o.seconds for o in ingest), "1/s"),
            "maintenance_s": (_mean(o.seconds for o in ops if o.kind == "maintenance"), "s"),
            "error_rate": (sum(1 for o in ctx.ops if o.ok is False) / len(ctx.ops), "ratio"),
            **{k: (v, "s") for k, v in wall_geomeans(ops).items()},
            "trace.window_s": (window_s, "s"),
            "trace.self_coverage": (sum(selfs.values()) / window_s, "ratio"),
        }
    )
    return out


def main() -> int:
    args = _args()
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: no {PKG} package under {ROOT}; run from the repository root", file=sys.stderr)
        return 2
    # scratch of runs that were killed before their cleanup ran
    for stale in glob.glob(os.path.join(ROOT, ".perfbench", "run-*")):
        if not os.path.exists(f"/proc/{stale.rsplit('-', 1)[1]}"):
            shutil.rmtree(stale, ignore_errors=True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # cleanup runs in the finally blocks
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # before the package is imported: its reader caches under tempfile's
    # directory, and Python workers must import it from any cwd
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    for p in (ROOT, os.path.dirname(HERE)):
        if p not in sys.path:
            sys.path.insert(0, p)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    from perfbench import gen
    from perfbench.procs import tree_cpu_s, tree_peak_rss_mb
    from perfbench.trace import Tracer, event_census
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    from serverless_etl_reporting_pipeline_spark.session import get_spark

    phase = {"start": time.perf_counter() - T_START}
    inputs = gen.generate(args.seed, os.path.join(work, "inputs"))
    phase["generated"] = time.perf_counter() - T_START
    tmp = os.path.join(work, "tmp")
    # every JVM of the run (spark-submit's launcher and the session's):
    # -XX:-UsePerfData, or each would write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p
        for p in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
        if p
    )
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    log_dir = os.path.join(work, "evlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update(
            {"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir, "spark.eventLog.compress": "false"}
        )
    t0 = time.perf_counter()
    spark = get_spark(extra_conf=conf)
    extra: dict = {"get_spark_s": time.perf_counter() - t0}
    try:
        tracer = Tracer(spark.sparkContext if args.trace else None)
        spread_calls: list[tuple[int, int]] = []
        if args.trace:
            _instrument(tracer, spread_calls)
        ctx = Ctx(spark=spark, tracer=tracer, inputs=inputs, work=work, root=ROOT)
        wl = WORKLOADS[args.workload](ctx)

        t0 = time.perf_counter()
        with tracer.span("session.warmup"):
            wl.run_pass()
        extra["warmup_s"] = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_START
        extra["spread_calls_before_window"] = len(spread_calls)

        ctx.warm = False
        cpu0 = tree_cpu_s()
        w0 = time.perf_counter()
        passes = 0
        while not wl.exhausted:
            wl.run_pass()
            passes += 1
            if time.perf_counter() - w0 >= args.seconds:
                break
        window = (w0, time.perf_counter())
        window_cpu_s = tree_cpu_s() - cpu0
        extra["peak_rss_mb"] = tree_peak_rss_mb()

        phase["window_end"] = time.perf_counter() - T_START
        wl.check()
        phase["checked"] = time.perf_counter() - T_START
        if tracer.on:
            extra.update(wl.census())
    finally:
        _stop(spark)
        phase["stopped"] = time.perf_counter() - T_START

    ops = [o for o in ctx.ops if not o.warm]
    failed = sum(1 for o in ctx.ops if o.ok is False)
    unchecked = [o.kind for o in ctx.ops if o.ok is None]
    if unchecked:
        print(f"perfbench: unchecked operations {unchecked}", file=sys.stderr)
        return 1
    e2e = end_to_end(ops, setup_s, window_cpu_s)
    print("perfbench: end_to_end " + json.dumps({k: v for k, (v, _) in e2e.items()}), file=sys.stderr)
    if args.trace:
        census = event_census(ROOT, log_dir)
        metrics = per_layer(ctx, window, census, spread_calls, extra)
        tracer.dump(os.path.join(ROOT, ".perfbench", "spans", f"{args.workload}-seed{args.seed}.json"))
    else:
        metrics = e2e
    for o in ctx.ops:
        print(
            f"perfbench: op {o.kind} {o.query} {o.seconds:.3f}s cpu={o.cpu_s:.2f}s{' warm-up' if o.warm else ''}",
            file=sys.stderr,
        )
    lat = [o.seconds for o in ops]
    _, pct = tail(lat)
    print(
        f"perfbench: {args.workload} seed={args.seed} cpus={_cpus()} passes={passes} ops={len(ops)} "
        f"window_s={window[1] - window[0]:.1f} tail=p{pct:.0f} failed={failed}/{len(ctx.ops)} "
        f"phases={ {k: round(v, 1) for k, v in phase.items()} }",
        file=sys.stderr,
    )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(ctx.ops),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it: the
    JVM exits when the pipe to its stdin closes."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


if __name__ == "__main__":
    sys.exit(main())
