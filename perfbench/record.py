"""Steadiness and scaling record for the benchmark.

    python3 perfbench/record.py --runs 10 --seconds 8 [--workloads lake_sql ...]

Run from the repository root. For each workload it runs ``run.py``
untraced once per seed (seeds 1..runs), then one traced run at the
usable core count and one at ``SPARK_GRAFT_CPUS=1``, and writes
``perfbench/RECORD.json``:

- per end-to-end metric the median, quartiles and quartile spread as a
  share of the median (``statistics.quantiles``, n=4);
- the same for the wall-latency geomeans (``run.wall_geomeans``);
- per operation kind (ETL batch, report, dashboard refresh, drain,
  query module, maintenance) the same spread over the runs' per-kind
  median wall and CPU seconds, and the wall latencies pooled over all
  untraced runs with their tail (``run.tail``: the maximum when a kind
  has 20 samples or fewer);
- per gated geomean metric and operation kind, the share of the
  metric's operations that kind has, and how large a change to that one
  path the metric's bound (and its own spread) can resolve;
- tracing overhead (traced minus untraced end-to-end medians) and the
  two traced per-layer readings.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.run import INGEST_KINDS, tail, wall_geomeans  # noqa: E402
from perfbench.workloads import Op  # noqa: E402

OP_LINE = re.compile(r"^perfbench: op (\S+) (\S*) ([0-9.]+)s cpu=([0-9.-]+)s$")


def _run(workload: str, seed: int, seconds: float, trace: int, env: dict | None = None) -> tuple[dict, dict, list]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, env={**os.environ, **(env or {})}, timeout=600,
    )  # fmt: skip
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} trace {trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    e2e, ops = {}, []
    for line in proc.stderr.splitlines():
        if line.startswith("perfbench: end_to_end "):
            e2e = json.loads(line[len("perfbench: end_to_end ") :])
        m = OP_LINE.match(line)
        if m:
            ops.append((m.group(1), float(m.group(3)), float(m.group(4))))
    return result, e2e, ops


def _spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3, "iqr_share": (q3 - q1) / q2 if q2 else None, "n": len(values)}


# the geomean end-to-end metrics and the operation kinds each covers
GEOMEANS = {
    "query_cpu_s": lambda kind: kind.startswith("plans."),
    "ingest_cpu_s": lambda kind: kind in INGEST_KINDS,
}


def _resolution(rec: dict, runs: int, bounds: dict) -> dict:
    """For each geomean metric and each kind it covers: the kind's share
    of the metric's operations, and the factor by which that one path
    must change to move the metric by its bound, and by its own spread.
    A path with share s moves a geomean by (factor ** s)."""
    per_run = {k: v["n"] / runs for k, v in rec["ops_pooled"].items() if k != "all"}
    out = {}
    for metric, covers in GEOMEANS.items():
        kinds = {k: n for k, n in per_run.items() if covers(k)}
        total = sum(kinds.values())
        iqr = rec["end_to_end"][metric]["iqr_share"]
        out[metric] = {
            k: {
                "share": n / total,
                "factor_at_bound": (1 + bounds[metric]) ** (total / n),
                "factor_at_spread": (1 + iqr) ** (total / n),
            }
            for k, n in sorted(kinds.items())
        }
    return out


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seconds", type=float, default=8)
    p.add_argument("--workloads", nargs="*", default=["lake_sql", "curation_vectors"])
    args = p.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}
    out = {"runs": args.runs, "seconds": args.seconds, "cpus": len(os.sched_getaffinity(0)), "workloads": {}}
    for w in args.workloads:
        per_metric: dict[str, list[float]] = {}
        wall: dict[str, list[float]] = {}
        pooled: dict[str, list[float]] = {}
        kind_medians: dict[str, list[float]] = {}
        kind_cpu_medians: dict[str, list[float]] = {}
        attempted = failed = 0
        for seed in range(1, args.runs + 1):
            res, _, ops = _run(w, seed, args.seconds, 0)
            attempted += res["attempted"]
            failed += res["failed"]
            for k, v in res["metrics"].items():
                per_metric.setdefault(k, []).append(v["value"])
            for k, v in wall_geomeans([Op(kind, sec, 0, False) for kind, sec, _ in ops]).items():
                wall.setdefault(k, []).append(v)
            this_run: dict[str, list[tuple[float, float]]] = {}
            for kind, sec, cpu in ops:
                pooled.setdefault("all", []).append(sec)
                pooled.setdefault(kind, []).append(sec)
                this_run.setdefault(kind, []).append((sec, cpu))
            for kind, lat in this_run.items():
                kind_medians.setdefault(kind, []).append(statistics.median(s for s, _ in lat))
                kind_cpu_medians.setdefault(kind, []).append(statistics.median(c for _, c in lat))
            print(f"{w} seed {seed}: {json.dumps(res['metrics'])}", file=sys.stderr)
        rec = {
            "end_to_end": {k: _spread(v) for k, v in per_metric.items()},
            "wall_geomeans": {k: _spread(v) for k, v in wall.items()},
            "error_rate": failed / attempted if attempted else None,
            "ops_by_run": {k: _spread(v) for k, v in sorted(kind_medians.items())},
            "ops_cpu_by_run": {k: _spread(v) for k, v in sorted(kind_cpu_medians.items())},
            "ops_pooled": {},
        }
        for kind, lat in sorted(pooled.items()):
            value, pct = tail(lat)
            rec["ops_pooled"][kind] = {
                "n": len(lat), "p50_s": statistics.median(lat), "tail_s": value, "tail_percentile": round(pct, 1),
            }  # fmt: skip
        rec["resolution"] = _resolution(rec, args.runs, bounds)
        for label, env in (("traced", None), ("traced_cpus1", {"SPARK_GRAFT_CPUS": "1"})):
            res, e2e, _ = _run(w, 1, args.seconds, 1, env)
            rec[label] = {"end_to_end": e2e, "per_layer": {k: v["value"] for k, v in res["metrics"].items()}}
        rec["tracing_overhead"] = {
            k: v - rec["end_to_end"][k]["median"] for k, v in rec["traced"]["end_to_end"].items() if k in per_metric
        }
        out["workloads"][w] = rec
    with open(os.path.join(HERE, "RECORD.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
