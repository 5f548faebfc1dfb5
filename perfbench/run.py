#!/usr/bin/env python3
"""Engine benchmark: run one workload and print one JSON result line.

    python3 perfbench/run.py --workload oltp_mixed --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads: ``oltp_mixed`` (open-loop
OLTP over the Postgres wire with a live mirror, then mirror upkeep)
and ``analytics_batch`` (the headline registry queries over a fresh
corpus). Inputs are generated from ``--seed``; the window lasts
``--seconds``. With ``--trace 0`` the result holds the end-to-end
metrics; with ``--trace 1`` the per-layer metrics from spans recorded
around each layer call (written to ``.perfbench_work/``), Spark's
streaming progress and the JVM management beans. The last stdout line
is ``{"correct", "attempted", "failed", "metrics"}``; progress and
failure details go to stderr. Exit code is non-zero when the workload
cannot run (for example without the engine package).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spans  # noqa: E402

WORKLOADS = ("oltp_mixed", "analytics_batch")


def _benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _workload(name: str):
    if name == "oltp_mixed":
        from oltp_mixed import OltpMixed

        return OltpMixed
    from analytics_batch import AnalyticsBatch

    return AnalyticsBatch


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = _benchmark_spec()
    if not os.path.isdir(os.path.join(ROOT, "peerdb_cdc_psql_psql_spark")):
        print("[perfbench] engine package not found in the checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.chdir(work)  # anything the engine writes relative to cwd stays here
    tracer = spans.Tracer() if args.trace else spans.NULL

    from engine import Engine

    try:
        engine = Engine(work, f"perfbench-{args.workload}")
        spans.log(f"engine started ({engine.settings})")
        try:
            res = _workload(args.workload)(engine, tracer, args.seed, args.seconds, work).run()
        finally:
            engine.close()
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    for line in res["failures"][:20]:
        print(f"[perfbench] {line}", file=sys.stderr)

    if args.trace:
        values = dict(res["layer"])
        values["session.start_s"] = engine.start_s
        values.update({f"traced.{n}": v for n, v in res["e2e"].items()})
        values.update({f"self_ms.{n}": ms for n, ms in tracer.self_time_ms().items()})
        tracer.write(os.path.join(base, f"spans-{args.workload}-{args.seed}.jsonl"))
        _report_overhead(base, args, res["e2e"])
        wanted = spec["per_layer"]
    else:
        values = res["e2e"]
        wanted = spec["end_to_end"]
        if sorted(m["name"] for m in wanted) != sorted(values):
            raise RuntimeError(f"workload reported {sorted(values)}, BENCHMARK.json names {wanted}")
        with open(os.path.join(base, f"e2e-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump(values, fh)
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted
    }
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


def _report_overhead(base: str, args, traced: dict) -> None:
    """Tracing overhead: this traced run's end-to-end metrics against
    the last untraced run of the same workload and seed, when there is
    one (stderr only; the per-layer result carries ``traced.*``)."""
    path = os.path.join(base, f"e2e-{args.workload}-{args.seed}.json")
    if not os.path.exists(path):
        return
    with open(path) as fh:
        plain = json.load(fh)
    for name, value in traced.items():
        if plain.get(name):
            spans.log(f"tracing overhead {name}: {100.0 * (value / plain[name] - 1.0):+.1f}%")


if __name__ == "__main__":
    code = main()
    spans.log("exit")
    sys.exit(code)
