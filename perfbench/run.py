"""Benchmark entry point.

    python3 perfbench/run.py --workload {cdc_tail,query_sweep} \
        --seed N --seconds S --trace {0,1}

Runs from the root of a checkout of the repository: it imports the
package from there and writes only under ``.perfbench_work/`` in it.
Human-readable report lines go first; the last line of standard output
is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced run with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import env, stats  # noqa: E402

WORKLOADS = ("cdc_tail", "query_sweep")

# end-to-end metric -> unit (BENCHMARK.json's end_to_end, same order)
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "throughput_per_s": "1/s",
}


def workload_fn(name: str):
    from perfbench import cdc_tail, sweep

    return {"cdc_tail": cdc_tail.run, "query_sweep": sweep.run}[name]


def end_to_end(r) -> dict:
    ops = r.samples["op"]
    pct, tail = stats.tail(ops)
    r.facts["op_tail_pct"] = pct
    r.facts["op_samples"] = len(ops)
    return {
        "setup_s": sum(r.setup.values()),
        "peak_rss_mb": r.facts["peak_rss_mb"],
        "op_p50_s": statistics.median(ops),
        "op_tail_s": tail,
        "throughput_per_s": r.throughput,
    }


def report(r, e2e: dict) -> None:
    """Every metric by its workload's own name, with its unit."""

    def line(name, value, unit, note=""):
        print(f"{r.workload:>11}  {name:<26} {value:>14.6g} {unit:<9} {note}")

    line("setup_s", e2e["setup_s"], "s", json.dumps({k: round(v, 3) for k, v in r.setup.items()}))
    line("peak_rss_mb", e2e["peak_rss_mb"], "MB")
    line("failed_ops_ratio", r.failed / max(r.attempted, 1), "ratio",
         f"{r.failed} of {r.attempted} operations")
    n = r.facts.get("op_samples", 0)
    pct = r.facts.get("op_tail_pct", 50.0)
    if r.workload == "cdc_tail":
        line("tail_commit_p50_s", e2e["op_p50_s"], "s", f"n={n}")
        line("tail_commit_tail_s", e2e["op_tail_s"], "s", f"p{pct:g}, n={n}")
        xs = r.samples.get("read_key", [])
        if xs:
            p, v = stats.tail(xs)
            line("point_lookup_p50_s", statistics.median(xs), "s", f"n={len(xs)}")
            line("point_lookup_tail_s", v, "s", f"p{p:g}, n={len(xs)}")
        for name, key in (
            ("range_read_s", "read_range"),
            ("mv_refresh_s", "mv_refresh"),
            ("maintenance_pause_s", "maintenance"),
        ):
            xs = r.samples.get(key, [])
            if xs:
                line(name, statistics.median(xs), "s", f"median of {len(xs)}")
        line("tail_events_per_s", r.throughput, "events/s",
             "appended events per second of loop wall time")
    else:
        line("sweep_s", r.facts["sweep_s"], "s", f"{len(r.layer)} leaves")
        for k, v in r.layer.items():
            line(k, v, "s")
    print(f"{r.workload:>11}  input {json.dumps(r.facts.get('input', {}))}")
    facts = {k: v for k, v in r.facts.items() if k != "input"}
    print(f"{r.workload:>11}  facts {json.dumps(facts)}")
    print(f"{r.workload:>11}  samples {json.dumps({k: [round(x, 3) for x in v] for k, v in r.samples.items()})}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=30)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    env.prepare_process(env.WORK)
    try:
        import kafka_connect_fs_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package: {e}", file=sys.stderr)
        shutil.rmtree(env.WORK, ignore_errors=True)
        return 2

    from perfbench import common, layers
    from perfbench.trace import EventLog

    r = common.Run(args.workload, args.seed, args.seconds, bool(args.trace), env.WORK)
    try:
        workload_fn(args.workload)(r)
        r.facts["peak_rss_mb"] = env.peak_rss_mb(env.jvm_pid(r.spark))
    finally:
        if r.tracer is not None:
            r.tracer.unwrap_all()
        if r.spark is not None:
            env.stop_spark(r.spark)
    if not r.samples.get("op"):
        print("perfbench: no operation completed; no result", file=sys.stderr)
        return 1
    e2e = end_to_end(r)
    report(r, e2e)
    if args.trace:
        per_layer = layers.collect(
            r, EventLog.load(os.path.join(env.WORK, "events")), r.watermark_dir
        )
        metrics = {
            name: {"value": float(per_layer.get(name, 0.0)), "unit": unit}
            for name, unit, _better, _moves in layers.METRICS
        }
        for name, unit, _b, _m in layers.METRICS:
            print(f"{r.workload:>11}  {name:<34} {metrics[name]['value']:>14.6g} {unit}")
        print(f"{r.workload:>11}  traced end-to-end: {json.dumps(e2e)}")
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}
    shutil.rmtree(env.WORK, ignore_errors=True)
    print(json.dumps({
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
