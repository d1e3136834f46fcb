#!/usr/bin/env python3
"""scarf_spark benchmark.

    python3 perfbench/run.py --workload {atlas,corpus} --seed N --seconds S --trace {0,1}

Run from the repository root. Generates the workload's inputs from the
seed, runs them through scarf_spark's public APIs on ``local[nproc]``,
checks the outputs against the generator's ground truth, prints every
metric with its unit, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced
run (Spark event log + one job description per layer). Atlas runs and
traced runs first make one untimed pass on the cold engine, as part of
set-up. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("atlas", "corpus")
# a run must exit within 180 s: the traced session stops starting
# requests this long after the run began
SESSION_DEADLINE_S = 130
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "peak_rss_mb": "MB",
    "truth_recall": "1",
    "truth_precision": "1",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    started = time.perf_counter()
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "scarf_spark")):
        print(f"perfbench: no scarf_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    event_dir = os.path.join(work, "events") if args.trace else None
    pinned = harness.pin_env(ROOT, work, event_dir)
    if args.workload == "atlas":
        from perfbench import atlas as workload
    else:
        from perfbench import corpus as workload

    res, error, spark = None, None, None
    try:
        with harness.RssSampler() as rss:
            spark, start_s = harness.start_spark()
            tracer = harness.Tracer(spark, enabled=bool(args.trace))
            try:
                res = workload.run(
                    spark, tracer, work, args.seed, args.seconds, started + SESSION_DEADLINE_S
                )
            finally:
                harness.stop_spark(spark)
                spark = None
    except Exception:  # noqa: BLE001 — report the run as failed, not crash
        error = traceback.format_exc()
        if spark is not None:
            harness.stop_spark(spark)

    def clean_up() -> None:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)  # other runs may still be using it
        except OSError:
            pass

    if error is not None:
        sys.stderr.write(error)
        clean_up()
        names = harness.PER_LAYER if args.trace else END_TO_END
        zeros = {k: {"value": 0.0, "unit": _unit(k)} for k in names}
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": zeros}))
        return 0

    attempted = res["ops"] + res["checks"]
    failures = res["check_failures"]
    e2e = {
        "setup_s": start_s + res["gen_s"] + res["warm_pass_s"],
        "pass_s": statistics.median(res["pass_s"]),
        "peak_rss_mb": rss.peak / 2**20,
        "truth_recall": res["quality"]["truth_recall"],
        "truth_precision": res["quality"]["truth_precision"],
    }

    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    for k in sorted(pinned):
        print(f"env {k}={pinned[k]}")
    print(
        f"setup: session start {start_s:.2f} s, inputs {res['gen_s']:.2f} s, "
        f"untimed warm-up pass {res['warm_pass_s']:.2f} s"
    )
    walls: dict[str, list[float]] = {}
    for layer, a, b in tracer.spans:
        walls.setdefault(layer, []).append(b - a)
    for layer, ws in walls.items():
        print(f"span {layer}: calls={len(ws)} total={sum(ws):.3f} s max={max(ws):.3f} s")
    print(f"passes={len(res['pass_s'])} operations={res['ops']} checks={res['checks']}")
    parts = ", ".join(f"{k} {v / 2**20:.0f} MB" for k, v in sorted(rss.peak_parts.items()))
    print(f"peak memory by process: {parts}")
    for what in failures:
        print(f"FAILED {what}")
    shown = dict(e2e)
    shown["cluster_ari"] = res["quality"]["cluster_ari"]
    shown["failed_ratio"] = len(failures) / attempted
    if args.workload == "corpus":
        shown["dedup_recall"] = e2e["truth_recall"]
        shown["dedup_precision"] = e2e["truth_precision"]
    req = res.get("request_ms", [])
    if req:
        tail_v, tail_p = harness.tail(req)
        shown["latency_p50_ms"] = statistics.median(req)
        shown["latency_tail_ms"] = tail_v
        print(f"session: {len(req)} requests, tail percentile p{tail_p:.1f}")
    for k, v in shown.items():
        print(f"{args.workload} {k} = {v:.6g} {_unit(k)}")

    if args.trace:
        log = harness.parse_event_log(event_dir)
        metrics = harness.layer_metrics(tracer, log, int(pinned["SPARK_GRAFT_CPUS"]))
        metrics["session.start_s"] = start_s
        if req:
            metrics["requests.count"] = len(req)
            metrics["requests.latency_p50_ms"] = shown["latency_p50_ms"]
            metrics["requests.latency_tail_ms"] = shown["latency_tail_ms"]
        traced_pass, untraced_pass = res["traced_pass_s"], e2e["pass_s"]
        metrics["trace.traced_pass_s"] = traced_pass
        metrics["trace.untraced_pass_s"] = untraced_pass
        metrics["trace.overhead_ratio"] = traced_pass / untraced_pass
        print(
            f"{args.workload} tracing overhead: traced pass {traced_pass:.3f} s vs "
            f"untraced {untraced_pass:.3f} s ({traced_pass / untraced_pass:.3f}x)"
        )
        for k in harness.PER_LAYER:
            print(f"layer {k} = {metrics[k]:.6g}")
        out = {k: {"value": metrics[k], "unit": _unit(k)} for k in harness.PER_LAYER}
    else:
        out = {k: {"value": e2e[k], "unit": _unit(k)} for k in END_TO_END}

    clean_up()
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": attempted,
                "failed": len(failures),
                "metrics": out,
            }
        )
    )
    return 0


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("ratio", "util", "ari", "recall", "precision")):
        return "1"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
