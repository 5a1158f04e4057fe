"""Repo benchmark: one workload per run, one closed-loop client.

    python3 perfbench/run.py --workload openeo_interactive --seed 1 \
        --seconds 12 --trace 0

Run from the repository root. Inputs come from ``--seed``; every op's
output is checked. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics (from spans and the
Spark event log) with ``--trace 1``. The line before it holds the run's
diagnostics (host sizing, input size, drift anchor). Run state lives in
``.perfbench_runs/`` under the root; a traced run leaves its ledger
there (compare two with ``perfbench/ledger_diff.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _args(argv):
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def figures(ops: list, setup_s: float, peak_rss_mb: float,
            measured_s: float, store_bytes: int | None):
    """End-to-end metrics, plus the workload-specific figures that are
    not defined on every workload (diagnostics). Latencies and rates are
    over the request/query ops; on ``openeo_scene`` ``cells_per_s`` is
    the write phase's: ingested cells per second of ingest."""
    from harness import median, quantile

    writes = [o for o in ops if o.ingest]
    reads = [o for o in ops if not o.ingest]
    lat = [o.latency_s for o in reads]
    hits = [o.latency_s for o in reads if o.hit]
    work = writes or [o for o in reads if not o.hit]
    cells = sum(o.cells for o in work)
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (median(lat), "s"),
        "op_p90_s": (quantile(lat, 0.9), "s"),
        "ops_per_s": (len(reads) / measured_s, "1/s"),
        "cells_per_s": (cells / sum(o.latency_s for o in work), "1/s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    extra = {"cache_hit_p50_s": median(hits) if hits else None}
    if writes:
        extra["ingest_s"] = sum(o.latency_s for o in writes)
        extra["store_bytes_per_cell"] = store_bytes / cells
    return e2e, extra


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "openeo_odc_driver_spark",
                                       "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    args = _args(argv)

    import harness
    import layers
    import workloads

    t_main = time.perf_counter()
    run_dir = os.path.join(
        ROOT, ".perfbench_runs",
        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    event_log = os.path.join(run_dir, "eventlog") if args.trace else None
    env = harness.host_env(ROOT, run_dir, event_log)
    ctx = workloads.Context(ROOT, run_dir, args.seed, args.seconds,
                            bool(args.trace))
    if args.workload in workloads.PREPARE:
        workloads.PREPARE[args.workload](ctx)
    # set-up is timed from here: the session start, the warm-up and
    # anything else before the first measured op
    t_setup = time.perf_counter()
    ctx.spark = harness.start_spark()
    try:
        ctx.tracer = (harness.Tracer(ctx.spark) if args.trace
                      else harness.NullTracer())
        with harness.RssSampler() as rss:
            warm_ops, ops = workloads.WORKLOADS[args.workload](ctx)
        t_window_end = time.perf_counter()
        anchor_after = harness.anchor_s(ctx.spark)
        app_id = ctx.spark.sparkContext.applicationId
    finally:
        harness.stop_spark(ctx.spark)
    t_stopped = time.perf_counter()

    failures = {}
    for i, op in enumerate(warm_ops + ops):
        reason = op.error or op.check()
        if reason:
            failures[f"{i}:{op.name}"] = reason
    # wall seconds of each phase of this process (set-up includes the
    # anchor; stop includes the after-window anchor)
    phases = {"prepare": t_setup - t_main,
              "setup": ctx.stats["setup_end"] - t_setup,
              "window": t_window_end - ctx.stats["setup_end"],
              "stop": t_stopped - t_window_end,
              "check": time.perf_counter() - t_stopped}
    anchor_before = ctx.stats["anchor_before"]
    setup_s = ctx.stats["setup_end"] - t_setup - anchor_before
    e2e, extra = figures(ops, setup_s, rss.peak_mb, ctx.stats["measured_s"],
                         ctx.stats.get("store_bytes"))
    attempted = len(warm_ops) + len(ops)
    diag = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "input": ctx.stats.get("input"),
        "ops": len(ops), "cache_hits": sum(o.hit for o in ops),
        "ops_failed_frac": len(failures) / attempted,
        **{k: v if v is None else round(v, 6) for k, v in extra.items()},
        "op_p50_s_by_name": {
            n: round(harness.median([o.latency_s for o in ops
                                     if o.name == n and not o.hit]), 4)
            for n in sorted({o.name for o in ops if not o.hit})},
        "host": {k: env[k] for k in ("SPARK_GRAFT_CPUS",
                                     "SPARK_GRAFT_DRIVER_MEM",
                                     "SPARK_LOCAL_DIRS", "PYTHONPATH")},
        "anchor_s": {"before": round(anchor_before, 4),
                     "after": round(anchor_after, 4)},
        "phases_s": {k: round(v, 2) for k, v in phases.items()},
        "warm_ops_s": [[o.name, round(o.latency_s, 2)] for o in warm_ops],
        "failures": dict(list(failures.items())[:5]),
    }
    if args.trace:
        ledger, metrics = layers.ledger(ctx, ops, event_log, app_id)
        # the traced run's own end-to-end view; its difference from an
        # untraced run of the same seed is the tracing overhead
        diag["traced_e2e"] = {k: round(v, 6) for k, (v, _) in e2e.items()}
        with open(os.path.join(run_dir, "ledger.json"), "w") as fh:
            json.dump(ledger, fh, indent=1)
        diag["ledger"] = os.path.relpath(os.path.join(run_dir, "ledger.json"),
                                         ROOT)
    else:
        metrics = e2e
    for sub in os.listdir(run_dir):
        if sub != "ledger.json":
            shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    print(json.dumps(diag))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
