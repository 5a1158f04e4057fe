"""Per-layer metrics of a traced run: spans from ``harness.Tracer``
joined with the Spark event log (``eventlog``). Returns the ledger (per
op: latency, spans, counters) and the summed per-layer metrics."""

from __future__ import annotations

import os
from collections import defaultdict

import eventlog
from harness import median

# name → unit of every per-layer metric, in output order
METRICS = {
    "service.requests": "count",
    "service.cache_hits": "count",
    "service.cache_hit_ratio": "ratio",
    "service.cache_hit_p50_s": "s",
    "service.cache_lookup_s": "s",
    "service.self_s": "s",
    "plans.init_s": "s",
    "plans.self_s": "s",
    "plans.eager_jobs": "count",
    "plans.demotions": "count",
    "plans.overview_reads": "count",
    "core.to_tiled_s": "s",
    "core.save_tiled_s": "s",
    "core.load_tiled_s": "s",
    "core.store_bytes_per_cell": "B",
    "sinks.save_result_s": "s",
    "sinks.bytes_written": "B",
    "pipeline.build_s": "s",
    "pipeline.eager_jobs": "count",
    "pipeline.run_s": "s",
    **{f"spark.{c}": ("s" if c.endswith("_s") else
                      "B" if c.endswith("_bytes") or "bytes_" in c
                      else "count") for c in eventlog.COUNTERS},
    "spark.idle_s": "s",
}


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def ledger(ctx, ops: list, log_dir: str, app_id: str):
    spans = ctx.tracer.spans
    by_id = {s["id"]: s for s in spans}
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def ancestors(sid):
        while sid is not None:
            yield by_id[sid]
            sid = by_id[sid]["parent"]

    def outermost(name: str, ops_only: set) -> float:
        """Summed duration of ``name`` spans not nested in another span
        of the same name, within the measured ops."""
        return sum(_dur(s) for s in spans if s["name"] == name
                   and s["op"] in ops_only
                   and not any(a["name"] == name
                               for a in ancestors(s["parent"])))

    measured = [s for s in spans if s["name"] == "op"
                and not s["op"].startswith("warm")]
    op_ids = {s["op"] for s in measured}
    jobs, counters = eventlog.jobs_and_counters(
        eventlog.read_events(os.path.join(log_dir)))
    op_jobs = defaultdict(list)
    for j in jobs.values():
        if j["op"] in op_ids:
            op_jobs[j["op"]].append(j)

    def jobs_under(name: str, unless: str | None = None) -> int:
        n = 0
        for j in jobs.values():
            if j["op"] not in op_ids or j["span"] is None:
                continue
            names = [a["name"] for a in ancestors(int(j["span"]))]
            if name in names and (unless is None or unless not in names):
                n += 1
        return n

    requests = [(s, o) for s, o in zip(measured, ops)
                if s.get("kind") == "request"]
    hits = [o for _, o in requests if o.hit]
    m = dict.fromkeys(METRICS, 0.0)
    m["service.requests"] = len(requests)
    m["service.cache_hits"] = len(hits)
    m["service.cache_hit_ratio"] = len(hits) / len(requests) if requests else 0.0
    m["service.cache_hit_p50_s"] = (median([o.latency_s for o in hits])
                                    if hits else 0.0)
    m["service.cache_lookup_s"] = outermost("service.cache_lookup", op_ids)
    m["service.self_s"] = sum(
        _dur(s) - sum(_dur(c) for c in children[s["id"]])
        for s, _ in requests)
    m["plans.init_s"] = outermost("plans.init", op_ids)
    m["plans.self_s"] = sum(
        _dur(s) - sum(_dur(c) for c in spans
                      if c["name"] == "sinks.save_result"
                      and c["op"] == s["op"]
                      and s in ancestors(c["parent"])
                      and not any(a["name"] == "sinks.save_result"
                                  for a in ancestors(c["parent"])))
        for s in spans if s["name"] == "plans.execute" and s["op"] in op_ids)
    m["plans.eager_jobs"] = jobs_under("plans.execute", "sinks.save_result")
    m["plans.demotions"] = sum(len(o.extra.get("demotions", [])) for o in ops)
    m["plans.overview_reads"] = sum(len(o.extra.get("overview_reads", []))
                                    for o in ops)
    for fn in ("to_tiled", "save_tiled", "load_tiled"):
        m[f"core.{fn}_s"] = outermost(f"core.{fn}", op_ids)
    written = sum(o.cells for o in ops if o.ingest)
    if written:
        m["core.store_bytes_per_cell"] = ctx.stats["store_bytes"] / written
    m["sinks.save_result_s"] = outermost("sinks.save_result", op_ids)
    m["sinks.bytes_written"] = sum(
        _path_bytes(o.extra.get("output")) for o in ops if not o.hit)
    m["pipeline.build_s"] = outermost("pipeline.build", op_ids)
    m["pipeline.run_s"] = outermost("pipeline.run", op_ids)
    m["pipeline.eager_jobs"] = jobs_under("pipeline.build")

    per_op = []
    for s, o in zip(measured, ops):
        c = counters.get(s["op"], dict.fromkeys(eventlog.COUNTERS, 0))
        idle = _dur(s) - eventlog.busy_s(op_jobs[s["op"]], s["start"],
                                         s["end"])
        for k, v in c.items():
            m[f"spark.{k}"] += v
        m["spark.idle_s"] += idle
        per_op.append({
            "op": s["op"], "name": o.name, "hit": o.hit,
            "latency_s": o.latency_s, "spark_idle_s": idle,
            "counters": c,
            "spans": [{"name": x["name"], "s": _dur(x)} for x in spans
                      if x["op"] == s["op"] and x["name"] != "op"],
        })
    led = {"workload_seed": ctx.seed, "app_id": app_id, "ops": per_op,
           "metrics": m}
    return led, {k: (m[k], METRICS[k]) for k in METRICS}


def _path_bytes(path) -> int:
    if not path or not os.path.exists(path):
        return 0
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)
