"""The three workloads. Each is closed loop with one client: an op is
sent only after the previous one returned. Each returns the measured
ops; ``run.py`` turns them into metrics and checks.

- ``openeo_interactive``: POST /graph through the Flask test client
  (in-process, long mode) over the catalog's 16x16 px fixture scenes.
- ``openeo_scene``: ingest three scenes into a fresh tiled store, then
  POST /graph in tiled mode against that store.
- ``pipeline_sf01``: a fixed cycle of registry queries over sf0.1
  tables, each checked against its DuckDB twin.
"""

from __future__ import annotations

import dataclasses
import itertools
import os
import time
from dataclasses import dataclass, field

import graphs

SCENE_PX = 96            # stored scene edge (pixels); coarse twin is half
SCENE_TILE = 64          # tile edge of the store and of tiled execution
SCENE_OVERVIEWS = (2,)   # serves both resample templates (20 m, 60 m)
TRACE_GRAPH_OPS = 2 * graphs.CYCLE   # fixed op count of a traced graph run

# registry queries cycled by pipeline_sf01, with the tables each reads
PIPELINE_QUERIES = {
    "tpch_q1": ("lineitem",),
    "exact_dedup": ("documents",),
    "bloom_decontaminate": ("documents",),
    "brute_force_topk": ("embeddings",),
    "semantic_dedup_clusters": ("embeddings",),
    "tfidf_top_terms": ("documents",),
    "pack_sequences": ("documents",),
    "quality_classifier_score": ("documents",),
}


@dataclass
class Op:
    name: str                # template or query name
    latency_s: float
    cells: int               # input cells (or rows) the op reads
    hit: bool = False        # served from the result cache
    ingest: bool = False     # a write-phase op (openeo_scene)
    error: str | None = None
    check: object = None     # callable → None | reason, run after timing
    extra: dict = field(default_factory=dict)


@dataclass
class Context:
    root: str
    run_dir: str
    seed: int
    seconds: float
    trace: bool
    spark: object = None
    tracer: object = None
    stats: dict = field(default_factory=dict)   # workload facts for output

    def begin_window(self) -> float:
        """End of set-up: run the drift anchor on the warm session (its
        time is excluded from set-up), then return the window's start."""
        import harness

        self.stats["anchor_before"] = harness.anchor_s(self.spark)
        self.stats["setup_end"] = time.perf_counter()
        return self.stats["setup_end"]


def _timed(ctx: Context, op_id: str, fn, **attrs):
    """Run ``fn`` as one op; returns (result or None, seconds, error)."""
    with ctx.tracer.op_span(op_id, **attrs):
        t0 = time.perf_counter()
        try:
            out, err = fn(), None
        except Exception as exc:  # noqa: BLE001 - a failed op is counted
            out, err = None, f"{type(exc).__name__}: {exc}"[:300]
        dt = time.perf_counter() - t0
    return out, dt, err


def _record_graphs():
    """Make the service build process graphs through a subclass that
    keeps each instance, so the run can read its overview reads and
    demotions after the request (the response carries no overview
    reads)."""
    from openeo_odc_driver_spark import service

    built: list = []

    class RecordingGraph(service.ProcessGraph):
        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            built.append(self)

    service.ProcessGraph = RecordingGraph
    return built


def _trace_service(tracer) -> None:
    from openeo_odc_driver_spark import service
    from openeo_odc_driver_spark.core import tiled
    from openeo_odc_driver_spark.sinks import gtiff_tiled, save

    tracer.wrap(service.JobStore, "cache_lookup", "service.cache_lookup")
    tracer.wrap(service.ProcessGraph, "__init__", "plans.init")
    tracer.wrap(service.ProcessGraph, "execute", "plans.execute")
    tracer.wrap(save, "save_result", "sinks.save_result")
    tracer.wrap(gtiff_tiled, "save_gtiff_tiled", "sinks.save_result")
    for fn in ("to_tiled", "save_tiled", "load_tiled"):
        tracer.wrap(tiled, fn, f"core.{fn}")


class _Oracles:
    """DuckDB answers per graph variant, computed once each. Keyed by the
    oracle SQL, not the graph: a graph without a spatial extent reads
    the whole scene, so the warm-up's fixture-size variant and a stored
    scene's variant can share a graph but not an answer."""

    def __init__(self):
        import duckdb

        self.con = duckdb.connect()
        self.memo: dict = {}

    def __call__(self, variant):
        if variant.oracle not in self.memo:
            self.memo[variant.oracle] = self.con.execute(variant.oracle).df()
        return self.memo[variant.oracle]


def _graph_ops(ctx: Context, client, built: list, ops_seq, tiled: bool,
               expect_overview: bool, oracles: _Oracles, deadline,
               prefix: str) -> list:
    """POST each (variant, is_repeat) until ``deadline(ops done)`` says
    stop."""
    done = []
    for i, (v, repeat) in enumerate(ops_seq):
        if deadline(len(done)):
            break
        payload = v.payload(tiled, SCENE_TILE)
        n_built = len(built)
        resp, dt, err = _timed(
            ctx, f"{prefix}{i}",
            lambda: client.post("/graph", json=payload), kind="request")
        body = resp.get_json() if resp is not None else None
        if err is None and resp.status_code != 200:
            err = f"HTTP {resp.status_code}: {body}"[:300]
        pg = built[-1] if len(built) > n_built else None
        op = Op(v.template, dt, 0 if repeat else v.cells,
                hit=bool(body and body.get("cached")), error=err,
                extra={"overview_reads": list(pg.tiled_overview_reads)
                       if pg else [],
                       "demotions": (body or {}).get("tiled", {}).get(
                           "demotions", []),
                       "output": (body or {}).get("output")})

        def check(op=op, v=v, repeat=repeat, pg=pg):
            out = op.extra["output"]
            if out is None:
                return "output: null"
            if op.hit != repeat:
                return f"cache {'hit' if op.hit else 'miss'} on a " \
                       f"{'repeat' if repeat else 'new graph'}"
            if op.extra["demotions"]:
                return f"demoted: {op.extra['demotions']}"
            if expect_overview and v.overview and not repeat \
                    and not op.extra["overview_reads"]:
                return "no overview read"
            return graphs.check_output(out, v, oracles(v))

        op.check = check
        done.append(op)
    return done


def _deadline(ctx: Context, t0: float):
    """Stop rule for a graph phase. Traced: a fixed op count, so two
    traced runs do identical work. Untraced: the run's seconds since
    ``t0``, rounded up to whole op cycles, so each run measures the same
    mix."""
    if ctx.trace:
        return lambda n: n >= TRACE_GRAPH_OPS
    return lambda n: (n and n % graphs.CYCLE == 0
                      and time.perf_counter() - t0 >= ctx.seconds)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


# --- openeo_interactive -----------------------------------------------------

def openeo_interactive(ctx: Context) -> list:
    from openeo_odc_driver_spark.plans.catalog import COLLECTION_SPECS
    from openeo_odc_driver_spark.service import create_app

    built = _record_graphs()
    if ctx.trace:
        _trace_service(ctx.tracer)
    oracles = _Oracles()
    specs = dict(COLLECTION_SPECS)
    nostore = os.path.join(ctx.run_dir, "no-store")

    # warm-up on its own service state: one cycle (every template plus
    # repeats), from a seed stream the measured ops never use
    warm = create_app(ctx.spark, work_dir=os.path.join(ctx.run_dir, "warm"),
                      tiled_store_dir=nostore).test_client()
    warm_ops = itertools.islice(
        graphs.op_sequence(ctx.seed + 1_000_003, specs, False), graphs.CYCLE)
    warm_done = _graph_ops(ctx, warm, built, warm_ops, False, False,
                           oracles, lambda *_: False, "warm")

    client = create_app(ctx.spark,
                        work_dir=os.path.join(ctx.run_dir, "service"),
                        tiled_store_dir=nostore).test_client()
    ops_seq = graphs.op_sequence(ctx.seed, specs, False)
    t0 = ctx.begin_window()
    ops = _graph_ops(ctx, client, built, ops_seq, False, False, oracles,
                     _deadline(ctx, t0), "op")
    ctx.stats["measured_s"] = time.perf_counter() - t0
    ctx.stats["input"] = "catalog fixture scenes: 16x16 px, 24-30 steps"
    return warm_done, ops


# --- openeo_scene -------------------------------------------------------------

def scene_specs(px: int) -> dict:
    """The catalog's collections at ``px`` x ``px`` pixels (coarse twin
    at half): same grids, values and time axes, a bigger scene."""
    from openeo_odc_driver_spark.plans.catalog import COLLECTION_SPECS

    return {cid: dataclasses.replace(
        spec, ny=px // 2 if cid == "synthetic_coarse" else px,
        nx=px // 2 if cid == "synthetic_coarse" else px)
        for cid, spec in COLLECTION_SPECS.items()}


def _ingest(ctx: Context, store: str, specs: dict, prefix: str) -> list:
    """One op per collection: pack the synthetic scene into tiles and
    write it (with overview levels for the resample source)."""
    from openeo_odc_driver_spark.core import tiled
    from openeo_odc_driver_spark.sources.synthetic import synthetic_cube

    ops = []
    for cid in ("synthetic", "synthetic_coarse", "s2_l2a"):
        spec = specs[cid]
        levels = SCENE_OVERVIEWS if cid == "synthetic" else ()
        path = os.path.join(store, cid)

        def write(spec=spec, path=path, levels=levels):
            tc = tiled.to_tiled(synthetic_cube(ctx.spark, spec),
                                tile=SCENE_TILE, n_y=spec.ny, n_x=spec.nx)
            return tiled.save_tiled(tc, path, overviews=levels)

        _, dt, err = _timed(ctx, f"{prefix}{cid}", write, kind="ingest")
        cells = len(spec.bands) * spec.n_times * spec.ny * spec.nx
        op = Op(f"ingest_{cid}", dt, cells, error=err, ingest=True)

        def check(path=path, spec=spec, levels=levels):
            import json

            with open(os.path.join(path, "_tiled_meta.json")) as fh:
                meta = json.load(fh)
            if (meta["n_y"], meta["n_x"]) != (spec.ny, spec.nx):
                return f"stored dims {meta['n_y']}x{meta['n_x']}"
            if sorted(meta.get("overviews", [])) != sorted(levels):
                return f"overviews {meta.get('overviews')} != {levels}"
            return None

        op.check = check
        ops.append(op)
    return ops


def openeo_scene(ctx: Context) -> list:
    from openeo_odc_driver_spark.service import create_app

    built = _record_graphs()
    if ctx.trace:
        _trace_service(ctx.tracer)
    oracles = _Oracles()

    # warm-up: the whole write + read path once at fixture size
    warm_specs = scene_specs(16)
    warm_store = os.path.join(ctx.run_dir, "warm-store")
    warm_done = _ingest(ctx, warm_store, warm_specs, "warm-ingest-")
    warm = create_app(ctx.spark, work_dir=os.path.join(ctx.run_dir, "warm"),
                      tiled_store_dir=warm_store).test_client()
    warm_done += _graph_ops(ctx, warm, built,
               itertools.islice(graphs.op_sequence(
                   ctx.seed + 1_000_003, warm_specs, True), graphs.CYCLE),
               True, True, oracles, lambda *_: False, "warm")

    specs = scene_specs(SCENE_PX)
    store = os.path.join(ctx.run_dir, "store")
    client = create_app(ctx.spark,
                        work_dir=os.path.join(ctx.run_dir, "service"),
                        tiled_store_dir=store).test_client()
    ops_seq = graphs.op_sequence(ctx.seed, specs, True)
    t0 = ctx.begin_window()
    ops = _ingest(ctx, store, specs, "ingest-")
    ctx.stats["store_bytes"] = _dir_bytes(store)
    r0 = time.perf_counter()
    ops += _graph_ops(ctx, client, built, ops_seq, True, True, oracles,
                      _deadline(ctx, t0), "op")
    # op rates and latencies are the read phase's; the write phase has
    # its own figure (cells_per_s over the ingest ops)
    ctx.stats["measured_s"] = time.perf_counter() - r0
    ctx.stats["input"] = (f"stored scenes {SCENE_PX}x{SCENE_PX} px "
                          f"(coarse {SCENE_PX // 2}), tile {SCENE_TILE}")
    return warm_done, ops


# --- pipeline_sf01 ------------------------------------------------------------

def prepare_pipeline(ctx: Context) -> None:
    """Make the pipeline's tables with the repo's table generator
    (``scratch/gen_sf.py``: the fixture star schema's columns and value
    distributions, fixed seed): sf0.1 for the window, sf0.01 for the
    warm-up. They are read-only inputs, so they are made once per
    checkout (keyed by the generator's source) under ``.perfbench_cache``.
    Harness work, done before set-up is timed."""
    import hashlib
    import shutil
    import subprocess
    import sys

    import pyarrow.parquet as pq

    gen = os.path.join(ctx.root, "scratch", "gen_sf.py")
    with open(gen, "rb") as fh:
        key = hashlib.md5(fh.read()).hexdigest()[:12]
    cache = os.path.join(ctx.root, ".perfbench_cache", f"tables-{key}")
    if not os.path.isdir(cache):
        tmp = f"{cache}.tmp-{os.getpid()}"
        for sf in ("0.01", "0.1"):
            subprocess.run([sys.executable, gen, "--sf", sf, "--out",
                            os.path.join(tmp, f"sf{sf}")],
                           check=True, stdout=subprocess.DEVNULL)
        try:
            os.rename(tmp, cache)
        except OSError:  # made meanwhile by another run
            shutil.rmtree(tmp)
    dirs = {"warm": os.path.join(cache, "sf0.01"),
            "op": os.path.join(cache, "sf0.1")}
    ctx.stats["tables"] = dirs
    ctx.stats["rows"] = {
        t: pq.ParquetFile(os.path.join(dirs["op"], f"{t}.parquet"))
        .metadata.num_rows
        for t in sorted({t for ts in PIPELINE_QUERIES.values() for t in ts})}


class _TableOracles:
    """``registry.ORACLE`` answers per (table set, query), run by DuckDB
    on first use: after the timed window, outside the RSS sampler. An
    answer is kept beside its tables, keyed by the oracle's SQL, so later
    runs in the checkout load it instead of recomputing it."""

    def __init__(self, dirs: dict, tables):
        self.dirs, self.tables = dirs, tables

    def __call__(self, kind: str, name: str):
        import hashlib

        import duckdb
        import pandas as pd

        from openeo_odc_driver_spark.registry import ORACLE

        sql = ORACLE[name]
        path = os.path.join(
            os.path.dirname(self.dirs[kind]), "oracle",
            f"{os.path.basename(self.dirs[kind])}-{name}-"
            f"{hashlib.md5(sql.encode()).hexdigest()[:12]}.pkl")
        if not os.path.exists(path):
            con = duckdb.connect()
            for t in self.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.dirs[kind]}/{t}.parquet'")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            tmp = f"{path}.tmp-{os.getpid()}"
            con.execute(sql).df().to_pickle(tmp)
            os.replace(tmp, path)
        return pd.read_pickle(path)


def pipeline_sf01(ctx: Context) -> list:
    from openeo_odc_driver_spark.registry import QUERIES

    dirs, rows = ctx.stats["tables"], ctx.stats["rows"]
    oracles = _TableOracles(dirs, rows)
    # the tables are the same for every seed (query work depends on their
    # content, e.g. dedup cluster sizes); the seed rotates the cycle
    names = list(PIPELINE_QUERIES)
    k = ctx.seed % len(names)
    names = names[k:] + names[:k]

    def query_op(kind: str, i: int, name: str) -> Op:
        result: dict = {}

        def run():
            with ctx.tracer.span("pipeline.build"):
                df = QUERIES[name](ctx.spark, dirs[kind])
            with ctx.tracer.span("pipeline.run"):
                result["pdf"] = df.toPandas()

        _, dt, err = _timed(ctx, f"{kind}{i}-{name}", run, kind="query")
        op = Op(name, dt, sum(rows[t] for t in PIPELINE_QUERIES[name]),
                error=err)
        op.check = lambda: _compare_rows(result["pdf"], oracles(kind, name))
        return op

    # warm-up runs every query once on the sf0.01 tables (same plans, so
    # codegen and Python workers are warm); the window uses sf0.1
    warm_ops = [query_op("warm", i, n) for i, n in enumerate(names)]
    t0 = ctx.begin_window()
    ops: list = []
    cycle_s = 0.0
    # whole cycles only, so every run measures the same query mix; a new
    # cycle starts only if it should end before the deadline (traced
    # runs make exactly one)
    while not ops or (not ctx.trace and time.perf_counter() - t0 + cycle_s
                      <= ctx.seconds):
        c0 = time.perf_counter()
        ops += [query_op("op", len(ops) + i, n) for i, n in enumerate(names)]
        cycle_s = time.perf_counter() - c0
    ctx.stats["measured_s"] = time.perf_counter() - t0
    ctx.stats["input"] = "sf0.1 tables: " + ", ".join(
        f"{t} {n} rows" for t, n in rows.items())
    return warm_ops, ops


def _compare_rows(got, expect):
    """None when the Spark rows equal the DuckDB rows (any order; floats
    to 1e-9 relative, since sums of doubles depend on order)."""
    import numpy as np

    if sorted(got.columns) != sorted(expect.columns):
        return f"columns {sorted(got.columns)} != {sorted(expect.columns)}"
    if len(got) != len(expect):
        return f"rows {len(got)} != {len(expect)}"
    cols = sorted(got.columns)
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = expect[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        x, y = a[c], b[c]
        if x.dtype.kind in "fc" or y.dtype.kind in "fc":
            xv = x.to_numpy(dtype=float, na_value=np.nan)
            yv = y.to_numpy(dtype=float, na_value=np.nan)
            if not np.allclose(xv, yv, rtol=1e-9, atol=1e-12,
                               equal_nan=True):
                return f"column {c} differs"
        elif not (x.astype(str).to_numpy() == y.astype(str).to_numpy()).all():
            return f"column {c} differs"
    return None


WORKLOADS = {
    "openeo_interactive": openeo_interactive,
    "openeo_scene": openeo_scene,
    "pipeline_sf01": pipeline_sf01,
}
# harness-side input preparation, run before set-up is timed
PREPARE = {"pipeline_sf01": prepare_pipeline}
