"""Interleaved same-session A/B of engine legs over registry queries.

    python scratch/ab.py --queries tpch_q1,semantic_dedup_clusters \
        --legs parent,ckpt_none [--rounds 5] [--sf DIR] [--cpus N] \
        [--out ab.json]

Wall times on a shared host drift between sessions, so the only wall
comparison worth quoting runs every leg in ONE session, interleaved:
per query and round, each leg runs once (``clearCache`` + JVM
``System.gc`` before every run, noop sink), and the leg order reverses
every other round so neither leg always runs warm.

A leg is a patch function ``patch() -> undo | None``: it patches the
engine before a run and returns a callable that restores it (``None``
when it patched nothing). The first leg is the parent — usually the
built-in ``parent`` leg, the shipped code unpatched. Legs are named
from ``LEGS`` below or given as ``module:function`` (the module is
imported with ``scratch/`` and the repository root on ``sys.path``).

Also importable: ``run(spark, queries, legs, rounds, sf)`` takes
registry names or ``(name, build)`` pairs, where ``build(spark, sf)``
returns the DataFrame to time, and ``(name, patch)`` leg pairs.

Output: one ``[ab]`` line per query with each leg's median, and the
JSON ``{query: {leg: {"median", "best", "runs"}}}`` on stdout (and in
``--out``). Results of earlier A/Bs are recorded where they were
decided (PLANS.md, OPTIMIZATION_r15.md, ROADMAP.md).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]


def parent():
    """The shipped code, unpatched."""
    return None


def _checkpoint_leg(mode: str):
    def patch():
        from pyspark.sql import DataFrame

        orig = DataFrame.localCheckpoint
        DataFrame.localCheckpoint = {
            "eager": lambda self, eager=True: orig(self, eager=True),
            "none": lambda self, eager=True: self,
        }[mode]
        return lambda: setattr(DataFrame, "localCheckpoint", orig)

    return patch


LEGS = {
    "parent": parent,
    # every localCheckpoint site forced eager / removed (pure lineage)
    "ckpt_eager": _checkpoint_leg("eager"),
    "ckpt_none": _checkpoint_leg("none"),
}


def _leg(spec: str):
    if spec in LEGS:
        return spec, LEGS[spec]
    mod, _, fn = spec.partition(":")
    return spec, getattr(importlib.import_module(mod), fn)


def _query(spec):
    if isinstance(spec, tuple):
        return spec
    from openeo_odc_driver_spark.registry import QUERIES

    return spec, QUERIES[spec]


def run(spark, queries, legs, rounds: int, sf: str) -> dict:
    queries = [_query(q) for q in queries]
    legs = [_leg(lg) if isinstance(lg, str) else lg for lg in legs]
    results: dict = {}
    for name, build in queries:
        walls: dict = {leg: [] for leg, _ in legs}
        for rnd in range(rounds):
            for leg, patch in legs if rnd % 2 == 0 else legs[::-1]:
                spark.catalog.clearCache()
                spark._jvm.System.gc()
                spark.sparkContext.setJobDescription(f"ab {name} {leg} r{rnd}")
                undo = patch()
                try:
                    t0 = time.perf_counter()
                    build(spark, sf).write.format("noop").mode(
                        "overwrite").save()
                    walls[leg].append(round(time.perf_counter() - t0, 3))
                finally:
                    if undo is not None:
                        undo()
        results[name] = {
            leg: {"median": statistics.median(w), "best": min(w), "runs": w}
            for leg, w in walls.items()
        }
        print(f"[ab] {name}: " + " ".join(
            f"{leg}={statistics.median(w):.2f}" for leg, w in walls.items()),
            flush=True)
    return results


def main(argv=None) -> None:
    from openeo_odc_driver_spark.sources.tables import DEFAULT_SF_DIR

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--queries", required=True,
                    help="comma-separated registry query names")
    ap.add_argument("--legs", default="parent,ckpt_none",
                    help="comma-separated legs; the first is the parent")
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--sf", default=DEFAULT_SF_DIR)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "4"))
    ap.add_argument("--out")
    args = ap.parse_args(argv)

    from openeo_odc_driver_spark.session import get_spark

    spark = get_spark("ab", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()  # JVM warm-up
    try:
        results = run(spark, args.queries.split(","), args.legs.split(","),
                      args.rounds, args.sf)
    finally:
        spark.stop()
    print(json.dumps(results))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(results, fh, indent=1)


if __name__ == "__main__":
    main()
