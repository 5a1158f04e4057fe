"""Counter pin: three benchmark ops run twice on a fixed-size session
(local[4]) must start exactly the pinned Spark jobs, stages and tasks
both times. A change to these numbers is a plan change; update the pin
together with the ledger diff that explains it.

    python3 -m pytest perfbench/test_counters.py -q -p no:cacheprovider

Run from the repository root; takes about a minute.
"""

from __future__ import annotations

import os
import random
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import eventlog  # noqa: E402
import graphs  # noqa: E402
import harness  # noqa: E402
import workloads  # noqa: E402

# op → (jobs, stages, tasks) at local[4]
PINNED = {
    "ndvi_median": (6, 6, 18),
    "masked_seasonal": (8, 8, 23),
    "tpch_q1": (3, 3, 3),
}


def test_counters_repeat_and_match_pin():
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".perfbench_test_") as d:
        log = os.path.join(d, "eventlog")
        harness.host_env(ROOT, d, log)
        ctx = workloads.Context(ROOT, d, 0, 0.0, True)
        workloads.prepare_pipeline(ctx)
        # set before the engine is imported: the session reads it once
        os.environ["SPARK_GRAFT_CPUS"] = "4"
        spark = harness.start_spark()
        try:
            from openeo_odc_driver_spark.plans.catalog import COLLECTION_SPECS
            from openeo_odc_driver_spark.registry import QUERIES
            from openeo_odc_driver_spark.service import create_app

            tracer = harness.Tracer(spark)
            rng = random.Random(0)
            specs = dict(COLLECTION_SPECS)
            variants = {t: graphs.make_variant(t, rng, specs, False)
                        for t in ("ndvi_median", "masked_seasonal")}
            for rep in range(2):
                # a fresh result cache per repetition, so both execute
                client = create_app(spark, work_dir=os.path.join(d, f"w{rep}"),
                                    tiled_store_dir=d).test_client()
                for name, v in variants.items():
                    with tracer.op_span(f"{name}#{rep}"):
                        r = client.post("/graph", json=v.payload(False, 8))
                    assert r.status_code == 200, r.get_json()
                with tracer.op_span(f"tpch_q1#{rep}"):
                    QUERIES["tpch_q1"](spark,
                                       ctx.stats["tables"]["warm"]).toPandas()
        finally:
            harness.stop_spark(spark)
        _, counters = eventlog.jobs_and_counters(eventlog.read_events(log))

    for name, pin in PINNED.items():
        got = [tuple(counters[f"{name}#{rep}"][k]
                     for k in ("jobs", "stages", "tasks")) for rep in (0, 1)]
        assert got[0] == got[1], f"{name} counters did not repeat: {got}"
        assert got[0] == pin, f"{name}: {got[0]} != pinned {pin}"
