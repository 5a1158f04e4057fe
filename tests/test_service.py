"""Service layer: POST /graph with md5 cache, STAC metadata, job cancel."""

import json
import os

import pytest


@pytest.fixture(scope="module")
def client(spark, tmp_path_factory):
    from openeo_odc_driver_spark.service import create_app

    app = create_app(spark, work_dir=str(tmp_path_factory.mktemp("svc")))
    app.config["TESTING"] = True
    return app.test_client()


HERE = os.path.dirname(os.path.abspath(__file__))


def _graph():
    with open(f"{HERE}/process_graphs/ndvi_median.json") as f:
        return json.load(f)


def test_post_graph_executes_and_caches(client):
    r1 = client.post("/graph", json=_graph())
    assert r1.status_code == 200
    body1 = r1.get_json()
    assert body1["cached"] is False
    assert os.path.exists(body1["output"])

    # identical graph → md5 cache hit, no re-execution (odc_backend.py:62-85)
    r2 = client.post("/graph", json=_graph())
    body2 = r2.get_json()
    assert body2["cached"] is True
    assert body2["job_id"] != body1["job_id"]
    assert os.path.exists(body2["output"])


def test_post_bad_graph_returns_openeo_error(client):
    r = client.post("/graph", json={"process_graph": {
        "z": {"process_id": "warp_drive", "arguments": {}, "result": True}}})
    assert r.status_code == 400
    assert r.get_json()["code"] == "NotImplementedError"


def test_post_graph_rejects_path_shaped_job_ids(client, tmp_path):
    """The client id names the job directory under work_dir, so only
    [A-Za-z0-9._-]{1,64} (and not "." or "..") is accepted; anything
    else is a 400 before any directory is made or graph is run."""
    escape = tmp_path / "escaped"
    for bad in (f"../../../../../..{escape}", "../x", "a/b", ".", "..",
                "x" * 65, "sp ace", 7):
        r = client.post("/graph", json={**_graph(), "id": bad})
        assert r.status_code == 400, bad
        assert r.get_json()["code"] == "InvalidJobId"
    assert not escape.exists()


def test_collections_stac_shape(client):
    r = client.get("/collections")
    cols = {c["id"]: c for c in r.get_json()["collections"]}
    assert "s2_l2a" in cols
    dims = cols["s2_l2a"]["cube:dimensions"]
    assert dims["bands"]["values"] == ["B04", "B08"]
    assert dims["x"]["step"] == 0.0078125

    r404 = client.get("/collections/nope")
    assert r404.status_code == 404


def test_processes_discovery(client):
    r = client.get("/processes")
    ids = {p["id"] for p in r.get_json()["processes"]}
    assert {"load_collection", "reduce_dimension", "median", "mod",
            "resample_spatial"} <= ids


def test_stop_unknown_job_404(client):
    r = client.delete("/stop_job", json={"id": "ghost"})
    assert r.status_code == 404


def test_processes_lists_every_dispatched_node(client):
    """/processes names every process id ProcessGraph._dispatch runs."""
    import inspect
    import re

    from openeo_odc_driver_spark.plans.graph import ProcessGraph

    src = inspect.getsource(ProcessGraph._dispatch)
    dispatched = set(re.findall(r'pid == "([a-z_]+)"', src))
    ids = {p["id"] for p in client.get("/processes").get_json()["processes"]}
    assert dispatched and dispatched <= ids, sorted(dispatched - ids)


def test_stop_job_rejects_path_shaped_ids(client, tmp_path):
    """/stop_job applies POST /graph's id check: a path-shaped id is a
    400 before any lookup, whatever exists at the path it names."""
    (tmp_path / "x").mkdir()
    for bad in ("../x", f"../../../../../..{tmp_path}/x", "a/b", "..", 7):
        r = client.delete("/stop_job", json={"id": bad})
        assert r.status_code == 400, bad
        assert r.get_json()["code"] == "InvalidJobId"


def test_registry_endpoint_reports_verification_status(client):
    r = client.get("/registry")
    assert r.status_code == 200
    body = r.get_json()
    assert body["n_total"] >= 150
    ids = {e["id"] for e in body["queries"]}
    assert {"tpch_q1", "fit_curve_harmonic", "paragraph_dedup"} <= ids
    # every query carries an oracle since round 5
    assert all(e["oracle"] for e in body["queries"])
    # Reports merge across rounds: the driver's per-round report is a
    # rotating ~50-query window, so a query green in an OLDER round must
    # stay "verified" even when absent from the newest report
    # (CORRECTNESS_r06 does not sample tpch_q1; r05 does).
    by_id = {e["id"]: e for e in body["queries"]}
    assert by_id["tpch_q1"]["status"] == "verified"
    # per-query round provenance is reported
    assert isinstance(by_id["tpch_q1"]["round"], int)
    for e in body["queries"]:
        if e["status"] == "verified":
            assert e["round"] is not None
    # with all shipped reports merged, the only "unchecked" queries are
    # ones genuinely absent from every shipped report (i.e. registered
    # after the newest report was written) — compute that set from the
    # same files rather than hardcoding a count
    import glob as _glob
    import json as _json
    import os as _os

    here = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    sampled = set()
    for p in _glob.glob(_os.path.join(here, "CORRECTNESS_r*.json")):
        with open(p) as fh:
            sampled |= set(_json.load(fh))
    unchecked = {e["id"] for e in body["queries"] if e["status"] == "unchecked"}
    assert unchecked == ids - sampled
    # and every query any round DID sample is verified (no mismatches)
    verified = {e["id"] for e in body["queries"] if e["status"] == "verified"}
    assert verified == ids & sampled
    assert len(body["reports_merged"]) >= 2


def test_code_string_udf_denied_by_default(client, tmp_path):
    """A default app never ``exec()``s a posted code-string run_udf:
    the request answers 400 ``PermissionError`` and the code's sentinel
    file (touched at exec time and at apply time) never appears."""
    sentinel = tmp_path / "udf_ran"
    udf = (
        "import pathlib\n"
        f"pathlib.Path({str(sentinel)!r}).touch()\n"
        "def apply_datacube(df, context):\n"
        f"    pathlib.Path({str(sentinel)!r}).touch()\n"
        "    return df\n"
    )
    graph = {
        "id": "codeudf",
        "process_graph": {
            "l": {"process_id": "load_collection",
                  "arguments": {"id": "synthetic"}},
            "u": {"process_id": "run_udf",
                  "arguments": {"data": {"from_node": "l"},
                                "udf": udf, "runtime": "Python"}},
            "s": {"process_id": "save_result",
                  "arguments": {"data": {"from_node": "u"},
                                "format": "PARQUET"},
                  "result": True},
        },
    }
    r = client.post("/graph", json=graph)
    assert r.status_code == 400
    assert r.get_json()["code"] == "PermissionError"
    assert not sentinel.exists()


def test_concurrent_jobs_cancel_one_other_completes(spark, tmp_path):
    """Two graphs in flight on ONE session: /stop_job cancels the slow
    one mid-execution (cancelJobGroup, interruptOnCancel), the other
    completes, and the session stays usable — the repo's answer to the
    reference's process-per-job gunicorn isolation (gunicorn.conf.py).
    The slow job is a code-string UDF, so this app opts in to them.

    Threading note: Spark job groups are JVM-thread-local;
    pyspark.InheritableThread pins each request's Python thread to its
    own JVM thread so the two setJobGroup calls cannot clobber each
    other — the same mechanism a real multi-threaded driver must use.
    """
    import time

    from pyspark import InheritableThread

    from openeo_odc_driver_spark.service import create_app

    app = create_app(spark, work_dir=str(tmp_path / "svc"),
                     allow_code_udfs=True)
    app.config["TESTING"] = True
    client = app.test_client()
    sentinel = "/tmp/spark_graft_slow_started"
    if os.path.exists(sentinel):
        os.remove(sentinel)
    slow_udf = (
        "import pathlib, time\n"
        "def apply_datacube(df, context):\n"
        f"    pathlib.Path({sentinel!r}).touch()\n"
        "    time.sleep(20)\n"
        "    return df\n"
    )
    slow_graph = {
        "id": "slowjob",
        "process_graph": {
            "l": {"process_id": "load_collection",
                  "arguments": {"id": "synthetic"}},
            "u": {"process_id": "run_udf",
                  "arguments": {"data": {"from_node": "l"},
                                "udf": slow_udf, "runtime": "Python"}},
            "s": {"process_id": "save_result",
                  "arguments": {"data": {"from_node": "u"},
                                "format": "PARQUET"},
                  "result": True},
        },
    }
    fast_graph = {
        "id": "fastjob",
        "process_graph": {
            "l": {"process_id": "load_collection",
                  "arguments": {"id": "synthetic"}},
            "r": {"process_id": "reduce_dimension",
                  "arguments": {"data": {"from_node": "l"},
                                "dimension": "t",
                                "reducer": {"process_graph": {"m": {
                                    "process_id": "mean",
                                    "arguments": {"data": {
                                        "from_parameter": "data"}},
                                    "result": True}}}}},
            "s": {"process_id": "save_result",
                  "arguments": {"data": {"from_node": "r"},
                                "format": "PARQUET"},
                  "result": True},
        },
    }

    results = {}

    def post(name, graph):
        results[name] = client.post("/graph", json=graph)

    t_slow = InheritableThread(target=post, args=("slow", slow_graph))
    t_slow.start()
    # cancelJobGroup only cancels ACTIVE jobs -- wait until the slow
    # job's tasks are demonstrably running (UDF touches a sentinel)
    deadline = time.time() + 30
    while not os.path.exists(sentinel) and time.time() < deadline:
        time.sleep(0.1)
    assert os.path.exists(sentinel), "slow job never started tasks"
    t_fast = InheritableThread(target=post, args=("fast", fast_graph))
    t_fast.start()

    r_stop = client.delete("/stop_job", json={"id": "slowjob"})
    assert r_stop.status_code == 200
    assert r_stop.get_json() == {"stopped": "slowjob"}

    t_slow.join(timeout=15)
    t_fast.join(timeout=60)
    assert not t_slow.is_alive(), "cancelled job did not return"
    assert not t_fast.is_alive(), "concurrent job did not complete"

    # cancelled job surfaces as an openEO error shape, not a hang
    assert results["slow"].status_code == 400
    assert results["slow"].get_json()["id"] == "slowjob"
    # the untouched job completed normally on the same session
    assert results["fast"].status_code == 200
    assert results["fast"].get_json()["job_id"] == "fastjob"

    # session still healthy after the cancel: a re-post succeeds (md5
    # cache hit is fine -- the point is the service keeps serving; fresh
    # auto id so the cached artifact copies into a NEW job dir)
    again = {k: v for k, v in fast_graph.items() if k != "id"}
    r_again = client.post("/graph", json=again)
    assert r_again.status_code == 200


def test_collection_exposes_tiled_store_block(spark, tmp_path):
    """/collections/<id> carries the save_tiled store layout (tile edge,
    tile grid, scene pixels, band partitioning) when a store exists —
    and omits the block when none does (VERDICT r10 item 8)."""
    from openeo_odc_driver_spark.registry import _build_tiled_store
    from openeo_odc_driver_spark.service import create_app

    store_root = _build_tiled_store(spark, "synthetic")
    app = create_app(spark, work_dir=str(tmp_path),
                     tiled_store_dir=store_root)
    app.config["TESTING"] = True
    c = app.test_client()

    body = c.get("/collections/synthetic").get_json()
    block = body["openeo_odc:tiled_store"]
    assert block["tile"] == 8
    assert block["scene_pixels"] == [16, 16]
    assert block["tile_grid"] == [2, 2]
    assert block["partitioning"] == ["band"]
    assert set(block["bands"]) == {"B04", "B08", "SCL"}
    assert block["grid"]["resx"] == 10.0
    # overview levels surface from the sidecar (round 15); the shared
    # store may already carry levels from the tiled_store_overview gate
    # row, so assert the endpoint mirrors the sidecar after an ensure
    import json as _json

    from openeo_odc_driver_spark.core.tiled import ensure_overviews

    levels = ensure_overviews(spark, f"{store_root}/synthetic", (2,))
    assert 2 in levels
    block = c.get("/collections/synthetic").get_json()[
        "openeo_odc:tiled_store"]
    assert block["overviews"] == levels
    side = _json.load(open(f"{store_root}/synthetic/_tiled_meta.json"))
    assert side["overviews"] == levels

    # a collection without a store omits the block
    body2 = c.get("/collections/synthetic_coarse").get_json()
    assert "openeo_odc:tiled_store" not in body2


def _fit_curve_graph():
    """A graph whose fit_curve node has no tiled branch — the stable
    demotion example (per-pixel params cube; by-design long)."""
    return {"process_graph": {
        "l": {"process_id": "load_collection",
              "arguments": {"id": "synthetic"}},
        "fit": {
            "process_id": "fit_curve",
            "arguments": {
                "data": {"from_node": "l"},
                "parameters": [0, 0],
                "function": {"process_graph": {
                    "a0": {"process_id": "array_element",
                           "arguments": {"data": {"from_parameter": "parameters"},
                                         "index": 0}},
                    "a1": {"process_id": "array_element",
                           "arguments": {"data": {"from_parameter": "parameters"},
                                         "index": 1}},
                    "lin": {"process_id": "multiply",
                            "arguments": {"x": {"from_node": "a1"},
                                          "y": {"from_parameter": "x"}}},
                    "res": {"process_id": "add",
                            "arguments": {"x": {"from_node": "a0"},
                                          "y": {"from_node": "lin"}},
                            "result": True},
                }},
            },
            "result": True,
        },
    }}


def test_tiled_post_reports_demotions(client):
    """VERDICT r11 item 6: a tiled-mode POST exposes which process ids
    fell back to the long tier — and the cached replay of the same
    (graph, mode) carries the same telemetry block."""
    payload = {**_fit_curve_graph(), "tiled": True, "tile": 8}
    r1 = client.post("/graph", json=payload)
    assert r1.status_code == 200
    body1 = r1.get_json()
    assert body1["cached"] is False
    assert body1["tiled"]["tile"] == 8
    assert "fit_curve" in body1["tiled"]["demotions"]

    # long-mode run of the SAME graph: separate cache entry, no block
    r_long = client.post("/graph", json=_fit_curve_graph())
    assert r_long.get_json()["cached"] is False
    assert "tiled" not in r_long.get_json()


def test_tiled_demotion_free_graph_reports_empty(client):
    """The NDVI-median graph stays tile-native end to end — the
    telemetry block must say so (empty list, not absent)."""
    payload = {**_graph(), "tiled": True, "tile": 8}
    r = client.post("/graph", json=payload)
    assert r.status_code == 200
    body = r.get_json()
    assert body["tiled"]["demotions"] == []


def test_post_graph_rejects_non_object_body(client):
    """A JSON body that is not an object is a named 400, not a 500."""
    for body in ([1, 2], "graph", 7, None):
        r = client.post("/graph", json=body)
        assert r.status_code == 400, body
        assert r.get_json()["code"] == "InvalidBody"
    r = client.delete("/stop_job", json=[1, 2])
    assert r.status_code == 400
    assert r.get_json()["code"] == "InvalidBody"


def test_post_graph_rejects_non_integer_tile(client):
    """``tile`` must be an int: strings, null, bools and floats are a
    named 400 before anything runs."""
    for tile in ("abc", None, True, 8.0, "8"):
        r = client.post("/graph", json={**_graph(), "tiled": True,
                                         "tile": tile})
        assert r.status_code == 400, tile
        assert r.get_json()["code"] == "InvalidTile"


def test_post_graph_rejects_out_of_range_tile(client):
    """A worker allocates tile² doubles per tile: tiles outside 1..1024
    are a named 400, in either mode."""
    for tiled in (True, False):
        for tile in (0, -8, 1025, 1 << 20):
            r = client.post("/graph", json={**_graph(), "tiled": tiled,
                                             "tile": tile})
            assert r.status_code == 400, (tiled, tile)
            assert r.get_json()["code"] == "InvalidTile"


def test_tiled_cache_misses_after_store_rewrite(spark, tmp_path):
    """A tiled run reads the save_tiled store, so rewriting the store
    must miss the result cache; an unchanged store still hits."""
    from pyspark.sql import functions as F

    from openeo_odc_driver_spark.core.cube import Cube
    from openeo_odc_driver_spark.core.tiled import save_tiled, to_tiled
    from openeo_odc_driver_spark.plans.catalog import load_collection_cube
    from openeo_odc_driver_spark.service import create_app

    store = tmp_path / "store"
    cube = load_collection_cube(spark, "synthetic")

    def write(offset: float) -> None:
        shifted = Cube(cube.df.withColumn("value", F.col("value") + offset),
                       cube.schema)
        save_tiled(to_tiled(shifted, tile=8, n_y=16, n_x=16),
                   str(store / "synthetic"))

    write(0.0)
    app = create_app(spark, work_dir=str(tmp_path / "work"),
                     tiled_store_dir=str(store))
    app.config["TESTING"] = True
    c = app.test_client()
    payload = {"process_graph": {
        "l": {"process_id": "load_collection",
              "arguments": {"id": "synthetic"}},
        "m": {"process_id": "reduce_dimension",
              "arguments": {"data": {"from_node": "l"}, "dimension": "t",
                            "reducer": {"process_graph": {"r": {
                                "process_id": "max",
                                "arguments": {
                                    "data": {"from_parameter": "data"}},
                                "result": True}}}}},
        "s": {"process_id": "save_result",
              "arguments": {"data": {"from_node": "m"}, "format": "GTIFF"},
              "result": True},
    }, "tiled": True, "tile": 8}

    first = c.post("/graph", json=payload)
    assert first.status_code == 200, first.get_json()
    assert first.get_json()["cached"] is False
    assert c.post("/graph", json=payload).get_json()["cached"] is True

    write(1.0)
    after = c.post("/graph", json=payload)
    assert after.status_code == 200, after.get_json()
    assert after.get_json()["cached"] is False


def _band_math(bands: list, label: str) -> dict:
    """load ``bands``, then one band expression reading ``label``."""
    return {"process_graph": {
        "l": {"process_id": "load_collection",
              "arguments": {"id": "synthetic", "bands": bands}},
        "r": {"process_id": "reduce_dimension", "arguments": {
            "data": {"from_node": "l"}, "dimension": "bands",
            "reducer": {"process_graph": {"e": {
                "process_id": "array_element", "result": True,
                "arguments": {"data": {"from_parameter": "data"},
                              "label": label}}}}}},
        "s": {"process_id": "save_result", "result": True,
              "arguments": {"data": {"from_node": "r"},
                            "format": "PARQUET"}}}}


def test_graph_error_answers_400_with_openeo_code(client):
    """A label that is not a band of the cube is a graph error: 400 with
    the openEO code, and no Spark analysis text in the body."""
    r = client.post("/graph", json=_band_math(["B04", "B08"], "B99"))
    assert r.status_code == 400
    body = r.get_json()
    assert body["code"] == "ArrayElementNotAvailable"
    assert "B99" in body["message"] and "org.apache" not in r.get_data(
        as_text=True)


def test_engine_fault_answers_500_without_stack_frames(spark, tmp_path):
    """A failure inside a Spark task is not the graph's fault: 500
    ``Internal`` with a one-line message, no JVM frames, no Python
    traceback, no host paths."""
    from openeo_odc_driver_spark.service import create_app

    app = create_app(spark, work_dir=str(tmp_path / "svc"),
                     allow_code_udfs=True)
    udf = ("def apply_datacube(df, context):\n"
           "    raise RuntimeError('worker side failure')\n")
    r = app.test_client().post("/graph", json={"process_graph": {
        "l": {"process_id": "load_collection",
              "arguments": {"id": "synthetic"}},
        "u": {"process_id": "run_udf",
              "arguments": {"data": {"from_node": "l"}, "udf": udf,
                            "runtime": "Python"}},
        "s": {"process_id": "save_result", "result": True,
              "arguments": {"data": {"from_node": "u"},
                            "format": "PARQUET"}}}})
    assert r.status_code == 500
    body = r.get_json()
    assert body["code"] == "Internal"
    text = r.get_data(as_text=True)
    assert "\n" not in body["message"]
    for leak in ("at org.apache", "Traceback", "worker side failure",
                 str(tmp_path)):
        assert leak not in text, leak


HOSTILE = ["B04'", "B0\\4", "B`04", "B04') OR ('1'='1",
           "B04' OR band <> '", "x\\' OR TRUE OR '"]


def _saved_rows(body: dict):
    """The rows of a PARQUET artifact (no data files: no rows)."""
    import glob

    import pandas as pd

    files = glob.glob(f"{body['output']}/**/*.parquet", recursive=True)
    return pd.concat([pd.read_parquet(f) for f in files]
                     or [pd.DataFrame({"band": [], "value": []})])


@pytest.mark.parametrize("label", HOSTILE)
def test_hostile_band_labels_select_no_extra_rows(client, label):
    """Band labels carrying quotes, backslashes or backticks reach SQL
    text only as quoted literals or identifiers: through filter_bands
    and load_collection's bands they select exactly the real bands
    listed, and a band expression reading one yields NULL or a 400 —
    never extra rows."""
    only = {"process_graph": {
        "l": {"process_id": "load_collection",
              "arguments": {"id": "synthetic", "bands": [label]}},
        "s": {"process_id": "save_result", "result": True,
              "arguments": {"data": {"from_node": "l"},
                            "format": "PARQUET"}}}}
    r = client.post("/graph", json=only)
    assert r.status_code == 200, r.get_json()
    assert len(_saved_rows(r.get_json())) == 0

    mixed = {"process_graph": {
        "l": {"process_id": "load_collection",
              "arguments": {"id": "synthetic"}},
        "f": {"process_id": "filter_bands",
              "arguments": {"data": {"from_node": "l"},
                            "bands": ["SCL", label]}},
        "s": {"process_id": "save_result", "result": True,
              "arguments": {"data": {"from_node": "f"},
                            "format": "PARQUET"}}}}
    r = client.post("/graph", json=mixed)
    assert r.status_code == 200, r.get_json()
    rows = _saved_rows(r.get_json())
    assert set(rows["band"]) == {"SCL"} and len(rows) == 24 * 16 * 16

    r = client.post("/graph", json=_band_math(["B04"], label))
    assert r.status_code == 400
    assert r.get_json()["code"] == "ArrayElementNotAvailable"
    r = client.post("/graph", json=_band_math(["B04", label], label))
    assert r.status_code == 200, r.get_json()
    rows = _saved_rows(r.get_json())
    assert len(rows) == 24 * 16 * 16 and rows["value"].isna().all()


def _load_only(**load_args):
    return {"process_graph": {
        "l": {"process_id": "load_collection",
              "arguments": {"id": "synthetic", **load_args}},
        "s": {"process_id": "save_result", "result": True,
              "arguments": {"data": {"from_node": "l"},
                            "format": "PARQUET"}}}}


@pytest.mark.parametrize("tiled", [False, True])
@pytest.mark.parametrize("arg,value", [
    ("bands", 5),
    ("bands", "B04"),
    ("spatial_extent", [1, 2]),
    ("temporal_extent", ["2021-01-01"]),
])
def test_malformed_load_argument_answers_400(client, arg, value, tiled):
    """An argument of the wrong shape is the graph's fault: a named 400
    in either mode — never a 500, and a bare band string is never read
    as its characters."""
    r = client.post("/graph", json={**_load_only(**{arg: value}),
                                     "tiled": tiled})
    assert r.status_code == 400, r.get_json()
    assert r.get_json()["code"] == "ValueError"
    assert arg in r.get_json()["message"]


def _resample_graph(resolution, explicit: bool):
    """resample_pushdown.json at ``resolution``; ``explicit`` puts a
    whole-scene filter_bbox between load and resample, so the resample
    runs at its own plan position instead of folding into the scan."""
    with open(f"{HERE}/process_graphs/resample_pushdown.json") as f:
        g = json.load(f)
    pg = g["process_graph"]
    pg["coarsen"]["arguments"]["resolution"] = resolution
    if explicit:
        pg["box"] = {"process_id": "filter_bbox", "arguments": {
            "data": {"from_node": "load"},
            "extent": {"west": 0, "east": 150, "south": 0, "north": 150}}}
        pg["coarsen"]["arguments"]["data"] = {"from_node": "box"}
    return g


@pytest.mark.parametrize("tiled", [False, True])
@pytest.mark.parametrize("explicit", [False, True])
def test_resolution_pair_equals_number(spark, tmp_path, tiled, explicit):
    """openEO's array form ``[20, 20]`` regrids exactly like ``20``, at
    the scan and at an explicit plan position, in either mode."""
    import pandas as pd

    from openeo_odc_driver_spark.plans.graph import ProcessGraph

    frames = []
    for i, res in enumerate((20.0, [20, 20])):
        pg = ProcessGraph(_resample_graph(res, explicit),
                          save_dir=str(tmp_path / f"r{i}"), tiled=tiled)
        frames.append(pg.execute(spark).df.toPandas())
    cols = sorted(frames[0].columns)
    a, b = (f[cols].sort_values(cols).reset_index(drop=True)
            for f in frames)
    assert len(a) == 3 * 9 * 9
    pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_unequal_resolution_pair_answers_400(client):
    """An unequal [x, y] resolution is refused, not read as x."""
    for explicit in (False, True):
        r = client.post("/graph",
                        json=_resample_graph([20, 30], explicit))
        assert r.status_code == 400, r.get_json()
        assert r.get_json()["code"] == "ValueError"
        assert "resolution" in r.get_json()["message"]
