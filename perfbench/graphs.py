"""openEO process-graph variants, their DuckDB oracles, and artifact checks.

A seeded generator varies the five ``tests/process_graphs`` templates
(temporal window, bbox, band subset; the reducer rotates with the op's
position) and attaches a ``save_result`` sink to every graph, so each
request executes. Every
variant carries a DuckDB twin computed from the same synthetic-cube SQL
the catalog uses (``sources.synthetic.cube_sql``), and every returned
artifact (parquet directory or GeoTIFF) is decoded and compared with it.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import random
import struct
from dataclasses import dataclass, field
from datetime import timedelta

import numpy as np
import pandas as pd

TEMPLATE_DIR = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tests", "process_graphs")
TEMPLATES = ("ndvi_median", "masked_seasonal", "resample_pushdown",
             "resample_overview", "resample_align")
REDUCERS = {"median": "quantile_cont({v}, 0.5)", "mean": "avg({v})",
            "min": "min({v})", "max": "max({v})"}
# variants differ in where and what, not in how much: windows, bbox
# edges and band counts are fixed, so every seed does the same work
NDVI_DAYS, MONTHS, BBOX_PX, N_BANDS = 14, 12, 12, 2
CYCLE_REPEATS = 2        # repeats per cycle: 2 of every 7 ops hit the cache
CYCLE = len(TEMPLATES) + CYCLE_REPEATS


@dataclass
class Variant:
    template: str
    graph: dict          # the process_graph body
    oracle: str          # DuckDB SQL producing the expected rows
    fmt: str             # PARQUET or GTIFF
    keys: list           # key columns of the result
    cells: int           # input cells the load reads (before filters)
    overview: bool = False   # a tiled run must serve it from an overview
    grid: dict = field(default_factory=dict)  # GTIFF geometry

    def payload(self, tiled: bool, tile: int) -> dict:
        p = {"process_graph": self.graph}
        if tiled:
            p.update(tiled=True, tile=tile)
        return p

    def key(self) -> str:
        return hashlib.md5(json.dumps(self.graph, sort_keys=True)
                           .encode()).hexdigest()


def _times(spec) -> list:
    from openeo_odc_driver_spark.sources.synthetic import spec_times

    return list(spec_times(spec))


def _window(rng: random.Random, spec, length: int):
    """A window of ``length`` whole time steps at a random start:
    [start, end) strings for the graph (end at noon of the last kept
    step, so either end convention keeps the same steps) and the SQL
    predicate selecting them."""
    ts = _times(spec)
    a = rng.randint(0, len(ts) - length)
    first, last = ts[a], ts[a + length - 1] + timedelta(hours=12)
    iso = "%Y-%m-%dT%H:%M:%SZ"
    sql = (f"time >= TIMESTAMP '{first:%Y-%m-%d %H:%M:%S}' "
           f"AND time <= TIMESTAMP '{last:%Y-%m-%d %H:%M:%S}'")
    return [first.strftime(iso), last.strftime(iso)], sql


def _bbox(rng: random.Random, spec, edge: int | None):
    """An ``edge`` x ``edge`` pixel bbox at a random position (the whole
    scene when ``edge`` is None), with half-pixel margins so its bounds
    are exact doubles; its SQL predicate and pixel window."""
    if edge is None:
        i0, i1, j0, j1 = 0, spec.ny - 1, 0, spec.nx - 1
    else:
        i0 = rng.randint(0, spec.ny - edge)
        j0 = rng.randint(0, spec.nx - edge)
        i1, j1 = i0 + edge - 1, j0 + edge - 1
    west = spec.x0 + spec.resx * j0 - spec.resx / 2
    east = spec.x0 + spec.resx * j1 + spec.resx / 2
    north = spec.y0 - spec.resy * i0 + spec.resy / 2
    south = spec.y0 - spec.resy * i1 - spec.resy / 2
    ext = {"west": west, "east": east, "south": south, "north": north}
    sql = (f"x BETWEEN {west!r} AND {east!r} "
           f"AND y BETWEEN {south!r} AND {north!r}")
    return ext, sql, (i0, i1, j0, j1)


def _cells(spec) -> int:
    return len(spec.bands) * spec.n_times * spec.ny * spec.nx


def _template(name: str) -> dict:
    """A fresh copy of ``tests/process_graphs/<name>.json``'s graph."""
    with open(os.path.join(TEMPLATE_DIR, f"{name}.json")) as fh:
        return json.load(fh)["process_graph"]


def _set_reducer(node: dict, reducer: str) -> None:
    """Point the single-node reducer of ``node`` at ``reducer``."""
    (step,) = node["arguments"]["reducer"]["process_graph"].values()
    step["process_id"] = reducer


def _snap(res: float, spec) -> str:
    """Nearest snap onto the ``res`` grid anchored at the cube origin;
    ``d`` orders the candidates of one coarse cell (ties by x, y)."""
    r, x0, y0 = float(res), float(spec.x0), float(spec.y0)
    sx = f"{x0!r} + {r!r} * floor((x - {x0!r}) / {r!r} + 0.5)"
    sy = f"{y0!r} - {r!r} * floor(({y0!r} - y) / {r!r} + 0.5)"
    return (f"SELECT band, time, y, x, value, {sx} AS sx, {sy} AS sy, "
            f"(x - ({sx})) * (x - ({sx})) + (y - ({sy})) * (y - ({sy})) "
            "AS d FROM f")


_WINNER = ("r AS (SELECT *, row_number() OVER (PARTITION BY band, time, "
           "sx, sy ORDER BY d, x, y) AS rn FROM snapped), "
           "coarse AS (SELECT band, time, sy AS y, sx AS x, value "
           "FROM r WHERE rn = 1)")


def make_variant(template: str, rng: random.Random, specs: dict,
                 whole_scene: bool, reducer: str = "median") -> Variant:
    """One randomized instance of ``template`` over ``specs`` (collection
    id → CubeSpec), reducing time with ``reducer`` where it reduces.
    ``whole_scene`` keeps every spatial extent covering the whole scene,
    as a stored tiled read needs. Only the varied arguments of the
    template file are replaced; resample_align gets a ``save_result``."""
    from openeo_odc_driver_spark.sources.synthetic import cube_sql

    syn = specs["synthetic"]
    g = _template(template)
    if template == "ndvi_median":
        s2 = specs["s2_l2a"]
        te, t_sql = _window(rng, s2, NDVI_DAYS)
        ext, b_sql, (i0, i1, j0, j1) = _bbox(
            rng, s2, None if whole_scene else BBOX_PX)
        g["load"]["arguments"].update(temporal_extent=te, spatial_extent=ext)
        _set_reducer(g["med"], reducer)
        agg = REDUCERS[reducer].format(
            v="(b08 - b04) / nullif(b08 + b04, 0.0)")
        oracle = (
            f"WITH cube AS ({cube_sql(s2)}), f AS (SELECT * FROM cube "
            f"WHERE {t_sql} AND {b_sql} AND band IN ('B04', 'B08')), "
            "wide AS (SELECT time, y, x, "
            "max(CASE WHEN band = 'B04' THEN value END) AS b04, "
            "max(CASE WHEN band = 'B08' THEN value END) AS b08 "
            "FROM f GROUP BY 1, 2, 3) "
            f"SELECT y, x, {agg} AS value FROM wide GROUP BY y, x")
        grid = {"x0": s2.x0 + s2.resx * j0, "y0": s2.y0 - s2.resy * i0,
                "resx": s2.resx, "resy": s2.resy,
                "shape": (i1 - i0 + 1, j1 - j0 + 1)}
        return Variant(template, g, oracle, "GTIFF", ["y", "x"],
                       _cells(s2), grid=grid)

    if template == "masked_seasonal":
        te, t_sql = _window(rng, syn, MONTHS)
        ext, b_sql, _ = _bbox(rng, syn, None if whole_scene else BBOX_PX)
        lim = float(rng.choice((3, 4, 5)))
        g["load"]["arguments"].update(temporal_extent=te, spatial_extent=ext)
        g["scaled"]["arguments"]["process"]["process_graph"]["c"][
            "arguments"].update(min=-lim, max=lim)
        oracle = (
            f"WITH cube AS ({cube_sql(syn)}), f AS (SELECT * FROM cube "
            f"WHERE {t_sql} AND {b_sql}), "
            "sclm AS (SELECT time, y, x, "
            "CASE WHEN (value > 4.0) IS NULL THEN NULL "
            "WHEN value > 4.0 THEN 1.0 ELSE 0.0 END AS mv "
            "FROM f WHERE band = 'SCL'), "
            "masked AS (SELECT c.band, c.time, c.y, c.x, "
            "CASE WHEN m.mv = 0 AND m.mv IS NOT NULL THEN c.value END "
            "AS value FROM f c LEFT JOIN sclm m ON c.time = m.time "
            "AND c.y = m.y AND c.x = m.x), "
            "seas AS (SELECT band, y, x, "
            "CAST(date_trunc('quarter', time) AS TIMESTAMP) AS time, "
            "avg(value) AS value FROM masked GROUP BY 1, 2, 3, 4) "
            f"SELECT band, y, x, time, least(greatest(value, {-lim!r}), "
            f"{lim!r}) AS value FROM seas")
        return Variant(template, g, oracle, "PARQUET",
                       ["band", "time", "y", "x"], _cells(syn))

    bands = sorted(rng.sample(list(syn.bands), N_BANDS))
    band_sql = ", ".join(f"'{b}'" for b in bands)
    te, t_sql = _window(rng, syn, MONTHS)
    if template in ("resample_pushdown", "resample_overview"):
        g["load"]["arguments"].update(bands=bands, temporal_extent=te)
        _set_reducer(g["med"], reducer)
        res = g["coarsen"]["arguments"]["resolution"]
        oracle = (
            f"WITH cube AS ({cube_sql(syn)}), f AS (SELECT * FROM cube "
            f"WHERE {t_sql} AND band IN ({band_sql})), "
            f"snapped AS ({_snap(res, syn)}), {_WINNER} "
            f"SELECT band, y, x, {REDUCERS[reducer].format(v='value')} "
            "AS value FROM coarse GROUP BY band, y, x")
        return Variant(template, g, oracle, "PARQUET", ["band", "y", "x"],
                       _cells(syn), overview=True)

    if template == "resample_align":
        coarse = specs["synthetic_coarse"]
        g["loadf"]["arguments"].update(bands=bands, temporal_extent=te)
        del g["align"]["result"]
        g["save"] = {"process_id": "save_result", "result": True,
                     "arguments": {"data": {"from_node": "align"},
                                   "format": "PARQUET"}}
        oracle = (
            f"WITH cube AS ({cube_sql(syn)}), "
            f"tgt AS ({cube_sql(coarse)}), f AS (SELECT * FROM cube "
            f"WHERE {t_sql} AND band IN ({band_sql})), "
            f"snapped AS ({_snap(coarse.resx, syn)}), {_WINNER}, "
            "st AS (SELECT DISTINCT time AS src_t FROM coarse), "
            "tt AS (SELECT DISTINCT time AS tgt_t FROM tgt), "
            "m AS (SELECT src_t, tgt_t FROM (SELECT src_t, tgt_t, "
            "row_number() OVER (PARTITION BY tgt_t "
            "ORDER BY abs(epoch_us(tgt_t) - epoch_us(src_t)), src_t) AS rn "
            "FROM tt CROSS JOIN st) WHERE rn = 1) "
            "SELECT s.band, m.tgt_t AS time, s.y, s.x, s.value AS value "
            "FROM coarse s JOIN m ON s.time = m.src_t")
        return Variant(template, g, oracle, "PARQUET",
                       ["band", "time", "y", "x"],
                       _cells(syn) + _cells(coarse))
    raise ValueError(f"unknown template {template!r}")


def op_sequence(seed: int, specs: dict, whole_scene: bool):
    """Endless (variant, is_repeat) ops in cycles of ``CYCLE`` ops: a new
    variant of every template, in a fixed order, then ``CYCLE_REPEATS``
    exact repeats of earlier ops (result cache hits). Every cycle has the
    same mix, so runs of whole cycles measure the same work. Reducers
    rotate over the templates and cycles, the same for every seed: their
    costs differ, so a seeded choice would change how much work a run
    of one cycle does."""
    rng = random.Random(seed)
    reducers = sorted(REDUCERS)
    fresh, seen = [], set()
    for c in itertools.count():
        for k, name in enumerate(TEMPLATES):
            red = reducers[(c + k) % len(reducers)]
            for _ in range(1000):
                v = make_variant(name, rng, specs, whole_scene, red)
                if v.key() not in seen:
                    break
            else:
                raise RuntimeError(f"no unseen {name} variant left")
            seen.add(v.key())
            fresh.append(v)
            yield v, False
        for _ in range(CYCLE_REPEATS):
            yield rng.choice(fresh), True


# --- artifact decoding --------------------------------------------------------

_TIFF_FMT = {1: "B", 2: "s", 3: "H", 4: "I", 5: "II", 11: "f", 12: "d",
             16: "Q"}
_TIFF_SZ = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 11: 4, 12: 8, 16: 8}


def read_tiff(path: str) -> np.ndarray:
    """First image of an uncompressed little-endian float32 TIFF as the
    engine's two GeoTIFF sinks write it (classic or BigTIFF; chunky
    strips from the long sink, planar tiles from the tiled sink), as
    (planes, rows, cols)."""
    with open(path, "rb") as fh:
        buf = fh.read()
    if buf[:2] != b"II":
        raise ValueError(f"{path}: not a little-endian TIFF")
    big = struct.unpack_from("<H", buf, 2)[0] == 43
    cnt, nfmt, esz, inline = ("Q", "Q", 20, 8) if big else ("I", "H", 12, 4)
    off = struct.unpack_from(f"<{cnt}", buf, 8 if big else 4)[0]
    n = struct.unpack_from(f"<{nfmt}", buf, off)[0]
    base = off + struct.calcsize(nfmt)
    tags = {}
    for i in range(n):
        e = base + i * esz
        tag, typ = struct.unpack_from("<HH", buf, e)
        count = struct.unpack_from(f"<{cnt}", buf, e + 4)[0]
        loc = e + esz - inline
        if _TIFF_SZ[typ] * count > inline:
            loc = struct.unpack_from(f"<{cnt}", buf, loc)[0]
        tags[tag] = struct.unpack_from("<" + _TIFF_FMT[typ] * count, buf,
                                       loc)
    if (tags.get(259, (1,))[0], tags.get(339, (3,))[0],
            tags.get(258, (32,))[0]) != (1, 3, 32):
        raise ValueError(f"{path}: only uncompressed float32 is decoded")
    width, height = tags[256][0], tags[257][0]
    planes = tags.get(277, (1,))[0]

    def block(o: int, nbytes: int) -> np.ndarray:
        return np.frombuffer(buf, "<f4", nbytes // 4, o)

    if 322 in tags:  # planar tiles, row-major within each plane
        tw, th = tags[322][0], tags[323][0]
        across, down = -(-width // tw), -(-height // th)
        out = np.empty((planes, down * th, across * tw), "<f4")
        for k, (o, nb) in enumerate(zip(tags[324], tags[325])):
            p, rc = divmod(k, down * across)
            r, c = divmod(rc, across)
            out[p, r * th:(r + 1) * th, c * tw:(c + 1) * tw] = \
                block(o, nb).reshape(th, tw)
        return out[:, :height, :width]
    data = np.concatenate([block(o, nb) for o, nb in zip(tags[273], tags[279])])
    return np.moveaxis(data.reshape(height, width, planes), -1, 0)


def read_artifact(path: str, variant: Variant) -> pd.DataFrame:
    """The artifact as rows (key columns + value), like the oracle."""
    if variant.fmt == "GTIFF":
        arr = read_tiff(path)[0]
        g = variant.grid
        rows, cols = np.indices(arr.shape)
        return pd.DataFrame({
            "y": (g["y0"] - g["resy"] * rows).ravel(),
            "x": (g["x0"] + g["resx"] * cols).ravel(),
            "value": arr.ravel().astype("float64"),
        })
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    # the sink partitions by "_month=..." directories, which pyarrow's
    # dataset discovery treats as hidden: read the part files directly
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"),
                             recursive=True))
    return pa.concat_tables([pq.read_table(f) for f in files]).to_pandas()


def _float32_grid(expect: pd.DataFrame, variant: Variant) -> pd.DataFrame:
    """The oracle on the GeoTIFF's full pixel window, stored as float32
    (missing pixels and NULL results are NaN in the file)."""
    g = variant.grid
    h, w = g["shape"]
    arr = np.full((h, w), np.nan)
    r = np.rint((g["y0"] - expect["y"].to_numpy(float)) / g["resy"]).astype(int)
    c = np.rint((expect["x"].to_numpy(float) - g["x0"]) / g["resx"]).astype(int)
    arr[r, c] = expect["value"].to_numpy(dtype=float, na_value=np.nan)
    rows, cols = np.indices(arr.shape)
    return pd.DataFrame({
        "y": (g["y0"] - g["resy"] * rows).ravel(),
        "x": (g["x0"] + g["resx"] * cols).ravel(),
        "value": arr.ravel().astype("float32").astype("float64"),
    })


def mismatch(got: pd.DataFrame, expect: pd.DataFrame, variant: Variant):
    """None when ``got`` equals the oracle rows, else a short reason.
    Keys compare exactly; values to 1e-9 relative (the reducers sum
    doubles in engine-specific order), NULL/NaN equal to each other."""
    if variant.fmt == "GTIFF":
        expect = _float32_grid(expect, variant)
    keys = variant.keys
    if sorted(got.columns) != sorted(keys + ["value"]):
        return f"columns {sorted(got.columns)}"
    if len(got) != len(expect):
        return f"rows {len(got)} != {len(expect)}"
    a = got.sort_values(keys).reset_index(drop=True)
    b = expect.sort_values(keys).reset_index(drop=True)
    for k in keys:
        av, bv = a[k], b[k]
        if k == "time":
            av = pd.to_datetime(av).astype("datetime64[us]")
            bv = pd.to_datetime(bv).astype("datetime64[us]")
        if not (av.to_numpy() == bv.to_numpy()).all():
            return f"key {k} differs"
    av = a["value"].to_numpy(dtype=float, na_value=np.nan)
    bv = b["value"].to_numpy(dtype=float, na_value=np.nan)
    if not np.allclose(av, bv, rtol=1e-9, atol=1e-12, equal_nan=True):
        i = int(np.argmax(~np.isclose(av, bv, rtol=1e-9, atol=1e-12,
                                      equal_nan=True)))
        return f"value row {i}: {av[i]!r} != {bv[i]!r}"
    return None


def check_output(path, variant: Variant, expect: pd.DataFrame):
    """None when the artifact at ``path`` holds the oracle's answer."""
    if not path or not os.path.exists(path):
        return f"no artifact ({path!r})"
    return mismatch(read_artifact(path, variant), expect, variant)
