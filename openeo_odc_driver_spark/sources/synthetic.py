"""Deterministic synthetic cubes, generated identically in Spark and DuckDB.

The driver's correctness gate compares each Spark query against DuckDB SQL
over the same fixture tables. The relational fixtures (TESTDATA.md) have no
raster cube, so cube operators are validated over cubes **constructed
deterministically inside the query** — the same construction emitted in
both dialects, verified bit-exact (scratch/parity_probe.py).

Numeric design: values are dyadic rationals (multiples of 1/8, |v| ≤ 6.125)
so sums/means over any grouping are *exact* in IEEE double regardless of
aggregation order — Spark and DuckDB then agree bit-for-bit even through
mean / variance / interpolated percentiles.

Two families:

- :func:`cube_sql` — dense grid; mirrors the reference fixture A1 in
  FIXTURES.md (3 bands × 24 months × 16×16 px, ~4% NULLs ≙ NaN nodata).
  Spark generates it from one ``range()`` with index arithmetic (a scan
  with no join, so no broadcast job per load); DuckDB from the cross
  join of one ``range()`` per axis.
- :data:`LINEITEM_CUBE_SQL` — a sparse cube *derived from the lineitem
  parquet* (scales with SF; used by the flagship NDVI query and bench).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..core.cube import ALL_DIMS, Cube, CubeSchema, GridSpec


@dataclass(frozen=True)
class CubeSpec:
    bands: tuple[str, ...] = ("B04", "B08", "SCL")
    n_times: int = 24
    ny: int = 16
    nx: int = 16
    t0: str = "2021-01-01 00:00:00"
    day_offset: int = 0  # shift all timestamps by N days (as-of join tests)
    time_unit: str = "MONTH"  # MONTH or DAY stepping of ti
    # grid geometry: x = x0 + resx*xi (ascending), y = y0 - resy*yi
    # (descending). Defaults give the 0..150 metric grid; dyadic degree
    # values give exact doubles for 4326 fixture collections.
    x0: float = 0.0
    y0: float = 150.0
    resx: float = 10.0
    resy: float = 10.0
    # value = ((b*va + ti*vb + yi*vc + xi*vd) % vm) / 8 - vs
    va: int = 7
    vb: int = 13
    vc: int = 17
    vd: int = 19
    vm: int = 97
    vs: float = 6.0
    # NULL when (b*na + ti*nb + yi*nc + xi*nd) % nm == 0
    na: int = 5
    nb: int = 11
    nc: int = 3
    nd: int = 29
    nm: int = 23


DEFAULT_SPEC = CubeSpec()
# second cube, disjoint bands, different values — merge_cubes band-concat path
SPEC_B_BANDS = CubeSpec(bands=("B11", "B12"), va=11, vb=5, vc=23, vd=3, nm=29)
# same bands, +3 day offset — resample_cube_temporal / overlap-resolver tests
SPEC_B_TIMES = CubeSpec(day_offset=3, va=3, vb=17, vc=7, vd=29, nm=31)
# same bands & times, different values — binary cube ops / overlap resolver
SPEC_C = CubeSpec(va=11, vb=5, vc=23, vd=3, nm=29)
# 1-band boolean-ish mask cube (FIXTURES.md A3): value in {0,1,NULL}
MASK_SPEC = CubeSpec(bands=("mask",), vm=2, vs=0.0, nm=17)


def _band_case(bands: tuple[str, ...], var: str = "b") -> str:
    whens = " ".join(f"WHEN {i} THEN '{lbl}'" for i, lbl in enumerate(bands))
    return f"CASE {var} {whens} END"


def _value_sql(s: CubeSpec) -> str:
    # CAST(... AS DOUBLE) in both dialects: Spark would otherwise emit
    # DECIMAL for `x / 8.0` (bigint ÷ decimal literal). The dyadic values
    # (k/8) are exact in both decimal and double, so the cast is lossless
    # and both engines agree bit-for-bit.
    val = (
        f"CAST(((b*{s.va} + ti*{s.vb} + yi*{s.vc} + xi*{s.vd}) % {s.vm})"
        f" / 8.0 - {s.vs} AS DOUBLE)"
    )
    if s.vm == 2:  # mask cube: 0/1, no /8 scaling
        val = f"CAST((b*{s.va} + ti*{s.vb} + yi*{s.vc} + xi*{s.vd}) % 2 AS DOUBLE)"
    null_cond = f"(b*{s.na} + ti*{s.nb} + yi*{s.nc} + xi*{s.nd}) % {s.nm} = 0"
    return f"CASE WHEN {null_cond} THEN NULL ELSE {val} END"


def cube_sql(spec: CubeSpec = DEFAULT_SPEC, dialect: str = "duckdb") -> str:
    """The cube as a SELECT, in either dialect. Bit-identical outputs."""
    unit = spec.time_unit.upper()
    if dialect == "spark":
        time_expr = (
            f"timestampadd(DAY, {spec.day_offset}, "
            f"timestampadd({unit}, CAST(ti AS INT), TIMESTAMP '{spec.t0}'))"
        )
        nt, ny, nx = spec.n_times, spec.ny, spec.nx
        n = len(spec.bands) * nt * ny * nx
        from_clause = (
            f"(SELECT id DIV {nt * ny * nx} AS b, "
            f"(id DIV {ny * nx}) % {nt} AS ti, (id DIV {nx}) % {ny} AS yi, "
            f"id % {nx} AS xi FROM range({n})) grid"
        )
    else:
        time_expr = (
            f"TIMESTAMP '{spec.t0}' + INTERVAL (ti) {unit}"
            f" + INTERVAL ({spec.day_offset}) DAY"
        )
        from_clause = (
            f"(SELECT unnest(range({len(spec.bands)})) AS b), "
            f"(SELECT unnest(range({spec.n_times})) AS ti), "
            f"(SELECT unnest(range({spec.ny})) AS yi), "
            f"(SELECT unnest(range({spec.nx})) AS xi)"
        )
    return (
        f"SELECT {_band_case(spec.bands)} AS band, {time_expr} AS time, "
        f"CAST({spec.y0!r} - {spec.resy!r}*yi AS DOUBLE) AS y, "
        f"CAST({spec.x0!r} + {spec.resx!r}*xi AS DOUBLE) AS x, "
        f"{_value_sql(spec)} AS value "
        f"FROM {from_clause}"
    )


def raw_dn_sql(spec: CubeSpec = DEFAULT_SPEC, dialect: str = "duckdb",
               nodata: int = 255) -> str:
    """The cube as **raw digital numbers**: integer DN in 0..vm-1 with a
    nodata sentinel where the decoded cube has NULL — the storage shape
    `load_collection` decodes via scale/offset/nodata
    (load_odc_collection.py:107-126). ``decode_scan(raw, 1/8, -vs,
    nodata)`` reproduces :func:`cube_sql` bit-exactly (k*0.125 == k/8)."""
    base = cube_sql(spec, dialect)
    dn = f"(b*{spec.va} + ti*{spec.vb} + yi*{spec.vc} + xi*{spec.vd}) % {spec.vm}"
    null_cond = f"(b*{spec.na} + ti*{spec.nb} + yi*{spec.nc} + xi*{spec.nd}) % {spec.nm} = 0"
    raw_val = f"CAST(CASE WHEN {null_cond} THEN {nodata} ELSE {dn} END AS BIGINT)"
    # swap the decoded value expression for the raw DN one
    head, _, tail = base.partition("CASE WHEN")
    _, _, rest = tail.partition(" AS value FROM ")
    return f"{head}{raw_val} AS value FROM {rest}"


def decode_scan(df: DataFrame, scale: float, offset: float, nodata: int) -> DataFrame:
    """Band decode at scan: nodata → NULL, then value*scale + offset —
    pure expressions fused into the scan stage (≙ the reference's
    per-measurement decode, load_odc_collection.py:107-126)."""
    from pyspark.sql import functions as F

    v = F.col("value")
    decoded = F.when(v == nodata, F.lit(None)).otherwise(
        v.cast("double") * F.lit(float(scale)) + F.lit(float(offset))
    )
    return df.withColumn("value", decoded)


def spec_times(spec: CubeSpec) -> tuple:
    """The exact ascending time axis implied by the spec — plan-time
    metadata (CubeSchema.time_axis) that zeroes every metadata-scale
    action downstream (merge probes, rename_labels_time distinct-count,
    fit/predict_curve min(TIME) collects)."""
    from datetime import datetime, timedelta

    t0 = datetime.fromisoformat(spec.t0)
    off = timedelta(days=spec.day_offset)
    out = []
    for i in range(spec.n_times):
        if spec.time_unit.upper() == "MONTH":
            m = t0.month - 1 + i
            t = t0.replace(year=t0.year + m // 12, month=m % 12 + 1)
        else:
            t = t0 + timedelta(days=i)
        out.append(t + off)
    return tuple(out)


def spec_time_extent(spec: CubeSpec) -> tuple:
    """Exact closed [first, last] time bound implied by the spec — the
    plan-time metadata merge_cubes uses to prove disjointness without a
    probe job (see CubeSchema.time_extent)."""
    ts = spec_times(spec)
    return (ts[0], ts[-1])


def synthetic_cube(spark: SparkSession, spec: CubeSpec = DEFAULT_SPEC) -> Cube:
    df = spark.sql(cube_sql(spec, dialect="spark"))
    schema = CubeSchema(
        dims=ALL_DIMS,
        bands=spec.bands,
        crs="EPSG:32632" if spec.resx >= 1 else "EPSG:4326",
        grid=GridSpec(x0=spec.x0, y0=spec.y0, resx=spec.resx, resy=spec.resy),
        time_extent=spec_time_extent(spec),
        time_axis=spec_times(spec),
    )
    return Cube(df, schema)


# ---------------------------------------------------------------------------
# Sparse cube derived from lineitem parquet — same SQL text runs in BOTH
# Spark and DuckDB (over a registered `lineitem` view). Scales with SF.
# ---------------------------------------------------------------------------
LINEITEM_CUBE_SQL = """
SELECT
  CASE l_linenumber % 3 WHEN 0 THEN 'B04' WHEN 1 THEN 'B08' ELSE 'SCL' END AS band,
  CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS time,
  CAST(150.0 - CAST(l_partkey % 16 AS DOUBLE) * 10.0 AS DOUBLE) AS y,
  CAST(CAST(l_suppkey % 16 AS DOUBLE) * 10.0 AS DOUBLE) AS x,
  avg(l_quantity) AS value
FROM lineitem
GROUP BY 1, 2, 3, 4
"""


def load_result(spark: SparkSession, path: str, schema: CubeSchema | None = None) -> Cube:
    """Re-load a previous job's saved result as a cube
    (openeo_odc_driver.py:1598-1609; parquet is our canonical NetCDF).
    Partition columns written by save_parquet (`_month`) are dropped —
    they are layout, not cube dimensions."""
    df = spark.read.parquet(path)
    if "_month" in df.columns:
        df = df.drop("_month")
    dims = tuple(d for d in ALL_DIMS if d in df.columns)
    bands = schema.bands if schema else ()
    if not bands and "band" in df.columns:
        bands = tuple(
            r[0] for r in df.select("band").distinct().orderBy("band").collect()
        )
    base = schema or CubeSchema(dims=dims, bands=bands)
    from dataclasses import replace

    return Cube(df.select(*dims, "value"), replace(base, dims=dims, bands=bands))


def lineitem_cube(spark: SparkSession, sf_dir: str) -> Cube:
    """Cube adapter over the lineitem fixture (parquet-scan backed).

    The parquet scan under this SQL keeps Catalyst pushdown: only the five
    referenced lineitem columns are read, and any downstream time/band
    filter prunes before the aggregate.
    """
    from .tables import load_table

    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    df = spark.sql(LINEITEM_CUBE_SQL)
    schema = CubeSchema(
        dims=ALL_DIMS,
        bands=("B04", "B08", "SCL"),
        crs="EPSG:32632",
        grid=GridSpec(x0=0.0, y0=150.0, resx=10.0, resy=10.0),
    )
    return Cube(df, schema)
