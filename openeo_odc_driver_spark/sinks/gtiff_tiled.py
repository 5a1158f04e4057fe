"""Distributed tiled-GeoTIFF (COG-layout) sink from the tiled layout.

The driver-side ``sinks/save.py:save_gtiff`` collects pixels behind the
50 M-px guard — faithful to the reference, which also collects
(``openeo_odc_driver.py:1676,1717``) — but it was the one stage of the
engine that could not ride the measured 1.26 G-cell tiled path
(VERDICT r12 item 1). This writer removes the collect entirely:

- **The byte layout is plan data.** Tiles are uncompressed float32, so
  every tile is exactly ``T²·4·1`` bytes and every TileOffset is a
  static function of its (plane, tile_row, tile_col) index — no
  byte-count gather, no staging pass, no shuffle.
- **The driver writes only metadata**: TIFF header + one IFD (+ GeoTIFF
  tags), then truncates the file to its final size. O(tile-count)
  driver memory, zero pixel bytes through the driver.
- **Executors write pixels in place**: ``foreachPartition`` converts
  each tile row's packed array to ``<f4`` and ``os.pwrite``\\ s it at
  its precomputed offset. Tiles never overlap (one row per
  (band, tile) by layout contract), so concurrent writers need no
  coordination. On this box that is a shared local filesystem; on a
  real cluster the same plan targets any shared POSIX mount —
  object-store deployment would swap pwrite for a multipart-upload
  part per aligned range (documented non-goal here: no object store in
  the container).
- **COG layout**: IFD first, tile data after, tiles row-major within
  each sample plane (PlanarConfiguration=2 for multi-band) — a valid
  cloud-optimized layout for uncompressed data. Scenes whose pixel
  data would cross the classic 4 GiB offset ceiling switch to BigTIFF
  (version 43, 8-byte offsets) automatically.

TIFF requires tile edges to be multiples of 16; cubes stored on another
edge are adapted through :func:`core.tiled.retile` (one exchange of the
cube — still no driver pixels).

NaN is the nodata representation (the tiled layout's NULL cells and the
padding of partial edge tiles encode as float32 NaN). A scene with
MISSING tiles (sparse cube) pre-fills the pixel region with NaN
driver-side in bounded streaming chunks before the distributed pass —
detected with one ``count()``, skipped for dense scenes.
"""

from __future__ import annotations

import os
import struct

import numpy as np

from ..core.cube import BAND, TIME

_T_SHORT, _T_LONG, _T_DOUBLE, _T_LONG8 = 3, 4, 12, 16
_SZ = {_T_SHORT: 2, _T_LONG: 4, _T_DOUBLE: 8, _T_LONG8: 8}
_FMT = {_T_SHORT: "H", _T_LONG: "I", _T_DOUBLE: "d", _T_LONG8: "Q"}

_MODEL_PIXEL_SCALE = 33550
_MODEL_TIEPOINT = 33922
_GEO_KEY_DIRECTORY = 34735

_CLASSIC_LIMIT = 2**32 - 2**16  # leave slack under the 4 GiB offset ceiling


def _geo_payloads(grid, crs: str):
    crs = str(crs or "")
    projected = not crs.endswith("4326")
    try:
        epsg = int(crs.rsplit(":", 1)[-1])
    except ValueError:
        epsg = 0
    geo_keys = [
        1, 1, 0, 2,
        1024, 0, 1, (1 if projected else 2),
        (3072 if projected else 2048), 0, 1, epsg,
    ]
    scale = [float(grid.resx), float(grid.resy), 0.0]
    # grid (x0, y0) is the first pixel CENTER; GeoTIFF anchors the
    # upper-left pixel CORNER (same convention as sinks/save.py)
    tie = [0.0, 0.0, 0.0,
           float(grid.x0) - grid.resx / 2, float(grid.y0) + grid.resy / 2,
           0.0]
    return geo_keys, scale, tie


def _level_tags(w, h, tile, planes, grid, crs, counts, reduced, big):
    """Tag list for one IFD (main image or a reduced-resolution
    overview level — the COG structure: overview IFDs chain after the
    main IFD with NewSubfileType=1). Offsets (324) are patched at
    serialization time."""
    tiles_x = -(-w // tile)
    tiles_y = -(-h // tile)
    ntiles = planes * tiles_y * tiles_x
    tile_bytes = tile * tile * 4  # float32, one sample per plane tile
    geo_keys, scale_vals, tie_vals = _geo_payloads(grid, crs)
    off_t = _T_LONG8 if big else _T_LONG
    tags = [
        (256, _T_LONG, 1, [w]),
        (257, _T_LONG, 1, [h]),
        (258, _T_SHORT, planes, [32] * planes),
        (259, _T_SHORT, 1, [1 if counts is None else 8]),  # none / DEFLATE
        (262, _T_SHORT, 1, [1]),                    # minisblack
        (277, _T_SHORT, 1, [planes]),
        (284, _T_SHORT, 1, [2 if planes > 1 else 1]),  # planar for multi-band
        (322, _T_LONG, 1, [tile]),                  # TileWidth
        (323, _T_LONG, 1, [tile]),                  # TileLength
        (324, off_t, ntiles, None),                 # TileOffsets (patched)
        (325, _T_LONG, ntiles,
         [tile_bytes] * ntiles if counts is None else list(counts)),
        (339, _T_SHORT, planes, [3] * planes),      # IEEE float
        (_MODEL_PIXEL_SCALE, _T_DOUBLE, 3, scale_vals),
        (_MODEL_TIEPOINT, _T_DOUBLE, 6, tie_vals),
        (_GEO_KEY_DIRECTORY, _T_SHORT, len(geo_keys), geo_keys),
    ]
    if reduced:
        tags.append((254, _T_LONG, 1, [1]))  # NewSubfileType: ReducedImage
    tags.sort(key=lambda e: e[0])
    return tags, ntiles, tile_bytes


def _build_headers(
    levels, force_bigtiff: bool = False
) -> tuple[bytes, list]:
    """TIFF header with a CHAINED IFD per level (COG layout: all IFDs
    before any pixel data; overview IFDs carry NewSubfileType=1 and
    their own geo tags, so each level is self-describing). ``levels``
    is a list of dicts ``{w, h, tile, planes, grid, crs, counts}``;
    the first is the full-resolution image, the rest reduced levels.

    Returns ``(header_bytes, per_level)`` where each per_level entry is
    ``(data_start, tile_bytes)`` for uncompressed levels (static
    offsets — executors pwrite with no coordination) or
    ``(data_start, offsets_list)`` when that level has explicit
    ``counts`` (DEFLATE prefix sums)."""
    specs = []
    data_bytes_total = 0
    est_ntiles = 0
    for lv in levels:
        tiles_x = -(-lv["w"] // lv["tile"])
        tiles_y = -(-lv["h"] // lv["tile"])
        ntiles = lv["planes"] * tiles_y * tiles_x
        tb = lv["tile"] * lv["tile"] * 4
        data_bytes_total += (
            ntiles * tb if lv.get("counts") is None
            else sum(lv["counts"])
        )
        est_ntiles += ntiles
    classic_est = (8 + len(levels) * (2 + 18 * 12 + 4) + 4096
                   + est_ntiles * 8 + data_bytes_total)
    big = bool(force_bigtiff) or classic_est > _CLASSIC_LIMIT

    for i, lv in enumerate(levels):
        tags, ntiles, tile_bytes = _level_tags(
            lv["w"], lv["h"], lv["tile"], lv["planes"], lv["grid"],
            lv["crs"], lv.get("counts"), reduced=(i > 0), big=big,
        )
        specs.append({"tags": tags, "ntiles": ntiles,
                      "tile_bytes": tile_bytes,
                      "counts": lv.get("counts")})

    if big:
        entry_sz, inline, cnt_fmt = 20, 8, "Q"
        first_ifd = 16
        ifd_size = lambda n: 8 + n * entry_sz + 8  # noqa: E731
    else:
        entry_sz, inline, cnt_fmt = 12, 4, "I"
        first_ifd = 8
        ifd_size = lambda n: 2 + n * entry_sz + 4  # noqa: E731

    # pass 1: fix IFD offsets (sequential), size the shared overflow
    ifd_offs = []
    off = first_ifd
    for sp in specs:
        ifd_offs.append(off)
        off += ifd_size(len(sp["tags"]))
    overflow_off = off
    overflow_size = sum(
        _SZ[typ] * count
        for sp in specs
        for tag, typ, count, vals in sp["tags"]
        if _SZ[typ] * count > inline
    )
    data_start0 = overflow_off + overflow_size
    data_start0 += (-data_start0) % 16  # align tile data

    # pass 2: per-level data regions (sequential, 16-aligned) + offsets
    per_level = []
    acc = data_start0
    for sp in specs:
        acc += (-acc) % 16
        sp["data_start"] = acc
        if sp["counts"] is None:
            sp["offsets"] = [acc + i * sp["tile_bytes"]
                             for i in range(sp["ntiles"])]
            per_level.append((acc, sp["tile_bytes"]))
            acc += sp["ntiles"] * sp["tile_bytes"]
        else:
            offs = []
            for c in sp["counts"]:
                offs.append(acc)
                acc += c
            sp["offsets"] = offs
            per_level.append((sp["data_start"], offs))

    # pass 3: serialize IFD chain + overflow
    overflow = bytearray()
    ifds = bytearray()
    for i, sp in enumerate(specs):
        entries = b""
        for tag, typ, count, vals in sp["tags"]:
            if tag == 324:
                vals = sp["offsets"]
            payload = struct.pack(f"<{count}{_FMT[typ]}", *vals)
            size = _SZ[typ] * count
            if size > inline:
                loc = struct.pack(f"<{cnt_fmt}",
                                  overflow_off + len(overflow))
                overflow.extend(payload)
            else:
                loc = payload.ljust(inline, b"\0")
            entries += struct.pack(f"<HH{cnt_fmt}", tag, typ, count) + loc
        nxt = ifd_offs[i + 1] if i + 1 < len(specs) else 0
        n = len(sp["tags"])
        if big:
            ifds += struct.pack("<Q", n) + entries + struct.pack("<Q", nxt)
        else:
            ifds += struct.pack("<H", n) + entries + struct.pack("<I", nxt)

    out = bytearray()
    if big:
        out += struct.pack("<2sHHHQ", b"II", 43, 8, 0, first_ifd)
    else:
        out += struct.pack("<2sHI", b"II", 42, first_ifd)
    out += bytes(ifds)
    out += bytes(overflow)
    out += b"\0" * (specs[0]["data_start"] - len(out))
    return bytes(out), per_level


def _build_header(
    w: int, h: int, tile: int, planes: int, grid, crs: str,
    force_bigtiff: bool = False, counts=None,
) -> tuple[bytes, int, object]:
    """Single-IFD convenience wrapper over :func:`_build_headers` —
    the DEFLATE path and single-level writes use it unchanged. With
    ``counts=None`` (uncompressed) returns ``(header, data_start,
    tile_bytes)``; with counts (DEFLATE) returns
    ``(header, data_start, offsets_list)``."""
    header, per_level = _build_headers(
        [{"w": w, "h": h, "tile": tile, "planes": planes,
          "grid": grid, "crs": crs, "counts": counts}],
        force_bigtiff,
    )
    data_start, payload = per_level[0]
    return header, data_start, payload


def save_gtiff_tiled(
    tc, path: str, force_bigtiff: bool = False, compress: str | None = None,
    overviews: tuple = (),
) -> str:
    """Write a TiledCube as a tiled GeoTIFF WITHOUT collecting pixels.

    ``compress=None`` (default): driver writes header + IFD with
    STATIC offsets, executors ``pwrite`` raw float32 tiles in place —
    one pass, zero staging, zero shuffle.

    ``compress="deflate"``: the standard COG codec. Tile sizes become
    data-dependent, so the plan gains one bounded gather: executors
    zlib-compress their tiles into per-partition STAGING blobs and
    return only the (tile index, part, offset, nbytes) INDEX rows —
    the driver collects that index (one small row per tile, never
    pixels), lays out the IFD from the gathered byte counts, and
    streams the staged blobs into final position (driver IO is
    O(file), driver memory O(tile)). Missing tiles of a sparse scene
    each get a tiny compressed all-NaN blob (~a few hundred bytes).
    On an object store the stream-concat becomes a multipart compose —
    same shape.

    Multi-band cubes write planar (PlanarConfiguration=2), one sample
    plane per band in ``schema.bands`` order. Time must already be
    reduced/squeezed (same contract as the driver-side GTiff sink's
    squeeze rules).

    ``overviews`` (round 15): integer reduction factors written as
    CHAINED reduced-resolution IFDs (NewSubfileType=1) — the structure
    that makes a COG cloud-optimized, and what the reference's
    ODC/GDAL loader reads for coarse requests. Each level is the
    engine's own nearest covering-downscale snap of the full cube
    (``core.tiled._build_overview``) written through the same
    executor-pwrite path; levels that the snap cannot express are
    skipped. Works with both codecs — uncompressed (static offsets)
    and DEFLATE (per-level count gathers feed one multi-IFD header;
    a single executor copy pass assembles every level)."""
    if compress not in (None, "deflate"):
        raise ValueError(f"unsupported compression {compress!r}")
    from ..core.tiled import TiledCube, retile

    if not isinstance(tc, TiledCube):
        raise TypeError("save_gtiff_tiled needs a TiledCube "
                        "(use sinks.save.save_gtiff for long cubes)")
    if TIME in tc.schema.dims:
        raise ValueError(
            "GTiff supports at most 3 dimensions: reduce time first "
            "(openeo_odc_driver.py:1693-1703 squeeze rules)"
        )
    grid = tc.schema.grid
    if grid is None:
        raise ValueError("save_gtiff_tiled needs a GridSpec")
    if tc.tile % 16:
        # TIFF tiles must be multiples of 16 — adapt the layout with one
        # exchange (still zero driver pixels)
        tc = retile(tc, 16 if tc.tile <= 16 else 256)

    T, h, w = tc.tile, tc.n_y, tc.n_x
    has_band = BAND in tc.schema.dims
    if not has_band and BAND in tc.df.columns:
        # a band column without a band dim would silently collapse all
        # bands onto the same tile offsets — refuse the ambiguity
        raise ValueError(
            "TiledCube carries a band column but its schema has no band "
            "dim; fix the handle before writing"
        )
    bands = list(tc.schema.bands) if has_band else []
    planes = max(len(bands), 1)
    tiles_x = -(-w // T)
    tiles_y = -(-h // T)
    per_plane = tiles_y * tiles_x

    out = path if path.endswith(".tif") else path + ".tif"
    if compress == "deflate":
        _out, built = _save_deflate(
            tc, out, w, h, T, planes, per_plane, tiles_x, grid,
            force_bigtiff, overviews=overviews,
        )
        _write_sidecar(out, bands, w, h, grid, tc.schema.crs,
                       overviews=built)
        return out
    # overview levels: the engine's own covering-downscale snap of the
    # full cube; skip any factor the snap can't express
    from ..core.tiled import _build_overview

    level_cubes = [(None, tc)]
    for k in sorted(set(int(k) for k in overviews)):
        ov = _build_overview(tc, k)
        if ov is not None:
            level_cubes.append((k, ov))

    level_specs = [
        {"w": lc.n_x, "h": lc.n_y, "tile": lc.tile, "planes": planes,
         "grid": lc.schema.grid, "crs": lc.schema.crs}
        for _k, lc in level_cubes
    ]
    header, per_level = _build_headers(level_specs, force_bigtiff)
    last_start, last_tb = per_level[-1]
    lv_last = level_specs[-1]
    last_tiles = (planes * (-(-lv_last["h"] // lv_last["tile"]))
                  * (-(-lv_last["w"] // lv_last["tile"])))
    total = last_start + last_tiles * last_tb
    with open(out, "wb") as f:
        f.write(header)
        f.truncate(total)

    for (lv_k, lv_tc), spec, (data_start, tile_bytes) in zip(
        level_cubes, level_specs, per_level
    ):
        lv_T = lv_tc.tile
        lv_tiles_x = -(-lv_tc.n_x // lv_T)
        lv_tiles_y = -(-lv_tc.n_y // lv_T)
        lv_per_plane = lv_tiles_x * lv_tiles_y

        n_rows = lv_tc.df.count()
        if n_rows < planes * lv_per_plane:
            # sparse scene: missing tiles must read as nodata, not
            # zeros — stream the NaN pattern in bounded chunks
            nan_chunk = np.full(1 << 20, np.nan,
                                dtype="<f4").tobytes()  # 4 MiB
            remaining = planes * lv_per_plane * tile_bytes
            with open(out, "r+b") as f:
                f.seek(data_start)
                while remaining > 0:
                    f.write(nan_chunk[: min(len(nan_chunk), remaining)])
                    remaining -= len(nan_chunk)

        plane_of = {b: i for i, b in enumerate(bands)}
        T2 = lv_T * lv_T
        _ds, _tb, _ppp, _tx = data_start, tile_bytes, lv_per_plane, \
            lv_tiles_x

        def write_batches(batches, _ds=_ds, _tb=_tb, _ppp=_ppp,
                          _tx=_tx, _T2=T2, _plane_of=plane_of):
            # Arrow batch transfer: array<double> NULL elements arrive
            # as float64 NaN — exactly the nodata encoding — so the hot
            # loop is one astype + one pwrite per TILE, no per-element
            # Python.
            import os as _os

            import numpy as _np
            import pandas as _pd

            fd = _os.open(out, _os.O_WRONLY)
            wrote = 0
            try:
                for pdf in batches:
                    if _plane_of:
                        planes_col = pdf[BAND].map(
                            _plane_of).to_numpy("int64")
                    else:
                        planes_col = _np.zeros(len(pdf), dtype="int64")
                    gidx = (planes_col * _ppp
                            + pdf["tile_row"].to_numpy("int64") * _tx
                            + pdf["tile_col"].to_numpy("int64"))
                    for i in range(len(pdf)):
                        a = _np.asarray(pdf["data"].iloc[i],
                                        dtype="float64")
                        if a.size != _T2:
                            raise ValueError(
                                f"tile array has {a.size} cells, "
                                f"expected {_T2}"
                            )
                        _os.pwrite(fd, a.astype("<f4").tobytes(),
                                   _ds + int(gidx[i]) * _tb)
                    wrote += len(pdf)
            finally:
                _os.close(fd)
            yield _pd.DataFrame({"n": [wrote]})

        cols = ([BAND] if has_band else []) + ["tile_row", "tile_col",
                                               "data"]
        written = (
            lv_tc.df.select(*cols)
            .mapInPandas(write_batches, "n long")
            .agg({"n": "sum"})
            .collect()[0][0]
        )
        if written != n_rows:
            raise RuntimeError(
                f"distributed GTiff write dropped tiles "
                f"(level {lv_k or 'base'}): {written}/{n_rows}"
            )
    _write_sidecar(out, bands, w, h, grid, tc.schema.crs,
                   overviews=[k for k, _ in level_cubes[1:]])
    return out


def _write_sidecar(out: str, bands, w: int, h: int, grid, crs,
                   overviews=None) -> None:
    """The same ``<path>.json`` metadata sidecar the driver-side sink
    writes (sinks/save.py save_gtiff) — band labels + full axis centers
    + CRS — so tiled-path artifacts keep metadata parity and
    :func:`load_gtiff_tiled` round-trips real band names instead of
    inventing ``b1..bn`` (ADVICE r13, low). Axis lists are O(w + h)
    floats — bounded driver IO even at gigacell scenes."""
    import json

    base = out[:-4] if out.endswith(".tif") else out
    meta = {
        "bands": [str(b) for b in bands] if bands else ["value"],
        "ys": [grid.y0 - i * grid.resy for i in range(h)],
        "xs": [grid.x0 + i * grid.resx for i in range(w)],
        "crs": crs,
    }
    if overviews:
        meta["overviews"] = list(overviews)
    with open(base + ".json", "w") as f:
        json.dump(meta, f)


def _save_deflate(
    tc, out: str, w: int, h: int, T: int, planes: int, per_plane: int,
    tiles_x: int, grid, force_bigtiff: bool, overviews: tuple = (),
) -> str:
    """The compressed (COG-standard DEFLATE) write path — see
    :func:`save_gtiff_tiled`. One bounded index gather per level, zero
    pixel bytes through the driver. With ``overviews`` the output is a
    full COG: every level compresses and stages in parallel, ONE
    multi-IFD header lays out every level's offsets from the gathered
    counts, and a SINGLE executor copy pass pwrites all levels' staged
    blobs at their global destinations."""
    import shutil
    import uuid
    import zlib

    import pandas as pd

    from ..core.tiled import _build_overview

    bands = list(tc.schema.bands) if BAND in tc.schema.dims else []
    plane_of = {b: i for i, b in enumerate(bands)}
    stage = out + ".stage"
    os.makedirs(stage, exist_ok=True)

    level_cubes = [(None, tc)]
    for k in sorted(set(int(k) for k in overviews)):
        ov = _build_overview(tc, k)
        if ov is not None:
            level_cubes.append((k, ov))

    def compress_level(lc):
        lv_T = lc.tile
        lv_tiles_x = -(-lc.n_x // lv_T)
        lv_per_plane = lv_tiles_x * (-(-lc.n_y // lv_T))
        lv_T2 = lv_T * lv_T

        def compress_batches(batches, _pp=lv_per_plane, _tx=lv_tiles_x,
                             _T2=lv_T2, _plane_of=plane_of):
            part = f"part-{uuid.uuid4().hex}.bin"
            fh, off, rows = None, 0, []
            try:
                for pdf in batches:
                    for i in range(len(pdf)):
                        plane = (_plane_of[pdf[BAND].iloc[i]]
                                 if _plane_of else 0)
                        gidx = (plane * _pp
                                + int(pdf["tile_row"].iloc[i]) * _tx
                                + int(pdf["tile_col"].iloc[i]))
                        a = np.asarray(pdf["data"].iloc[i],
                                       dtype="float64")
                        if a.size != _T2:
                            raise ValueError(
                                f"tile array has {a.size} cells, "
                                f"expected {_T2}"
                            )
                        blob = zlib.compress(a.astype("<f4").tobytes(), 6)
                        if fh is None:
                            fh = open(os.path.join(stage, part), "wb")
                        fh.write(blob)
                        rows.append((gidx, part, off, len(blob)))
                        off += len(blob)
            finally:
                if fh is not None:
                    fh.close()
            yield pd.DataFrame(
                rows, columns=["gidx", "part", "off", "nbytes"]
            )

        cols = ([BAND] if plane_of else []) + ["tile_row", "tile_col",
                                               "data"]
        index = (
            lc.df.select(*cols)
            .mapInPandas(compress_batches,
                         "gidx long, part string, off long, nbytes long")
            .collect()  # bounded: ONE small row per tile, never pixels
        )
        bymap = {int(r["gidx"]): (r["part"], int(r["off"]),
                                  int(r["nbytes"]))
                 for r in index}
        if len(bymap) != len(index):
            raise RuntimeError(
                "duplicate tile indices in the deflate index"
            )
        ntiles = planes * lv_per_plane
        nan_blob = (
            zlib.compress(np.full(lv_T2, np.nan,
                                  dtype="<f4").tobytes(), 6)
            if len(bymap) < ntiles else b""
        )
        counts = [bymap[g][2] if g in bymap else len(nan_blob)
                  for g in range(ntiles)]
        return bymap, counts, nan_blob, ntiles

    per_level_data = [compress_level(lc) for _k, lc in level_cubes]
    level_specs = [
        {"w": lc.n_x, "h": lc.n_y, "tile": lc.tile, "planes": planes,
         "grid": lc.schema.grid, "crs": lc.schema.crs, "counts": cnts}
        for (_k, lc), (_bm, cnts, _nb, _nt) in zip(level_cubes,
                                                   per_level_data)
    ]
    header, per_level = _build_headers(level_specs, force_bigtiff)
    # PARALLEL assembly (round 14 — VERDICT r13 item 2): the gathered
    # byte counts fix every tile's final offset driver-side, so the
    # driver writes only header + the tiny NaN blobs of missing tiles;
    # EXECUTORS pwrite their own staged blobs at those offsets — no
    # serial driver stream-copy, total compressed bytes never flow
    # through one process (matching the uncompressed path's flat-RSS
    # property; on an object store this step is a multipart compose).
    last_start, last_offsets = per_level[-1]
    total = last_offsets[-1] + per_level_data[-1][1][-1] \
        if per_level_data[-1][1] else last_start
    try:
        with open(out, "wb") as f:
            f.write(header)
            f.truncate(total)
            for (bymap, counts, nan_blob, ntiles), (ds, offsets) in zip(
                per_level_data, per_level
            ):
                for g in range(ntiles):
                    if g not in bymap:
                        f.seek(offsets[g])
                        f.write(nan_blob)
        rows = [
            (part, off, nb, int(offsets[g]))
            for (bymap, _c, _nb, _nt), (_ds, offsets) in zip(
                per_level_data, per_level
            )
            for g, (part, off, nb) in bymap.items()
        ]
        if rows:
            spark = tc.df.sparkSession
            idx_df = spark.createDataFrame(
                pd.DataFrame(rows,
                             columns=["part", "off", "nbytes", "dst"])
            )
            nparts = max(1, min(len({r[0] for r in rows}), 64))

            def copy_batches(batches):
                import os as _os

                import pandas as _pd

                fd = _os.open(out, _os.O_WRONLY)
                handles: dict = {}
                n = 0
                try:
                    for pdf in batches:
                        for part, off, nb, dst in pdf[
                            ["part", "off", "nbytes", "dst"]
                        ].itertuples(index=False, name=None):
                            fh = handles.get(part)
                            if fh is None:
                                fh = handles[part] = open(
                                    os.path.join(stage, part), "rb"
                                )
                            fh.seek(int(off))
                            _os.pwrite(fd, fh.read(int(nb)), int(dst))
                            n += 1
                finally:
                    _os.close(fd)
                    for fh in handles.values():
                        fh.close()
                yield _pd.DataFrame({"n": [n]})

            copied = (
                idx_df.repartition(nparts, "part")
                .sortWithinPartitions("part", "off")  # sequential reads
                .mapInPandas(copy_batches, "n long")
                .agg({"n": "sum"})
                .collect()[0][0]
            )
            if copied != len(rows):
                raise RuntimeError(
                    f"deflate assembly dropped tiles: {copied}/{len(rows)}"
                )
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return out, [k for k, _ in level_cubes[1:]]


def _parse_ifd_chain(head: bytes) -> tuple[list, bool]:
    """Parse EVERY IFD in the chain (classic or BigTIFF) from the
    file's leading bytes — the main image plus any reduced-resolution
    overview IFDs (COG layout puts the whole chain before pixel data).
    Raises IndexError/struct.error if a referenced payload lies beyond
    ``head`` — callers grow the window and retry."""
    assert head[:2] == b"II", "not little-endian TIFF"
    (version,) = struct.unpack_from("<H", head, 2)
    if version == 43:
        (ifd_off,) = struct.unpack_from("<Q", head, 8)
        entry_sz, inline, cnt_fmt, n_fmt, n_sz = 20, 8, "Q", "Q", 8
    else:
        assert version == 42, f"unknown TIFF version {version}"
        (ifd_off,) = struct.unpack_from("<I", head, 4)
        entry_sz, inline, cnt_fmt, n_fmt, n_sz = 12, 4, "I", "H", 2
    chain = []
    while ifd_off:
        (n,) = struct.unpack_from(f"<{n_fmt}", head, ifd_off)
        base = ifd_off + n_sz
        tags = {}
        for i in range(int(n)):
            tag, typ = struct.unpack_from("<HH", head,
                                          base + i * entry_sz)
            (count,) = struct.unpack_from(f"<{cnt_fmt}", head,
                                          base + i * entry_sz + 4)
            loc = base + i * entry_sz + entry_sz - inline
            size = _SZ[typ] * count
            if size > inline:
                (off,) = struct.unpack_from(f"<{cnt_fmt}", head, loc)
                if off + size > len(head):
                    raise IndexError("tag payload beyond header window")
                buf = head[off: off + size]
            else:
                buf = head[loc: loc + size]
            tags[tag] = list(struct.unpack(f"<{count}{_FMT[typ]}", buf))
        chain.append(tags)
        (ifd_off,) = struct.unpack_from(f"<{cnt_fmt}", head,
                                        base + int(n) * entry_sz)
    return chain, version == 43


def _parse_tags(head: bytes) -> tuple[dict, bool]:
    """First (main-image) IFD only — the historical interface."""
    chain, big = _parse_ifd_chain(head)
    return chain[0], big


def _read_ifd_chain(path: str) -> tuple[list, bool]:
    """Every IFD's tag directory without loading the pixel region:
    read a growing head window until every referenced payload fits
    (our writer puts all metadata before the data region; 4 MiB covers
    ~250k tiles)."""
    size = os.path.getsize(path)
    window = 1 << 22
    with open(path, "rb") as f:
        while True:
            f.seek(0)
            head = f.read(min(window, size))
            try:
                return _parse_ifd_chain(head)
            except (IndexError, struct.error):
                if window >= size:
                    raise
                window *= 4


def _read_tags(path: str) -> tuple[dict, bool]:
    chain, big = _read_ifd_chain(path)
    return chain[0], big


def load_gtiff_tiled(spark, path: str, bands=None, level=None):
    """Distributed GeoTIFF SOURCE — the sink's symmetric half: executors
    ``pread`` their tiles straight out of a tiled (Big)TIFF written by
    :func:`save_gtiff_tiled` (or any uncompressed float32 tiled TIFF
    with planar multi-band layout), yielding a TiledCube with zero
    driver pixel bytes and zero shuffle. Tile offsets come from the
    tag directory (a bounded driver read); a ``spark.range`` over the
    global tile index fans the preads across executors.

    float32 NaN (the format's nodata) folds to NULL array elements —
    the tiled boundary convention (:func:`core.tiled.to_tiled`).
    ``bands`` names the planes (default ``b1..bn``); grid geometry and
    CRS come from ModelPixelScale/ModelTiepoint/GeoKeyDirectory.

    ``level`` (round 15): an integer reduction factor selects the
    matching reduced-resolution IFD from the COG overview chain (the
    level whose width is the main width decimated by that factor —
    self-describing, no sidecar needed); None reads the full-res
    image as before."""
    import pandas as pd

    from ..core.cube import CubeSchema, GridSpec
    from ..core.tiled import TiledCube, _tile_list

    chain, big = _read_ifd_chain(path)
    tags = chain[0]
    if level is not None:
        # select by resolution: the level's ModelPixelScale is exactly
        # main_scale * k (the same float product the writer computed),
        # so the match is bit-exact and self-describing
        main_scale = chain[0].get(_MODEL_PIXEL_SCALE, [1.0])[0]
        want = main_scale * int(level)
        sel = None
        for ifd in chain[1:]:
            if (ifd.get(254, [0])[0] == 1
                    and ifd.get(_MODEL_PIXEL_SCALE, [None])[0] == want):
                sel = ifd
                break
        if sel is None:
            raise ValueError(
                f"no overview level {level} in {path} "
                f"(chain holds {len(chain) - 1} reduced IFDs)"
            )
        tags = sel
    if 322 not in tags:
        raise ValueError("load_gtiff_tiled needs a TILED TIFF "
                         "(strip layout: use the long readers)")
    comp = tags.get(259, [1])[0]
    if comp not in (1, 8) or tags.get(339, [3])[0] != 3 \
            or tags.get(258, [32])[0] != 32:
        raise ValueError(
            "only float32 tiles, uncompressed or DEFLATE, are supported"
        )
    w, h = tags[256][0], tags[257][0]
    tw, tl = tags[322][0], tags[323][0]
    if tw != tl:
        raise ValueError("non-square tiles unsupported")
    planes = tags.get(277, [1])[0]
    if planes > 1 and tags.get(284, [1])[0] != 2:
        raise ValueError("chunky multi-band tiles unsupported (planar only)")
    offsets = tags[324]
    counts = tags[325]
    tiles_x, tiles_y = -(-w // tw), -(-h // tl)
    per_plane = tiles_x * tiles_y
    if len(offsets) != planes * per_plane:
        raise ValueError("tile count mismatch")
    if bands:
        band_names = list(bands)
    else:
        # the sink's metadata sidecar carries the real band labels
        # (parity with the driver-side sink — ADVICE r13); b1..bn only
        # for foreign TIFFs with no sidecar
        band_names = None
        base = path[:-4] if path.endswith(".tif") else path
        try:
            import json as _json

            with open(base + ".json") as f:
                side = _json.load(f).get("bands")
            if side and len(side) == planes:
                band_names = [str(b) for b in side]
        except (OSError, ValueError):
            pass
        if band_names is None:
            band_names = [f"b{i+1}" for i in range(planes)]
    if len(band_names) != planes:
        raise ValueError(f"{planes} planes but {len(band_names)} band names")

    scale = tags.get(_MODEL_PIXEL_SCALE, [1.0, 1.0, 0.0])
    tie = tags.get(_MODEL_TIEPOINT, [0.0, 0.0, 0.0, 0.0, 0.0, 0.0])
    # tiepoint anchors the upper-left pixel CORNER; grid x0/y0 are the
    # first pixel CENTER (the save_gtiff convention, inverted)
    grid = GridSpec(
        x0=tie[3] + scale[0] / 2, y0=tie[4] - scale[1] / 2,
        resx=float(scale[0]), resy=float(scale[1]),
    )
    crs = None
    gk = tags.get(_GEO_KEY_DIRECTORY)
    if gk:
        keys = {gk[i]: gk[i + 3] for i in range(4, len(gk), 4)}
        epsg = keys.get(3072) or keys.get(2048)
        if epsg:
            crs = f"EPSG:{epsg}"

    T2 = tw * tw

    def read_batches(batches):
        import zlib

        fd = os.open(path, os.O_RDONLY)
        try:
            for pdf in batches:
                out_rows = []
                for gidx in pdf["id"]:
                    plane, rem = divmod(int(gidx), per_plane)
                    trow, tcol = divmod(rem, tiles_x)
                    raw = os.pread(fd, counts[int(gidx)],
                                   offsets[int(gidx)])
                    if comp == 8:
                        raw = zlib.decompress(raw)
                    a = np.frombuffer(raw, dtype="<f4").astype("float64")
                    # NaN == nodata == NULL
                    out_rows.append((band_names[plane], trow, tcol,
                                     _tile_list(a)))
                yield pd.DataFrame(
                    out_rows,
                    columns=["band", "tile_row", "tile_col", "data"],
                )
        finally:
            os.close(fd)

    cpus = spark.sparkContext.defaultParallelism
    df = (
        spark.range(planes * per_plane)
        .repartition(min(planes * per_plane, cpus * 4))
        .mapInPandas(
            read_batches,
            "band string, tile_row int, tile_col int, data array<double>",
        )
    )
    schema = CubeSchema(
        dims=(BAND, "y", "x"), bands=tuple(band_names), crs=crs, grid=grid,
    )
    return TiledCube(df, schema, tw, h, w)


def decode_tiff(path_or_bytes) -> tuple[np.ndarray, dict]:
    """Decode the TIFF subset this package writes — classic or BigTIFF,
    strip or tile layout, chunky or planar float32 — for round-trip
    tests and window decode-and-compare against the driver-side writer.
    Returns ``(arr[planes, H, W], meta)`` with padding beyond the image
    dims dropped."""
    data = (
        path_or_bytes if isinstance(path_or_bytes, (bytes, bytearray))
        else open(path_or_bytes, "rb").read()
    )
    assert data[:2] == b"II", "not little-endian TIFF"
    (version,) = struct.unpack_from("<H", data, 2)
    if version == 43:
        (ifd_off,) = struct.unpack_from("<Q", data, 8)
        (n,) = struct.unpack_from("<Q", data, ifd_off)
        base, entry_sz, inline, cnt_fmt = ifd_off + 8, 20, 8, "Q"
    else:
        assert version == 42
        (ifd_off,) = struct.unpack_from("<I", data, 4)
        (n,) = struct.unpack_from("<H", data, ifd_off)
        base, entry_sz, inline, cnt_fmt = ifd_off + 2, 12, 4, "I"
    tags = {}
    for i in range(int(n)):
        tag, typ = struct.unpack_from("<HH", data, base + i * entry_sz)
        (count,) = struct.unpack_from(f"<{cnt_fmt}", data, base + i * entry_sz + 4)
        loc = base + i * entry_sz + entry_sz - inline
        size = _SZ[typ] * count
        if size > inline:
            (off,) = struct.unpack_from(f"<{cnt_fmt}", data, loc)
            buf = data[off : off + size]
        else:
            buf = data[loc : loc + size]
        tags[tag] = list(struct.unpack(f"<{count}{_FMT[typ]}", buf))
    w, h = tags[256][0], tags[257][0]
    planes = tags.get(277, [1])[0]
    planar = tags.get(284, [1])[0]
    arr = np.full((planes, h, w), np.nan, dtype="float32")
    comp = tags.get(259, [1])[0]
    if 322 in tags:  # tiled layout
        import zlib

        tw, tl = tags[322][0], tags[323][0]
        tiles_x, tiles_y = -(-w // tw), -(-h // tl)
        per_plane = tiles_x * tiles_y
        offsets, counts = tags[324], tags[325]
        assert planar == 2 or planes == 1, "chunky multi-band tiles unsupported"
        for gidx, (off, cnt) in enumerate(zip(offsets, counts)):
            plane, rem = divmod(gidx, per_plane)
            ty, tx = divmod(rem, tiles_x)
            raw = data[off : off + cnt]
            if comp == 8:
                raw = zlib.decompress(raw)
            t = np.frombuffer(raw, dtype="<f4").reshape(tl, tw)
            y0, x0 = ty * tl, tx * tw
            arr[plane, y0 : min(y0 + tl, h), x0 : min(x0 + tw, w)] = t[
                : min(tl, h - y0), : min(tw, w - x0)
            ]
    else:  # single-strip chunky (the driver-side writer's shape)
        (off,), (cnt,) = tags[273], tags[279]
        a = np.frombuffer(data[off : off + cnt], dtype="<f4")
        arr = a.reshape(h, w, planes).transpose(2, 0, 1)
    meta = {
        "pixel_scale": tags.get(_MODEL_PIXEL_SCALE),
        "tiepoint": tags.get(_MODEL_TIEPOINT),
        "geo_keys": tags.get(_GEO_KEY_DIRECTORY),
        "sample_format": tags.get(339),
        "bits": tags.get(258),
        "bigtiff": version == 43,
        "tiled": 322 in tags,
        "compression": comp,
    }
    return arr, meta
