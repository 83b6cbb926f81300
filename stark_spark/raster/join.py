"""Raster ⋈ vector and raster ⋈ raster joins.

Reference: `raster/RasterFilterVectorRDD.scala:44-52` (tile-vs-query
filter with pixel clip), `RasterRDD.scala:66-81` + `raster/
RasterJoinVectorRDD.scala:13-107` (tiles joined to geometries by
predicate, result clipped to matching pixels via `RasterUtils.
getPixels` `RasterUtils.scala:128-216`), `raster/RasterJoinRDD.scala:
10-66` (per overlapping tile pair: intersection MBR, pixel combine).

Physical shape: tiles get bbox columns (`tile_bbox_cols`) → native
rect × rect candidate join (grid cell equi-join or broadcast, closed
bbox overlap) → ONE Python pass that does everything Python has to
do: the exact tile-vs-geometry refine and the pixel clip/combine in
one `mapInPandas`, or, unclipped, the refine alone as a pandas UDF
that sees only the bbox and geometry columns. A tile IS its envelope,
so no tile geometry column is ever built and each task holds one
Python worker. The pixel work is numpy over Arrow batches — per-tile
vectorized, never per-pixel Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (ArrayType, BooleanType, DoubleType,
                               IntegerType, LongType, StructField, StructType)

from stark_spark.core import geometry as G
from stark_spark.functions.constructors import BBOX_COLS
from stark_spark.functions.predicates import _as_geom, bbox_intersects
from stark_spark.partitioner.grid import GridSpec
from stark_spark.raster.tiles import tile_bbox_cols

_TILE_OUT = StructType([
    StructField("ulx", DoubleType()), StructField("uly", DoubleType()),
    StructField("width", IntegerType()), StructField("height", IntegerType()),
    StructField("pixel_width", DoubleType()),
    StructField("data", ArrayType(LongType())),
])


@pandas_udf(BooleanType())
def _tile_hits(xmin: pd.Series, ymin: pd.Series, xmax: pd.Series,
               ymax: pd.Series, geom: pd.Series) -> pd.Series:
    """Exact refine of a tile (its bbox IS its geometry) against a WKB
    geometry — the one Python pass of an unclipped join."""
    return pd.Series([G.intersects(G.box(*b), G.from_wkb(bytes(g)))
                      for *b, g in zip(xmin, ymin, xmax, ymax, geom)])


def _pixel_centers(ulx, uly, w, h, pw):
    xs = ulx + (np.arange(w) + 0.5) * pw
    ys = uly - (np.arange(h) + 0.5) * pw
    gx, gy = np.meshgrid(xs, ys)          # row-major: j rows, i cols
    return gx.ravel(), gy.ravel()


def _clip_tile(row, q: G.Geometry):
    """Crop to the intersection MBR (pixel-aligned) and null out pixels
    whose centers fall outside the geometry — `RasterUtils.getPixels`."""
    ulx, uly, w, h, pw = (row.ulx, row.uly, int(row.width), int(row.height),
                          row.pixel_width)
    qx0, qy0, qx1, qy1 = q.bbox
    i0 = max(0, int(np.floor((qx0 - ulx) / pw)))
    i1 = min(w, int(np.ceil((qx1 - ulx) / pw)))
    j0 = max(0, int(np.floor((uly - qy1) / pw)))
    j1 = min(h, int(np.ceil((uly - qy0) / pw)))
    if i0 >= i1 or j0 >= j1:
        return None
    sub = np.asarray(row.data, dtype=object).reshape(h, w)[j0:j1, i0:i1]
    nw, nh = i1 - i0, j1 - j0
    nulx, nuly = ulx + i0 * pw, uly - j0 * pw
    if q.kind in ("POLYGON", "MULTIPOLYGON") and not q.is_rectangle():
        cx, cy = _pixel_centers(nulx, nuly, nw, nh, pw)
        mask = np.asarray(
            G.points_in_polygon(cx, cy, q, boundary=True)).reshape(nh, nw)
        sub = np.where(mask, sub, None)
    return (nulx, nuly, nw, nh, pw, list(sub.ravel()))


def raster_filter_vector(tiles: DataFrame, query, *, clip: bool = True,
                         time_cols=None) -> DataFrame:
    """Tiles intersecting a constant geometry; optionally clipped
    (`RasterFilterVectorRDD`). Prefilter = native bbox columns →
    partition/row-group prunable; clip = one mapInPandas pass."""
    q = _as_geom(query)
    t = tile_bbox_cols(tiles)
    t = t.filter(bbox_intersects(q))
    if not clip:
        return t.drop("xmin", "ymin", "xmax", "ymax")

    qwkb = G.to_wkb(q)

    def run(batches):
        qg = G.from_wkb(qwkb)
        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                r = _clip_tile(row, qg)
                if r is not None:
                    out.append(r)
            yield pd.DataFrame(out, columns=[f.name for f in _TILE_OUT])

    return t.mapInPandas(run, _TILE_OUT)


def raster_join_vector(tiles: DataFrame, vec: DataFrame, *,
                       grid: GridSpec | None = None,
                       clip: bool = True, suffix: str = "_r",
                       vec_rect: bool = False,
                       broadcast: bool = False) -> DataFrame:
    """Tiles ⋈ geometries (intersects); each matched pair yields the
    tile clipped to the geometry (`RasterJoinVectorRDD`). Output: vec
    payload + clipped tile columns (``clip=False``: the unclipped tile
    and every vec column, ``geom`` + suffix included).

    Candidates come from a native rect × rect join of the tile bboxes
    with the vector bboxes (grid cell equi-join, or ``broadcast``).
    Tiles ARE their envelopes, so for an axis-aligned vector side
    (``vec_rect=True``) the bbox overlap is the exact predicate and
    ``clip=False`` plans no Python at all. Otherwise the exact refine
    ``intersects(box(tile), geom)`` runs inside the single Arrow pass
    that also clips; unclipped, it is a pandas UDF fed only the tile
    bbox and ``geom`` + suffix, so tile pixels and vec payload never
    leave the JVM. Either way: one Python worker per task.

    ``broadcast=True``: dim-sized vector side (boundary tables are
    typically O(10²) rows) → BNLJ, skipping the cell explode AND both
    shuffles — the right default whenever vec fits a broadcast."""
    from stark_spark.operators.join import st_join

    joined = st_join(tile_bbox_cols(tiles), vec, "intersects", grid=grid,
                     suffix=suffix, left_rect=True, right_rect=True,
                     broadcast=broadcast)
    keep = [c for c in joined.columns if c not in BBOX_COLS]
    gcol = "geom" + suffix
    rbox = tuple(c + suffix for c in BBOX_COLS)
    refine = gcol in joined.columns and not vec_rect
    if not clip:
        if refine:      # narrow UDF input: the payload stays in the JVM
            joined = joined.where(_tile_hits(*BBOX_COLS, gcol))
        return joined.select(*keep)

    pos = {c: i for i, c in enumerate(joined.columns)}
    pay_fields = [joined.schema[c] for c in keep
                  if c not in ("ulx", "uly", "width", "height", "pixel_width",
                               "data", gcol) + rbox]
    out_schema = StructType(list(_TILE_OUT.fields) + pay_fields)
    tbox_at = [pos[c] for c in BBOX_COLS]
    rbox_at = [pos[c] for c in rbox]
    pay_at = [pos[f.name] for f in pay_fields]

    def run(batches):
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                if gcol in pos:
                    g = G.from_wkb(bytes(row[pos[gcol]]))
                else:       # rect vector side: its bbox IS the geometry
                    g = G.box(*(float(row[i]) for i in rbox_at))
                if refine and not G.intersects(
                        G.box(*(row[i] for i in tbox_at)), g):
                    continue
                r = _clip_tile(row, g)
                if r is not None:
                    rows.append(r + tuple(row[i] for i in pay_at))
            yield pd.DataFrame(
                rows, columns=[f.name for f in out_schema.fields])

    return joined.mapInPandas(run, out_schema)


def raster_join_raster(left: DataFrame, right: DataFrame, *, grid: GridSpec,
                       combine: str = "sum", suffix: str = "_r") -> DataFrame:
    """Overlapping tile pairs combined on their intersection MBR
    (`RasterJoinRDD.scala:10-66`): cell equi-join on tile bboxes, then
    one vectorized pass computing ``combine(l_pixel, r_pixel)`` over
    the overlap window. combine ∈ sum|min|max|left.

    Both sides ARE their envelopes → declared rect × rect join: the
    equi-join + bbox algebra is the exact predicate, no geometry
    columns, no refine UDF — fully native up to the pixel-combine
    pass."""
    from stark_spark.operators.join import st_join

    l = tile_bbox_cols(left).select(
        "ulx", "uly", "width", "height", "pixel_width", "data",
        "xmin", "ymin", "xmax", "ymax")
    r = tile_bbox_cols(right).select(
        "ulx", "uly", "width", "height", "pixel_width", "data",
        "xmin", "ymin", "xmax", "ymax")
    joined = st_join(l, r, "intersects", grid=grid, suffix=suffix,
                     left_rect=True, right_rect=True)

    ops = {"sum": lambda a, b: a + b, "min": np.minimum,
           "max": np.maximum, "left": lambda a, b: a}
    op = ops[combine]

    def run(batches):
        for pdf in batches:
            rows = []
            for row in pdf.itertuples():
                pw = row.pixel_width
                x0 = max(row.ulx, getattr(row, "ulx" + suffix))
                y1 = min(row.uly, getattr(row, "uly" + suffix))
                x1 = min(row.ulx + row.width * pw,
                         getattr(row, "ulx" + suffix)
                         + getattr(row, "width" + suffix) * pw)
                y0 = max(row.uly - row.height * pw,
                         getattr(row, "uly" + suffix)
                         - getattr(row, "height" + suffix) * pw)
                nw = int(round((x1 - x0) / pw))
                nh = int(round((y1 - y0) / pw))
                if nw <= 0 or nh <= 0:
                    continue

                def window(ulx, uly, w, h, data):
                    i0 = int(round((x0 - ulx) / pw))
                    j0 = int(round((uly - y1) / pw))
                    arr = np.asarray(data, dtype=np.int64).reshape(h, w)
                    return arr[j0:j0 + nh, i0:i0 + nw]

                a = window(row.ulx, row.uly, int(row.width),
                           int(row.height), row.data)
                b = window(getattr(row, "ulx" + suffix),
                           getattr(row, "uly" + suffix),
                           int(getattr(row, "width" + suffix)),
                           int(getattr(row, "height" + suffix)),
                           getattr(row, "data" + suffix))
                rows.append((x0, y1, nw, nh, pw, list(op(a, b).ravel())))
            yield pd.DataFrame(
                rows, columns=[f.name for f in _TILE_OUT.fields])

    return joined.mapInPandas(run, _TILE_OUT)
