"""Raster subsystem tests vs numpy recomputation.

Parity model: reference `raster/TileTest.scala`, `RasterTest.scala`,
`RasterFilterVectorRDDTest.scala` — get/map/histogram/countValue on
known tiles, filter+clip vs hand-counted pixels.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from stark_spark import datasets as D
from stark_spark.partitioner.grid import GridSpec
from stark_spark.raster import (count_value, has_value, r_max, r_median,
                                r_min, raster_filter_vector, raster_histogram,
                                raster_join_raster, raster_join_vector,
                                rasterize, tile_bbox_cols, tile_histogram,
                                with_sma)

TILE_PX = 4
PW = 2.5          # tile span = 10


@pytest.fixture(scope="module")
def pts(spark):
    rng = np.random.RandomState(7)
    xs = rng.uniform(0, 40, 500)
    ys = rng.uniform(0, 40, 500)
    return spark.createDataFrame(
        [(float(x), float(y)) for x, y in zip(xs, ys)], "x double, y double"
    ).cache(), xs, ys


@pytest.fixture(scope="module")
def tiles(pts):
    df, _, _ = pts
    return rasterize(df, tile_px=TILE_PX, pixel_width=PW).cache()


def _numpy_raster(xs, ys):
    """Pixel counts per (tx, ty, j, i) the slow way."""
    grids = {}
    for x, y in zip(xs, ys):
        tx, ty = int(x // 10), int(y // 10)
        i = int(x // PW) - tx * TILE_PX
        j = (TILE_PX - 1) - (int(y // PW) - ty * TILE_PX)
        g = grids.setdefault((tx, ty), np.zeros((TILE_PX, TILE_PX), dtype=int))
        g[j, i] += 1
    return grids


def test_rasterize_matches_numpy(tiles, pts):
    _, xs, ys = pts
    want = _numpy_raster(xs, ys)
    got = {}
    for r in tiles.collect():
        tx, ty = int(r.ulx // 10), int(r.uly // 10) - 1
        got[(tx, ty)] = np.array(r.data, dtype=int).reshape(TILE_PX, TILE_PX)
        assert r.width == TILE_PX and r.pixel_width == PW
    assert set(got) == set(want)
    for k in want:
        assert (got[k] == want[k]).all(), k


def test_sma_and_accessors(tiles):
    t = with_sma(tiles)
    row = t.select("data", "sma_min", "sma_max", "sma_median").first()
    arr = sorted(row.data)
    assert row.sma_min == arr[0]
    assert row.sma_max == arr[-1]
    assert row.sma_median == arr[(len(arr) + 1) // 2 - 1]


def test_count_value(tiles, pts):
    _, xs, ys = pts
    want = sum(int((g == 0).sum()) for g in _numpy_raster(xs, ys).values())
    assert count_value(with_sma(tiles), 0).first().n == want
    assert has_value(tiles, 0) == (want > 0)
    assert not has_value(tiles, 10 ** 9)


def test_histograms(tiles, pts):
    _, xs, ys = pts
    allpix = np.concatenate(
        [g.ravel() for g in _numpy_raster(xs, ys).values()])
    got = {r.bucket: r.n for r in raster_histogram(tiles, 0, 8, 4).collect()}
    w = 2.0
    want = {}
    for p in allpix:
        b = min(3, max(0, int(p // w)))
        want[b] = want.get(b, 0) + 1
    assert got == want
    per = tile_histogram(tiles, 0, 8, 4)
    assert per.agg(F.sum("n")).first()[0] == len(allpix)


def test_filter_vector_clip(tiles, pts):
    _, xs, ys = pts
    # rectangle covering tiles [10,30)² exactly → clip = crop
    out = raster_filter_vector(
        tiles, "POLYGON ((10 10, 30 10, 30 30, 10 30, 10 10))")
    inside = ((xs >= 10) & (xs < 30) & (ys >= 10) & (ys < 30)).sum()
    got = out.select(
        F.aggregate(F.col("data"), F.lit(0).cast("long"),
                    lambda a, v: a + F.coalesce(v, F.lit(0)))
         .alias("s")).agg(F.sum("s")).first()[0]
    assert got == inside


def test_filter_vector_triangle_masks(tiles):
    tri = "POLYGON ((0 0, 40 0, 0 40, 0 0))"
    out = raster_filter_vector(tiles, tri).collect()
    # pixels with center above the anti-diagonal must be nulled
    for r in out:
        arr = np.array(r.data, dtype=object).reshape(r.height, r.width)
        for j in range(r.height):
            for i in range(r.width):
                cx = r.ulx + (i + .5) * r.pixel_width
                cy = r.uly - (j + .5) * r.pixel_width
                if cx + cy > 40:
                    assert arr[j, i] is None


def test_join_vector(tiles, spark):
    vec = spark.createDataFrame(
        [(1, "POLYGON ((5 5, 25 5, 25 25, 5 25, 5 5))"),
         (2, "POLYGON ((100 100, 110 100, 110 110, 100 110, 100 100))")],
        "vid int, wkt string")
    from stark_spark.functions.constructors import st_frame
    vec = st_frame(vec, wkt="wkt")
    grid = GridSpec(0, 0, 40.0001, 40.0001, 4, 4)
    out = raster_join_vector(tiles, vec, grid=grid)
    vids = {r.vid for r in out.select("vid").distinct().collect()}
    assert vids == {1}
    # every output tile lies inside the query envelope
    for r in tile_bbox_cols(out.select(*[c for c in out.columns])).collect():
        assert r.xmax > 5 - 1e-9 and r.xmin < 25 + 1e-9


def test_join_raster(tiles, spark):
    grid = GridSpec(0, 0, 40.0001, 40.0001, 4, 4)
    out = raster_join_raster(tiles, tiles, combine="sum", grid=grid)
    # self-join at identical tiling: every tile pairs with itself
    # (plus possible edge-touch neighbors); the self-pair doubles data
    n_tiles = tiles.count()
    doubled = (out.where(F.col("width") == TILE_PX)
                  .count())
    assert doubled >= n_tiles
    total_self = (out.where(F.col("width") == TILE_PX)
                  .select(F.aggregate("data", F.lit(0).cast("long"),
                                      lambda a, v: a + v).alias("s"))
                  .agg(F.sum("s")).first()[0])
    base = (tiles.select(F.aggregate("data", F.lit(0).cast("long"),
                                     lambda a, v: a + v).alias("s"))
            .agg(F.sum("s")).first()[0])
    assert total_self == 2 * base

def test_csv_tile_roundtrip(tiles, spark, tmp_path):
    from stark_spark.raster import save_tiles_csv, tiles_from_csv, with_sma
    d = str(tmp_path / "tiles_csv")
    save_tiles_csv(with_sma(tiles), d)
    back = tiles_from_csv(spark, d, dtype="bigint")
    assert back.count() == tiles.count()
    want = {(r.ulx, r.uly): list(r.data) for r in tiles.collect()}
    got = {(r.ulx, r.uly): list(r.data) for r in back.collect()}
    assert got == want
    row = back.first()
    assert row.sma_min is not None and row.sma_max is not None


def test_csv_tiles_without_sma(tiles, spark, tmp_path):
    from stark_spark.raster import save_tiles_csv, tiles_from_csv
    d = str(tmp_path / "tiles_csv2")
    save_tiles_csv(tiles, d)
    back = tiles_from_csv(spark, d, dtype="bigint")
    assert back.where(back.sma_min.isNotNull()).count() == 0
    assert back.count() == tiles.count()


# ------------------------------------------- fused refine + clip (one pass)

# tiles 10×10 over [0, 40]²; vector shapes chosen so the bbox prefilter
# alone is wrong: an L whose bbox covers tiles its area misses, a star,
# a diagonal line, points (one on a tile corner) and boxes that only
# touch a tile edge or corner
_REFINE_VEC = [
    (1, "POLYGON ((0 0, 30 0, 30 2, 2 2, 2 30, 0 30, 0 0))"),
    (2, "POLYGON ((20 12, 23 18, 30 19, 24 23, 26 30, 20 26, "
        "14 30, 16 23, 10 19, 17 18, 20 12))"),
    (3, "LINESTRING (1 39, 39 1)"),
    (4, "POINT (15 15)"),
    (5, "POINT (10 10)"),
    (6, "POLYGON ((40 0, 50 0, 50 10, 40 10, 40 0))"),
    (7, "POLYGON ((-5 -5, 0 -5, 0 0, -5 0, -5 -5))"),
    (8, "MULTIPOINT ((35 5), (5 35))"),
]


@pytest.fixture(scope="module")
def refine_inputs(spark):
    """UDF-free inputs: tile rows and vec WKB/bbox built on the driver."""
    from stark_spark.core import geometry as G
    from stark_spark.session import local_frame
    tile_rows = [(tx * 10.0, (ty + 1) * 10.0, TILE_PX, TILE_PX, PW,
                  [100 * (tx * 4 + ty) + k for k in range(TILE_PX * TILE_PX)])
                 for tx in range(4) for ty in range(4)]
    tiles = local_frame(
        spark, tile_rows, "ulx double, uly double, width int, height int, "
                          "pixel_width double, data array<bigint>")
    vec_rows = []
    for vid, wkt in _REFINE_VEC:
        g = G.from_wkt(wkt)
        vec_rows.append((vid, G.to_wkb(g)) + tuple(g.bbox))
    vec = local_frame(spark, vec_rows, "vid int, geom binary, xmin double, "
                                       "ymin double, xmax double, ymax double")
    return tiles, vec, tile_rows


def _expected_join(tile_rows, clip):
    """Per candidate (closed bbox overlap): exact G.intersects refine,
    then `_clip_tile` — computed tile by tile on the driver. Also
    returns the candidate count, so a test can see the refine bite."""
    from collections import namedtuple

    from stark_spark.core import geometry as G
    from stark_spark.raster.join import _clip_tile
    T = namedtuple("T", "ulx uly width height pixel_width data")
    out, n_cand = [], 0
    for t in tile_rows:
        row = T(*t)
        tbox = G.box(row.ulx, row.uly - row.height * row.pixel_width,
                     row.ulx + row.width * row.pixel_width, row.uly)
        for vid, wkt in _REFINE_VEC:
            g = G.from_wkt(wkt)
            ax0, ay0, ax1, ay1 = tbox.bbox
            bx0, by0, bx1, by1 = g.bbox
            if ax0 > bx1 or bx0 > ax1 or ay0 > by1 or by0 > ay1:
                continue
            n_cand += 1
            if not G.intersects(tbox, g):
                continue
            if not clip:
                out.append((vid, row.ulx, row.uly, row.width, tuple(row.data)))
                continue
            r = _clip_tile(row, g)
            if r is not None:
                out.append((vid, r[0], r[1], r[2], r[3], tuple(r[5])))
    return sorted(out, key=repr), n_cand


@pytest.mark.parametrize("clip", [True, False])
@pytest.mark.parametrize("broadcast", [False, True])
def test_join_vector_fused_refine_matches_reference(refine_inputs, clip,
                                                    broadcast):
    tiles, vec, tile_rows = refine_inputs
    grid = GridSpec(0, 0, 40.0001, 40.0001, 4, 4)
    fields = ("ulx", "uly", "width") + (("height",) if clip else ())

    def got(out, head):
        return sorted((head(r) + tuple(r[f] for f in fields)
                       + (tuple(r.data),) for r in out.collect()), key=repr)

    out = raster_join_vector(tiles, vec, grid=grid, clip=clip,
                             broadcast=broadcast)
    if clip:
        assert "geom_r" not in out.columns
    else:
        assert {"geom_r", "xmin_r"} <= set(out.columns)
    want, n_cand = _expected_join(tile_rows, clip)
    # the refine matters on these inputs: bbox candidates it must drop
    assert len(want) < n_cand - 10
    assert got(out, lambda r: (r.vid,)) == want
    # a vector side of geom + bbox only: no payload column to carry
    bare = raster_join_vector(tiles, vec.drop("vid"), grid=grid, clip=clip,
                              broadcast=broadcast)
    assert got(bare, lambda r: ()) == sorted((w[1:] for w in want), key=repr)


def test_join_vector_unclipped_payload_stays_exact(refine_inputs):
    """Unclipped, the vec payload never round-trips through pandas: a
    nullable long above 2**53 comes back bit-exact."""
    tiles, vec, _ = refine_inputs
    big = 2 ** 60 + 1
    vec = vec.withColumn("big", F.when(F.col("vid") % 2 == 0,
                                       F.lit(big) + F.col("vid")))
    out = raster_join_vector(tiles, vec, grid=GridSpec(
        0, 0, 40.0001, 40.0001, 4, 4), clip=False)
    rows = out.select("vid", "big").collect()
    assert rows and any(r.big is None for r in rows)
    assert all(r.big == (big + r.vid if r.vid % 2 == 0 else None)
               for r in rows)


def _python_nodes(plan) -> list[str]:
    """Python-evaluating physical nodes of an executed plan, walking
    AQE stages but not into cached (InMemoryRelation) subplans."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _python_nodes(plan.executedPlan())
    if name.endswith("QueryStageExec"):
        return _python_nodes(plan.plan())
    own = [name] if ("Python" in name or "Pandas" in name) else []
    kids = plan.children()
    return own + [n for i in range(kids.size())
                  for n in _python_nodes(kids.apply(i))]


@pytest.mark.parametrize("clip", [True, False])
def test_join_vector_single_python_pass(refine_inputs, clip):
    tiles, vec, _ = refine_inputs
    grid = GridSpec(0, 0, 40.0001, 40.0001, 4, 4)
    out = raster_join_vector(tiles.cache(), vec, grid=grid, clip=clip)
    out.collect()
    nodes = _python_nodes(out._jdf.queryExecution().executedPlan())
    # clipped: refine + clip in one mapInPandas; unclipped: the refine
    # alone as one pandas UDF over the bbox and geometry columns
    assert nodes == ["MapInPandasExec" if clip else "ArrowEvalPythonExec"], \
        nodes
    # an axis-aligned vector side without clip stays fully native
    rect = raster_join_vector(tiles, vec, grid=grid, clip=False,
                              vec_rect=True)
    rect.collect()
    assert _python_nodes(rect._jdf.queryExecution().executedPlan()) == []
