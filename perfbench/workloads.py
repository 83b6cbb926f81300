"""The three benchmark workloads over the public stark_spark API.

Each workload generates its inputs from the seed (numpy, written as
parquet under the run's work directory), loads them in ``setup``, and
yields a closed-loop stream of operations. Every operation carries its
expected result, computed with ``reference`` before the timed loop.

Operation stream rules (shared by all workloads):
  * ops come in blocks; every block holds the same multiset of op types,
    shuffled by the seed, so two seeds give different streams with the
    same op-type mix;
  * an op is split into ``build`` (the stark_spark call that returns a
    DataFrame, which may run eager jobs) and ``action`` (the collect that
    fetches the checked result).
"""

from __future__ import annotations

import functools
import math
import os
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import reference as R

MANIFEST = "_stark_manifest"  # sources.partitioned's manifest directory
T0 = 1_700_000_000          # epoch seconds of the generated time domain
SPAN = 30 * 86400           # 30 days
EXTENT = 100.0              # points live in [0, EXTENT)^2


@dataclass
class Op:
    kind: str                           # op type, the unit of the mix
    layer: str                          # module whose public function runs
    build: Callable[[], Any]
    action: Callable[[Any], Any]
    check: Callable[[Any], bool]
    rows: int                           # logical input rows
    exploded_rows: int = 0              # input rows the op explodes to cells
    params: tuple = field(default_factory=tuple)


# -- shared helpers ---------------------------------------------------------

def _write_points(path, ids, xs, ys, ts):
    tbl = pa.table({
        "id": pa.array(ids, pa.int64()),
        "x": pa.array(xs, pa.float64()),
        "y": pa.array(ys, pa.float64()),
        "t": pa.array(np.asarray(ts, np.int64) * 1_000_000, pa.timestamp("us")),
    })
    pq.write_table(tbl, path)


def _load_points(spark, path, keep_geom=True):
    from stark_spark.functions import st_frame
    df = spark.read.parquet(path)
    return st_frame(df, x="x", y="y", t_start="t", keep_geom=keep_geom)


def _hotspots(rng):
    """Eight hotspot centres, one per cell of a 4 x 2 lattice with a seeded
    offset: every seed gets the same amount of skew in other places."""
    cx = (np.arange(8) % 4 + rng.uniform(0.25, 0.75, 8)) * EXTENT / 4
    cy = (np.arange(8) // 4 + rng.uniform(0.25, 0.75, 8)) * EXTENT / 2
    return np.stack([cx, cy], 1)


def _skewed_points(rng, n, centers, hot_share=0.5, sigma=2.0):
    """Uniform points plus Gaussian hotspots around ``centers``, wrapped
    into the extent so no coordinate piles up on a border."""
    n_hot = int(n * hot_share)
    xs = rng.uniform(0, EXTENT, n)
    ys = rng.uniform(0, EXTENT, n)
    which = rng.integers(0, len(centers), n_hot)
    xs[:n_hot] = (centers[which, 0] + rng.normal(0, sigma, n_hot)) % EXTENT
    ys[:n_hot] = (centers[which, 1] + rng.normal(0, sigma, n_hot)) % EXTENT
    perm = rng.permutation(n)
    return xs[perm], ys[perm]


def _ring_wkt(ring) -> str:
    return "POLYGON ((" + ", ".join(f"{x!r} {y!r}" for x, y in ring) + "))"


def _closed(pts) -> np.ndarray:
    pts = np.asarray(pts, dtype=np.float64)
    return np.vstack([pts, pts[:1]])


def _convex_ring(rng, cx, cy, r):
    n = int(rng.integers(5, 10))
    step = 2 * math.pi / n
    ang = rng.uniform(0, step) + step * np.arange(n) + rng.uniform(-0.3, 0.3, n) * step
    return _closed(np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], 1))


def _star_ring(rng, cx, cy, r):
    n = int(rng.integers(5, 9))
    ang = rng.uniform(0, 2 * math.pi) + math.pi * np.arange(2 * n) / n
    rad = np.where(np.arange(2 * n) % 2 == 0, r, 0.45 * r)
    return _closed(np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], 1))


def _l_ring(rng, x0, y0, size):
    w, h = size, size * rng.uniform(0.6, 1.4)
    a, b = w * rng.uniform(0.3, 0.6), h * rng.uniform(0.3, 0.6)
    return _closed([(x0, y0), (x0 + w, y0), (x0 + w, y0 + b),
                    (x0 + a, y0 + b), (x0 + a, y0 + h), (x0, y0 + h)])


def _logq(u, lo, hi):
    """The ``u`` quantile of a log-uniform distribution on [lo, hi]."""
    return float(math.exp(math.log(lo) + u * math.log(hi / lo)))


def _strata(rng, n, dims):
    """``n`` points of a Latin hypercube in [0, 1)^dims: each column puts
    one value in each of ``n`` equal strata, in seeded order. The ops of one
    type in a block then span the whole range of their size parameters, so
    a run's medians depend less on the seed's draws."""
    cols = [rng.permutation(n) for _ in range(dims)]
    return (np.stack(cols, 1) + rng.uniform(size=(n, dims))) / n


def _sum_cols(df, a, b=None):
    """Checksum action matching ``reference.checksum``."""
    from pyspark.sql import functions as F
    ca = F.col(a).cast("long")
    if b is None:
        aggs = [F.count("*"), F.sum(ca), F.sum(ca * ca), F.lit(0)]
    else:
        cb = F.col(b).cast("long")
        aggs = [F.count("*"), F.sum(ca), F.sum(cb), F.sum(ca * cb)]
    r = df.agg(*aggs).collect()[0]
    return tuple(int(v or 0) for v in r)


def _ids(df, col="id"):
    return [int(r[0]) for r in df.select(col).collect()]


def _blocks(rng, mix, n_blocks):
    """``n_blocks`` shuffled copies of the op-type multiset ``mix``, as
    (block, kind, j): the op is the j-th of its kind in the block."""
    for b in range(n_blocks):
        kinds = [k for k, n in mix for _ in range(n)]
        rng.shuffle(kinds)
        seen: dict[str, int] = {}
        for k in kinds:
            seen[k] = seen.get(k, 0) + 1
            yield b, k, seen[k] - 1


class Workload:
    name = ""
    mix: list[tuple[str, int]] = []

    def __init__(self, seed: int, scale: str, work: str):
        self.seed = seed
        self.scale = scale
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.f: dict[str, Any] = {}      # loaded frames, filled by setup

    @property
    def block_len(self) -> int:
        return sum(n for _, n in self.mix)

    def _p(self, name):
        return os.path.join(self.work, "inputs", name)


# -- st_query_mix -------------------------------------------------------------

class QueryMix(Workload):
    """Interactive queries over one set of timed points, held twice: as a
    cached in-memory frame and as a cell x time-bucket partitioned store."""
    name = "st_query_mix"
    mix = [("rect_window", 3), ("convex", 1), ("nonconvex", 2),
           ("within_distance", 2), ("knn", 2), ("read_pruned", 2), ("knn_pruned", 1)]
    # stratified size parameters per op type: (width, height, window) for
    # rectangles, radius for polygons, distance for within_distance, k for kNN
    DIMS = {"rect_window": 3, "read_pruned": 3, "convex": 1, "nonconvex": 1,
            "within_distance": 1, "knn": 1, "knn_pruned": 1}
    SIZES = {"full": dict(points=100_000, grid=4, t_buckets=2),
             "tiny": dict(points=5_000, grid=2, t_buckets=2)}

    def generate(self, n_blocks: int):
        c = self.c = self.SIZES[self.scale]
        n = c["points"]
        rng = self.rng
        self.ids = np.arange(n, dtype=np.int64)
        self.xs = rng.uniform(0, EXTENT, n)
        self.ys = rng.uniform(0, EXTENT, n)
        self.ts = T0 + rng.integers(0, SPAN, n)
        os.makedirs(self._p(""), exist_ok=True)
        _write_points(self._p("points.parquet"), self.ids, self.xs, self.ys, self.ts)
        qrng = np.random.default_rng([self.seed, 1])
        counts, u = dict(self.mix), {}
        self.stream = []
        for b, k, j in _blocks(qrng, self.mix, n_blocks):
            if j == 0:
                u[k] = _strata(qrng, counts[k], self.DIMS[k])
            self.stream.append((b, self._make(k, qrng, u[k][j])))

    def store_path(self):
        return os.path.join(self.work, "store")

    def setup(self, spark, span):
        from stark_spark.partitioner.grid import GridSpec
        from stark_spark.sources.partitioned import save_partitioned
        c = self.c
        self.spark = spark
        self.grid = GridSpec.unit_grid(EXTENT, c["grid"])
        with span("functions.constructors", "st_frame"):
            pts = _load_points(spark, self._p("points.parquet")).cache()
            pts.count()
        self.f["pts"] = pts
        with span("sources.partitioned", "save_partitioned"):
            save_partitioned(pts, self.store_path(), self.grid,
                             t_buckets=c["t_buckets"], t_range=(T0, T0 + SPAN))
        self.store_files = _count_files(self.store_path())
        self.store_bytes = _dir_bytes(self.store_path())

    def _filter(self, kind, mask, make_pred, params):
        exp = R.checksum(self.ids[mask])

        def build():
            return self.f["pts"].filter(make_pred())
        return Op(kind, "functions.predicates", build,
                  lambda df: _sum_cols(df, "id"), lambda r: r == exp, len(self.ids),
                  params=params)

    def _make(self, kind, rng, u) -> Op:
        from stark_spark.core import geometry as G
        from stark_spark.functions import st_predicate
        from stark_spark.functions.predicates import within_distance
        from stark_spark.sources import partitioned as P
        xs, ys, ts, n = self.xs, self.ys, self.ts, len(self.xs)
        if kind in ("rect_window", "read_pruned"):
            lo = 0.5 if kind == "rect_window" else 2.0
            w, h = _logq(u[0], lo, 50), _logq(u[1], lo, 50)
            x0, y0 = rng.uniform(0, EXTENT - w), rng.uniform(0, EXTENT - h)
            rect = (x0, y0, x0 + w, y0 + h)
            tl = int(_logq(u[2], 3600, SPAN))
            t0 = int(T0 + rng.integers(0, SPAN - tl + 1))
            win = (t0, t0 + tl)
            mask = R.in_rect(xs, ys, rect) & R.in_window(ts, win)
            if kind == "rect_window":
                return self._filter(kind, mask, lambda: st_predicate(
                    G.box(*rect), "intersects", points=True, t_query=win),
                    (rect, win))
            exp = R.checksum(self.ids[mask])
            return Op(kind, "sources.partitioned",
                      lambda: P.read_pruned(self.spark, self.store_path(), G.box(*rect),
                                            t_query=win, points=True),
                      lambda df: _sum_cols(df, "id"), lambda r: r == exp, n,
                      params=(rect, win))
        if kind in ("convex", "nonconvex"):
            r = _logq(u[0], 1.0, 30.0)
            cx, cy = rng.uniform(r, EXTENT - r), rng.uniform(r, EXTENT - r)
            ring = (_convex_ring if kind == "convex" else _star_ring)(rng, cx, cy, r)
            wkt = _ring_wkt(ring)
            mask = R.point_in_ring(xs, ys, ring)
            return self._filter(kind, mask, lambda: st_predicate(
                G.from_wkt(wkt), "intersects", points=True, t_query="any"),
                (wkt,))
        if kind == "within_distance":
            d = _logq(u[0], 0.3, 10.0)
            qx, qy = rng.uniform(0, EXTENT), rng.uniform(0, EXTENT)
            mask = R.dist(xs, ys, qx, qy) <= d
            return self._filter(kind, mask, lambda: within_distance(
                G.point(qx, qy), d, points=True), (qx, qy, d))
        if kind in ("knn", "knn_pruned"):
            from stark_spark.operators.knn import knn
            ks = [1, 10, 100, 1000] if kind == "knn" else [1, 10, 50]
            k = ks[int(u[0] * len(ks))]
            qx, qy = rng.uniform(0, EXTENT), rng.uniform(0, EXTENT)
            exp = R.knn_ids(xs, ys, self.ids, qx, qy, k)
            if kind == "knn":
                build = lambda: knn(self.f["pts"], G.point(qx, qy), k,  # noqa: E731
                                    tie_col="id")
            else:
                build = lambda: P.knn_pruned(self.spark, self.store_path(),  # noqa: E731
                                             G.point(qx, qy), k, grid=self.grid,
                                             tie_col="id")
            layer = "operators.knn" if kind == "knn" else "sources.partitioned"
            return Op(kind, layer, build, _ids, lambda r: r == exp, n,
                      params=(qx, qy, k))
        raise ValueError(kind)

    def pip_kernel_inputs(self):
        """The workload's own points and non-convex polygons."""
        from stark_spark.core import geometry as G
        polys = [G.from_wkt(op.params[0]) for _, op in self.stream
                 if op.kind == "nonconvex"]
        return self.xs, self.ys, polys


# -- st_join_batch ------------------------------------------------------------

class JoinBatch(Workload):
    """Repeated passes over a fixed list of batch operators on
    hotspot-skewed points."""
    name = "st_join_batch"
    SIZES = {
        "full": dict(pts=40_000, probes=10_000, wd=0.5, polys=120,
                     poly_size=2.5, knn_left=1_000, k=5, knn_radius=1.5, db=10_000,
                     eps=0.4, min_pts=6, intervals=3_000, vec=40, grid=32),
        "tiny": dict(pts=4_000, probes=400, wd=1.0, polys=20, poly_size=4.0,
                     knn_left=100, k=3, knn_radius=4.0, db=2_000, eps=1.5, min_pts=4,
                     intervals=50, vec=10, grid=8),
    }
    OPS = ["within_distance_join", "st_join_contains", "knn_join", "dbscan",
           "interval_join", "raster_join_vector", "skyline"]
    mix = [(k, 1) for k in OPS]
    TILE_PX, PIXEL_W = 16, 0.5     # powers of two keep tile/pixel binning exact

    def generate(self, n_blocks: int):
        c = self.c = self.SIZES[self.scale]
        rng = self.rng
        os.makedirs(self._p(""), exist_ok=True)
        n = c["pts"]
        self.ids = np.arange(n, dtype=np.int64)
        hot = _hotspots(rng)
        self.xs, self.ys = _skewed_points(rng, n, hot)
        self.ts = T0 + rng.integers(0, SPAN, n)
        _write_points(self._p("points.parquet"), self.ids, self.xs, self.ys, self.ts)

        npb = c["probes"]
        self.px, self.py = _skewed_points(rng, npb, hot)
        _write_points(self._p("probes.parquet"), np.arange(npb), self.px, self.py,
                      np.full(npb, T0))
        nk = c["knn_left"]
        self.kx, self.ky = rng.uniform(0, EXTENT, nk), rng.uniform(0, EXTENT, nk)
        _write_points(self._p("knn_left.parquet"), np.arange(nk), self.kx, self.ky,
                      np.full(nk, T0))

        s = c["poly_size"]
        self.rings = [_l_ring(rng, x, y, s * rng.uniform(0.5, 1.5)) for x, y in
                      zip(*_skewed_points(rng, c["polys"], hot))]
        pq.write_table(pa.table({"pid": pa.array(np.arange(len(self.rings)), pa.int64()),
                                 "wkt": [_ring_wkt(r) for r in self.rings]}),
                       self._p("polys.parquet"))

        ni = c["intervals"]
        self.is_ = T0 + rng.integers(0, SPAN, ni)
        self.ie = self.is_ + rng.integers(600, 7200, ni)
        pq.write_table(pa.table({"iid": pa.array(np.arange(ni), pa.int64()),
                                 "t_start": pa.array(self.is_, pa.int64()),
                                 "t_end": pa.array(self.ie, pa.int64())}),
                       self._p("intervals.parquet"))

        self.vec = []
        for _ in range(c["vec"]):
            w, h = rng.uniform(1, 10), rng.uniform(1, 10)
            x0, y0 = rng.uniform(0, EXTENT - w), rng.uniform(0, EXTENT - h)
            self.vec.append((x0, y0, x0 + w, y0 + h))
        pq.write_table(pa.table({
            "vid": pa.array(np.arange(len(self.vec)), pa.int64()),
            "wkt": [_ring_wkt(_closed([(a, b), (cc, b), (cc, d), (a, d)]))
                    for a, b, cc, d in self.vec]}), self._p("vec.parquet"))

        self.expected = self._references(c)
        self.stream = [(b, self._make(k, c)) for b, k, _ in _blocks(rng, self.mix, n_blocks)]

    def _references(self, c):
        nd = c["db"]
        ids, xs, ys = self.ids, self.xs, self.ys
        ia, ib = R.pairs_within(self.px, self.py, xs, ys, c["wd"])
        la, rb = R.polygon_contains_pairs(self.rings, np.arange(len(self.rings)),
                                          xs, ys, ids)
        ka, kb = R.knn_join_pairs(self.kx, self.ky, np.arange(c["knn_left"]),
                                  xs, ys, ids, c["k"], c["knn_radius"])
        return {
            "within_distance_join": R.checksum(ia, ids[ib]),
            "st_join_contains": R.checksum(la, rb),
            "knn_join": R.checksum(ka, kb),
            "dbscan": R.dbscan_reference(xs[:nd], ys[:nd], c["eps"], c["min_pts"]),
            "interval_join": R.interval_pairs_checksum(
                np.arange(len(self.is_)), self.is_, self.ie, ids, self.ts),
            "raster_join_vector": R.raster_checksum(
                xs, ys, self.TILE_PX, self.PIXEL_W, self.vec),
            "skyline": R.skyline_ids(xs, ys, ids),
        }

    def setup(self, spark, span):
        from pyspark.sql import functions as F
        from stark_spark.functions import st_frame
        from stark_spark.partitioner.grid import GridSpec
        from stark_spark.raster.tiles import rasterize
        c = self.c
        self.grid = GridSpec.unit_grid(EXTENT, c["grid"])
        f = self.f
        with span("functions.constructors", "st_frame"):
            f["pts"] = _load_points(spark, self._p("points.parquet")).cache()
            f["probes"] = (_load_points(spark, self._p("probes.parquet"), keep_geom=False)
                           .withColumnRenamed("id", "qid").drop("t", "t_start", "t_end")
                           .cache())
            f["knn_left"] = (_load_points(spark, self._p("knn_left.parquet"), keep_geom=False)
                             .withColumnRenamed("id", "qid").drop("t", "t_start", "t_end")
                             .cache())
            f["polys"] = st_frame(spark.read.parquet(self._p("polys.parquet")),
                                  wkt="wkt").drop("wkt").cache()
            f["vec"] = st_frame(spark.read.parquet(self._p("vec.parquet")),
                                wkt="wkt").drop("wkt").cache()
            f["intervals"] = spark.read.parquet(self._p("intervals.parquet")).cache()
            # one job fills every cache: each scan builds its whole cached relation
            one = [df.select(F.lit(1).alias("one")) for df in f.values()]
            functools.reduce(lambda a, b: a.unionAll(b), one).count()
        with span("raster", "rasterize"):
            f["tiles"] = rasterize(f["pts"], tile_px=self.TILE_PX,
                                   pixel_width=self.PIXEL_W).cache()
            f["tiles"].count()

    def _make(self, kind, c) -> Op:
        from pyspark.sql import functions as F
        exp = self.expected[kind]
        f, n = self.f, c["pts"]
        check = lambda r: r == exp  # noqa: E731
        if kind == "within_distance_join":
            from stark_spark.operators.join import within_distance_join
            return Op(kind, "operators.join",
                      lambda: within_distance_join(f["probes"], f["pts"], c["wd"],
                                                   grid=self.grid),
                      lambda df: _sum_cols(df, "qid", "id"), check,
                      n + c["probes"], exploded_rows=c["probes"])
        if kind == "st_join_contains":
            from stark_spark.operators.join import st_join
            return Op(kind, "operators.join",
                      lambda: st_join(f["polys"], f["pts"], "contains",
                                      grid=self.grid, right_points=True),
                      lambda df: _sum_cols(df, "pid", "id"), check,
                      n + c["polys"], exploded_rows=c["polys"])
        if kind == "knn_join":
            from stark_spark.operators.knn import knn_join
            return Op(kind, "operators.knn",
                      lambda: knn_join(f["knn_left"], f["pts"], c["k"], grid=self.grid,
                                       radius=c["knn_radius"], left_key="qid",
                                       tie_col="id"),
                      lambda df: _sum_cols(df, "qid", "id"), check,
                      n + c["knn_left"], exploded_rows=c["knn_left"])
        if kind == "dbscan":
            from stark_spark.operators.dbscan import dbscan
            nd = c["db"]

            def action(df):
                pdf = df.toPandas()
                return (pdf["id"].to_numpy(), pdf["cluster"].to_numpy(),
                        pdf["is_core"].to_numpy())
            return Op(kind, "operators.dbscan",
                      lambda: dbscan(f["pts"].where(F.col("id") < nd), c["eps"],
                                     c["min_pts"], key="id", grid=self.grid),
                      action, lambda r: R.dbscan_matches(exp, *r), nd,
                      exploded_rows=nd)
        if kind == "interval_join":
            from stark_spark.operators.temporal_join import interval_join
            return Op(kind, "operators.temporal_join",
                      lambda: interval_join(f["intervals"],
                                            f["pts"].select("id", "t_start", "t_end"),
                                            bin_width=3600, how_right="point",
                                            open_ends=False),
                      lambda df: _sum_cols(df, "iid", "id"), check,
                      n + c["intervals"])
        if kind == "raster_join_vector":
            from stark_spark.raster.join import raster_join_vector

            def action(df):
                s = F.aggregate("data", F.lit(0).cast("long"),
                                lambda a, v: a + F.coalesce(v, F.lit(0).cast("long")))
                r = df.agg(F.count("*"), F.sum(s)).collect()[0]
                return (int(r[0]), int(r[1] or 0))
            return Op(kind, "raster",
                      lambda: raster_join_vector(f["tiles"], f["vec"], grid=self.grid),
                      action, check, c["vec"] + self.n_tiles,
                      exploded_rows=c["vec"] + self.n_tiles)
        if kind == "skyline":
            from stark_spark.operators.skyline import skyline
            return Op(kind, "operators.skyline",
                      lambda: skyline(f["pts"].select("id", "x", "y"), "x", "y"),
                      lambda df: set(_ids(df)), check, n)
        raise ValueError(kind)

    @property
    def n_tiles(self) -> int:
        span = self.TILE_PX * self.PIXEL_W
        return len(np.unique(np.floor(self.xs / span) * 4096 + np.floor(self.ys / span)))

    def pip_kernel_inputs(self):
        from stark_spark.core import geometry as G
        return self.xs, self.ys, [G.from_wkt(_ring_wkt(r)) for r in self.rings]


def _data_files(path):
    """Parquet data files of a store, without its bounds manifest."""
    for d, _, fs in os.walk(path):
        if MANIFEST not in d:
            yield from (os.path.join(d, f) for f in fs if f.endswith(".parquet"))


def _count_files(path) -> int:
    return sum(1 for _ in _data_files(path))


def _dir_bytes(path) -> int:
    return sum(os.path.getsize(f) for f in _data_files(path))


WORKLOADS = {w.name: w for w in (QueryMix, JoinBatch)}
