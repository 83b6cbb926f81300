"""Spatially partitioned parquet storage with bounds-manifest pruning.

Reference (SURVEY.md §2.1, §3.3): ``saveAsStarkTextFile`` writes a
``partition_info`` sidecar (WKT bounds; tstart; tend; filename per
line, `PlainSpatialRDDFunctions.scala:34-68`); ``STSparkContext.
textFile(path, qry)`` parses it and loads only files whose bounds
intersect the query (`STSparkContext.scala:50-61, 658-713`);
``loadPartitioned`` reattaches the grid partitioner
(`STSparkContext.scala:254-305`); ``jointextFiles`` builds the join's
partition pairs from the two metadata files alone
(`STSparkContext.scala:382-457`); the kNN loader pushdown runs a
two-phase home-cell → widened-box search (`STSparkContext.scala:124-184`).

Our mapping is Hive-style partitioning, which makes every prune a
CATALYST prune (free, file-level, no custom scan):

* data:      ``path/cell=<id>[/t_bucket=<b>]/*.parquet``
* manifest:  ``path/_stark_manifest`` — tiny parquet, one row per cell:
  grid ``range`` bounds, true ``extent`` of contained geometries
  (reference `Cell.scala:9-26` range-vs-extent distinction), time
  min/max, row count.

``read_pruned`` intersects the query envelope with the manifest on the
driver (a few KB — same driver↔storage boundary as the reference) and
emits ``col("cell").isin(...)``: Spark's partition pruning then skips
whole directories before any file I/O. At 100 TB the manifest is still
O(cells) — KBs — and pruning cost stays driver-side constant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stark_spark.core import geometry as G
from stark_spark.functions.predicates import _as_geom, st_predicate
from stark_spark.partitioner.grid import GridSpec
from stark_spark.session import local_frame

MANIFEST = "_stark_manifest"


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------

def save_partitioned(df: DataFrame, path: str, grid: GridSpec, *,
                     t_buckets: int | None = None,
                     t_range: tuple[int, int] | None = None,
                     zorder: bool = False,
                     mode: str = "overwrite") -> None:
    """Write an ST frame as cell-partitioned parquet + bounds manifest.

    ``t_buckets``/``t_range`` add a second-level temporal partition
    (reference `SpatioTempPartitioner.scala:11-169`: spatial cells,
    then per-cell time ranges).

    ``zorder=True`` sorts rows within each cell file by the Morton key
    of (xmin, ymin) instead of x-major — row-group min/max stats stay
    tight in BOTH dimensions, so sub-cell queries skip row groups no
    matter which axis is selective (matters once cell files hold many
    row groups, i.e. at real scale).
    """
    out = df.withColumn("cell", grid.cell_expr(F.col("xmin"), F.col("ymin")))
    part_cols = ["cell"]
    if t_buckets:
        if t_range is None:
            r = out.agg(F.min("t_start"), F.max("t_start")).first()
            t_range = (int(r[0]), int(r[1]) + 1)
        width = max(1, (t_range[1] - t_range[0] + t_buckets - 1) // t_buckets)
        out = out.withColumn(
            "t_bucket",
            F.least(F.lit(t_buckets - 1), F.greatest(F.lit(0), (
                (F.col("t_start") - F.lit(t_range[0])) / F.lit(width)
            ).cast("int"))))
        part_cols.append("t_bucket")

    # one file per cell (repartition on the dir keys) with rows sorted
    # by bbox so parquet row-group min/max stats stay tight → row-group
    # pruning inside each cell file on top of the dir-level prune
    if zorder:
        from stark_spark.partitioner.grid import morton_expr
        out = out.withColumn("_z", morton_expr(
            F.col("xmin"), F.col("ymin"), x0=grid.x0, y0=grid.y0,
            x1=grid.x1, y1=grid.y1))
        sort_cols, drop = ["_z"], ["_z"]
    else:
        sort_cols, drop = ["xmin", "ymin"], []
    # sort by (dir keys, spatial key): the dynamic-partition writer
    # requires rows ordered by the partition columns and would insert
    # its own (non-stable) sort otherwise, destroying the spatial order
    (out.repartition(*[F.col(c) for c in part_cols])
        .sortWithinPartitions(*part_cols, *sort_cols).drop(*drop)
        .write.partitionBy(*part_cols).mode(mode).parquet(path))

    # bounds manifest: one agg scan → tiny parquet (the partition_info
    # equivalent; range = grid cell bounds, extent = true data bounds)
    mf = (out.groupBy(*part_cols)
             .agg(F.min("xmin").alias("ext_xmin"), F.min("ymin").alias("ext_ymin"),
                  F.max("xmax").alias("ext_xmax"), F.max("ymax").alias("ext_ymax"),
                  F.min("t_start").alias("t_min"), F.max("t_end").alias("t_max"),
                  F.count("*").alias("n_rows")))
    spark = df.sparkSession
    gb = local_frame(
        spark,
        [(c,) + grid.cell_bounds(c) for c in range(grid.nx * grid.ny)],
        "cell int, rng_xmin double, rng_ymin double, rng_xmax double, rng_ymax double")
    (mf.join(gb, "cell")
       .coalesce(1)
       .write.mode("overwrite").parquet(f"{path}/{MANIFEST}"))


# ---------------------------------------------------------------------------
# readers
# ---------------------------------------------------------------------------

def load_manifest(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/{MANIFEST}")


def load_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Reload with the cell column live (the `loadPartitioned`
    partitioner-reattach equivalent: placement is the cell column +
    manifest, not a Partitioner object)."""
    return spark.read.option("basePath", path).parquet(path)


def _cells_for(manifest_rows, q: G.Geometry,
               t_query: tuple[int | None, int | None] | None) -> list[int]:
    """Driver-side prune: cells whose EXTENT intersects the query
    envelope (and time window, §1.2-style both-or-neither is applied
    later row-wise — here any overlap keeps the cell)."""
    qx0, qy0, qx1, qy1 = q.bbox
    keep = []
    for r in manifest_rows:
        if r.ext_xmax < qx0 or r.ext_xmin > qx1 or \
           r.ext_ymax < qy0 or r.ext_ymin > qy1:
            continue
        if t_query and t_query != "any" and r.t_min is not None:
            ts, te = t_query
            if te is not None and r.t_min is not None and r.t_min > te:
                continue
            if ts is not None and r.t_max is not None and r.t_max < ts:
                continue
        keep.append(r.cell)
    return sorted(set(keep))


def read_pruned(spark: SparkSession, path: str, query,
                predicate: str = "intersects", *,
                t_query=None, points: bool = False) -> DataFrame:
    """Pruned scan: manifest prune (driver) → Catalyst partition prune
    (``cell.isin``, and ``t_bucket`` for spatio-temporally partitioned
    data — reference `SpatioTempPartitioner` two-level placement) →
    full row-wise ``st_predicate``."""
    q = _as_geom(query)
    mf = load_manifest(spark, path).collect()
    cells = _cells_for(mf, q, t_query)
    df = load_partitioned(spark, path)
    if not cells:
        return df.filter(F.lit(False))
    df = df.filter(F.col("cell").isin(cells))
    buckets = _buckets_for(mf, cells, t_query)
    if buckets is not None:
        df = df.filter(F.col("t_bucket").isin(buckets))
    return df.filter(st_predicate(q, predicate, points=points,
                                  t_query=t_query if t_query else "any"))


def _buckets_for(manifest_rows, cells, t_query) -> list[int] | None:
    """Temporal second-level prune: t_bucket dirs whose [t_min, t_max]
    (within the surviving cells) overlap the query window. None ⇒ data
    has no temporal partitioning or the query is untimed."""
    if not manifest_rows or "t_bucket" not in manifest_rows[0].__fields__ \
            or not t_query or t_query == "any":
        return None
    ts, te = t_query
    keep = set(cells)
    return sorted({
        r.t_bucket for r in manifest_rows
        if r.cell in keep
        and not (te is not None and r.t_min is not None and r.t_min > te)
        and not (ts is not None and r.t_max is not None and r.t_max < ts)})


def knn_pruned(spark: SparkSession, path: str, query, k: int, *,
               grid: GridSpec, tie_col: str | None = None) -> DataFrame:
    """Two-phase kNN over partitioned storage (reference knn2 /
    kNN-loader pushdown, `STSparkContext.scala:124-184`):

    1. scan ONLY the query point's home cell, take its k-th distance
       (driver gets k tiny rows);
    2. re-scan only cells intersecting the radius box; exact top-k.
    Falls back to a full top-k when the home cell holds < k rows —
    correctness never depends on phase 1.
    """
    from stark_spark.operators.knn import knn

    q = _as_geom(query)
    qx, qy = (q.bbox[0] + q.bbox[2]) / 2, (q.bbox[1] + q.bbox[3]) / 2
    home = grid.cell_of(qx, qy)
    df = load_partitioned(spark, path)

    phase1 = knn(df.filter(F.col("cell") == home), q, k,
                 points=True, tie_col=tie_col)
    rows = phase1.select("dist").collect()
    if len(rows) < k:
        return knn(df, q, k, points=True, tie_col=tie_col)
    radius = max(r.dist for r in rows)
    cells = grid.cells_for_query((qx, qy, qx, qy), expand=radius)
    if set(cells) == {home}:
        return phase1
    return knn(df.filter(F.col("cell").isin(cells)), q, k,
               points=True, tie_col=tie_col)


def save_bucketed(df: DataFrame, table: str, grid: GridSpec, *,
                  n_buckets: int = 16, mode: str = "overwrite") -> None:
    """Bucket a point frame by home cell into a managed table — the
    co-located join fast path (reference `zipJoin`, PSF:325-348: both
    sides identically partitioned ⇒ no shuffle). Spark bucketing makes
    the cell-key join exchange-free: at 100 TB this removes BOTH
    shuffles from every self/repeat join on the same tiling."""
    out = df.withColumn("cell", grid.cell_expr(F.col("xmin"), F.col("ymin")))
    (out.write.bucketBy(n_buckets, "cell").sortBy("cell")
        .mode(mode).format("parquet").saveAsTable(table))


def zip_join_bucketed(spark: SparkSession, left_table: str, right_table: str,
                      *, suffix: str = "_r",
                      predicate: str = "intersects") -> DataFrame:
    """Join two tables bucketed by the SAME grid: plain cell equi-join
    + point-equality refine, planned WITHOUT exchanges (assert via
    `.explain` — bucketed SMJ on the bucket column)."""
    from stark_spark.operators.join import (_points_native_pred,
                                            _suffix_right)

    left = spark.table(left_table)
    right = spark.table(right_table)
    right, _ = _suffix_right(left, right, suffix)
    right = right.withColumnRenamed("cell" + suffix, "cell") \
        if "cell" + suffix in right.columns else right
    joined = left.join(right, on=["cell"], how="inner")
    return joined.where(_points_native_pred(predicate, suffix))


def join_pruned(spark: SparkSession, left_path: str, right_path: str,
                predicate: str = "intersects", *, grid: GridSpec,
                left_points: bool = False, right_points: bool = False,
                suffix: str = "_r") -> DataFrame:
    """Metadata-driven join (reference ``jointextFiles``,
    `STSparkContext.scala:382-457`): the cell-pair graph is computed
    from the two manifests alone on the driver; only cells with a
    partner on the other side are read at all."""
    from stark_spark.operators.join import st_join

    lm = load_manifest(spark, left_path).collect()
    rm = load_manifest(spark, right_path).collect()
    lcells, rcells = set(), set()
    for a in lm:
        for b in rm:
            if a.ext_xmin <= b.ext_xmax and b.ext_xmin <= a.ext_xmax and \
               a.ext_ymin <= b.ext_ymax and b.ext_ymin <= a.ext_ymax:
                lcells.add(a.cell)
                rcells.add(b.cell)
    left = (load_partitioned(spark, left_path)
            .filter(F.col("cell").isin(sorted(lcells))).drop("cell"))
    right = (load_partitioned(spark, right_path)
             .filter(F.col("cell").isin(sorted(rcells))).drop("cell"))
    return st_join(left, right, predicate, grid=grid, suffix=suffix,
                   left_points=left_points, right_points=right_points)
