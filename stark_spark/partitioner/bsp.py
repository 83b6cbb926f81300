"""Cost-based binary space partitioning (BSP) over a cell histogram.

Reference: `partitioner/BSPartitioner.scala:9-187` + `BSP2.scala:28-100`
(MR-DBSCAN-style equal-cost splits over a per-cell count histogram,
computed multithreaded on the driver) with the histogram built by
`GridPartitioner.scala:260-315` via reduceByKey.

Our shape (SURVEY.md §2.11): the histogram is a `groupBy(cell).count()`
— one distributed agg — collected to the driver (it's ≤ nx*ny rows, tiny
at any data scale); the recursive equal-cost split runs in numpy; the
result is a cell→partition mapping joined back (broadcast) so the
physical placement is `repartition(partition_id)`. This fights skew the
same way the reference does, and AQE's skew-join handles the rest.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stark_spark.partitioner.grid import GridSpec, with_cell
from stark_spark.session import local_frame


@dataclass
class BspNode:
    """A BSP leaf: a rectangle of whole grid cells + its point cost."""
    cx0: int
    cy0: int
    cx1: int  # exclusive
    cy1: int  # exclusive
    cost: int


def bsp_partitions(hist: np.ndarray, max_cost: int,
                   min_side: int = 1) -> list[BspNode]:
    """Recursively split the 2-D cell histogram into ≤max_cost leaves.

    hist: (ny, nx) int array of per-cell counts. Splits along the longer
    axis at the most cost-balanced whole-cell boundary (BSP2's
    "equal-cost split", BSP2.scala:44-100).
    """
    ny, nx = hist.shape
    # 2-D prefix sums for O(1) range cost
    P = np.zeros((ny + 1, nx + 1), dtype=np.int64)
    P[1:, 1:] = hist.cumsum(0).cumsum(1)

    def cost(cx0, cy0, cx1, cy1) -> int:
        return int(P[cy1, cx1] - P[cy0, cx1] - P[cy1, cx0] + P[cy0, cx0])

    out: list[BspNode] = []
    stack = [(0, 0, nx, ny)]
    while stack:
        cx0, cy0, cx1, cy1 = stack.pop()
        c = cost(cx0, cy0, cx1, cy1)
        w, h = cx1 - cx0, cy1 - cy0
        if c <= max_cost or (w <= min_side and h <= min_side):
            out.append(BspNode(cx0, cy0, cx1, cy1, c))
            continue
        # split along the longer axis at the most balanced boundary
        best, best_diff = None, None
        if w >= h and w > min_side:
            for s in range(cx0 + 1, cx1):
                d = abs(cost(cx0, cy0, s, cy1) - cost(s, cy0, cx1, cy1))
                if best_diff is None or d < best_diff:
                    best, best_diff = ("x", s), d
        if (h > w or best is None) and h > min_side:
            for s in range(cy0 + 1, cy1):
                d = abs(cost(cx0, cy0, cx1, s) - cost(cx0, s, cx1, cy1))
                if best_diff is None or d < best_diff:
                    best, best_diff = ("y", s), d
        if best is None:
            out.append(BspNode(cx0, cy0, cx1, cy1, c))
            continue
        axis, s = best
        if axis == "x":
            stack.append((cx0, cy0, s, cy1))
            stack.append((s, cy0, cx1, cy1))
        else:
            stack.append((cx0, cy0, cx1, s))
            stack.append((cx0, s, cx1, cy1))
    return out


def assign_bsp_cells(df: DataFrame, grid: GridSpec,
                     max_cost: int | None = None,
                     part_col: str = "bsp_part") -> tuple[DataFrame, list[BspNode]]:
    """Histogram → BSP → broadcast cell→partition map joined back.

    Returns (df with ``part_col``, leaves). One shuffle for the
    histogram agg, one broadcast-join (no shuffle), then the caller
    repartitions on ``part_col``.
    """
    cdf = with_cell(df, grid, col="_bsp_cell")
    hist_rows = cdf.groupBy("_bsp_cell").count().collect()
    hist = np.zeros((grid.ny, grid.nx), dtype=np.int64)
    total = 0
    for r in hist_rows:
        cy, cx = divmod(int(r["_bsp_cell"]), grid.nx)
        hist[cy, cx] = r["count"]
        total += r["count"]
    if max_cost is None:
        max_cost = max(1, total // 64)
    leaves = bsp_partitions(hist, max_cost)
    # cell id -> partition id mapping (tiny; broadcast join)
    mapping = []
    for pid, leaf in enumerate(leaves):
        for cy in range(leaf.cy0, leaf.cy1):
            for cx in range(leaf.cx0, leaf.cx1):
                mapping.append((cy * grid.nx + cx, pid))
    mdf = local_frame(df.sparkSession, mapping,
                      "_bsp_cell int, {} int".format(part_col))
    return cdf.join(F.broadcast(mdf), "_bsp_cell").drop("_bsp_cell"), leaves
