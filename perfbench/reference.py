"""Independent numpy references for every benchmark operation.

Nothing here imports stark_spark: each expected result is computed from
the generated inputs with plain numpy, outside the timed region, and the
benchmark compares the engine's output against it.

Result shapes:
  * filters and joins: ``(count, sum_a, sum_b, sum_ab)`` of the matched
    ids (order-insensitive, exact int64 arithmetic);
  * kNN: the list of ids ordered by (distance, id);
  * DBSCAN: cluster-partition equivalence (``dbscan_matches``).
"""

from __future__ import annotations

import numpy as np


def checksum(a: np.ndarray, b: np.ndarray | None = None) -> tuple:
    """Order-insensitive checksum of id rows (or id pairs)."""
    a = np.asarray(a, dtype=np.int64)
    if b is None:
        return (int(len(a)), int(a.sum()), int((a * a).sum()), 0)
    b = np.asarray(b, dtype=np.int64)
    return (int(len(a)), int(a.sum()), int(b.sum()), int((a * b).sum()))


def point_in_ring(xs: np.ndarray, ys: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray cast against one closed ring (n+1 x 2). Points on the
    boundary are not classified reliably; the generators keep them off."""
    inside = np.zeros(len(xs), dtype=bool)
    for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
        crosses = (ay > ys) != (by > ys)
        if not crosses.any():
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = ax + (ys - ay) * (bx - ax) / (by - ay)
        inside ^= crosses & (xs < xint)
    return inside


def in_rect(xs, ys, rect) -> np.ndarray:
    x0, y0, x1, y1 = rect
    return (xs >= x0) & (xs <= x1) & (ys >= y0) & (ys <= y1)


def in_window(ts, window) -> np.ndarray:
    t0, t1 = window
    return (ts >= t0) & (ts <= t1)


def dist(ax, ay, bx, by) -> np.ndarray:
    """Euclidean distance with the engine's operation order."""
    dx = ax - bx
    dy = ay - by
    return np.sqrt(dx * dx + dy * dy)


def knn_ids(xs, ys, ids, qx, qy, k) -> list[int]:
    d = dist(xs, ys, qx, qy)
    order = np.lexsort((ids, d))[:k]
    return [int(i) for i in ids[order]]


def pairs_within(ax, ay, bx, by, d: float, squared: bool = False):
    """All (i, j) with distance(a_i, b_j) <= d, by uniform-grid bucketing.

    ``squared=True`` tests ``dx*dx + dy*dy <= d*d`` (the DBSCAN form);
    otherwise ``sqrt(dx*dx + dy*dy) <= d`` (the join form).
    """
    cell = max(d, 1e-9)
    m = np.int64(1 << 21)
    bcx = np.floor(bx / cell).astype(np.int64)
    bcy = np.floor(by / cell).astype(np.int64)
    bkey = bcx * m + bcy
    order = np.argsort(bkey, kind="stable")
    skey = bkey[order]
    acx = np.floor(ax / cell).astype(np.int64)
    acy = np.floor(ay / cell).astype(np.int64)
    out_a, out_b = [], []
    for ox in (-1, 0, 1):
        for oy in (-1, 0, 1):
            key = (acx + ox) * m + (acy + oy)
            lo = np.searchsorted(skey, key, "left")
            hi = np.searchsorted(skey, key, "right")
            cnt = hi - lo
            total = int(cnt.sum())
            if total == 0:
                continue
            ia = np.repeat(np.arange(len(ax)), cnt)
            start = np.repeat(lo - (np.cumsum(cnt) - cnt), cnt)
            ib = order[start + np.arange(total)]
            dx = ax[ia] - bx[ib]
            dy = ay[ia] - by[ib]
            d2 = dx * dx + dy * dy
            ok = d2 <= d * d if squared else np.sqrt(d2) <= d
            out_a.append(ia[ok])
            out_b.append(ib[ok])
    if not out_a:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    return np.concatenate(out_a), np.concatenate(out_b)


def knn_join_pairs(lx, ly, lid, rx, ry, rid, k: int, radius: float):
    """Exact kNN join: for every left point its k nearest right points by
    (distance, right id). Candidates come from a radius search; left
    points with fewer than k candidates fall back to brute force."""
    ia, ib = pairs_within(lx, ly, rx, ry, radius)
    d = dist(lx[ia], ly[ia], rx[ib], ry[ib])
    order = np.lexsort((rid[ib], d, ia))
    ia, ib = ia[order], ib[order]
    first = np.searchsorted(ia, np.arange(len(lx)), "left")
    have = np.bincount(ia, minlength=len(lx))
    rank = np.arange(len(ia)) - first[ia]
    keep = (rank < k) & (have[ia] >= k)
    la, rb = [lid[ia[keep]]], [rid[ib[keep]]]
    for i in np.nonzero(have < k)[0]:
        dd = dist(lx[i], ly[i], rx, ry)
        sel = np.lexsort((rid, dd))[:k]
        la.append(np.full(len(sel), lid[i]))
        rb.append(rid[sel])
    return np.concatenate(la), np.concatenate(rb)


def interval_pairs_checksum(lid, ls, le, rid, rt) -> tuple:
    """Checksum of all (interval, instant) pairs with ls <= t <= le."""
    order = np.argsort(rt, kind="stable")
    ts, ids = rt[order], rid[order].astype(np.int64)
    pref = np.concatenate([[0], np.cumsum(ids)])
    lo = np.searchsorted(ts, ls, "left")
    hi = np.searchsorted(ts, le, "right")
    cnt = (hi - lo).astype(np.int64)
    rsum = pref[hi] - pref[lo]
    lid = lid.astype(np.int64)
    return (int(cnt.sum()), int((lid * cnt).sum()), int(rsum.sum()),
            int((lid * rsum).sum()))


def polygon_contains_pairs(polys, pid, xs, ys, ids):
    """(polygon id, point id) for points strictly inside each polygon."""
    order = np.argsort(xs, kind="stable")
    sx = xs[order]
    la, rb = [], []
    for ring, p in zip(polys, pid):
        x0, y0 = ring[:, 0].min(), ring[:, 1].min()
        x1, y1 = ring[:, 0].max(), ring[:, 1].max()
        lo, hi = np.searchsorted(sx, x0, "left"), np.searchsorted(sx, x1, "right")
        cand = order[lo:hi]
        cand = cand[(ys[cand] >= y0) & (ys[cand] <= y1)]
        hit = cand[point_in_ring(xs[cand], ys[cand], ring)]
        la.append(np.full(len(hit), p, dtype=np.int64))
        rb.append(ids[hit])
    return np.concatenate(la), np.concatenate(rb)


def skyline_ids(xs, ys, ids) -> set[int]:
    """Min-min 2-D skyline: points no other point weakly dominates with
    at least one strict improvement."""
    order = np.lexsort((ys, xs))
    sy = ys[order]
    prev_min = np.concatenate([[np.inf], np.minimum.accumulate(sy)[:-1]])
    return {int(i) for i in ids[order][sy < prev_min]}


def raster_checksum(xs, ys, tile_px, pw, vec_rects) -> tuple:
    """Tiles built by binning points into ``tile_px``-square tiles of
    pixel width ``pw`` (pixel value = point count), joined with
    axis-aligned rectangles by closed-box intersection and cropped to the
    pixel-aligned intersection. Returns (pairs kept, pixel sum)."""
    px = np.floor(xs / pw).astype(np.int64)
    py = np.floor(ys / pw).astype(np.int64)
    npx = int(px.max()) + 1
    npy = int(py.max()) + 1
    counts = np.zeros((npx, npy), dtype=np.int64)
    np.add.at(counts, (px, py), 1)
    span = tile_px * pw
    tx, ty = px // tile_px, py // tile_px
    tiles = np.unique(tx * (1 << 20) + ty)
    tiles_x, tiles_y = tiles >> 20, tiles & ((1 << 20) - 1)
    pad = np.zeros(((int(tiles_x.max()) + 1) * tile_px,
                    (int(tiles_y.max()) + 1) * tile_px), dtype=np.int64)
    pad[:npx, :npy] = counts
    pairs, total = 0, 0
    for (x0, y0, x1, y1) in vec_rects:
        for cx, cy in zip(tiles_x, tiles_y):
            ulx, uly = cx * span, (cy + 1) * span
            bx0, by0, bx1, by1 = ulx, uly - span, ulx + span, uly
            if bx0 > x1 or x0 > bx1 or by0 > y1 or y0 > by1:
                continue
            i0 = max(0, int(np.floor((x0 - ulx) / pw)))
            i1 = min(tile_px, int(np.ceil((x1 - ulx) / pw)))
            j0 = max(0, int(np.floor((uly - y1) / pw)))
            j1 = min(tile_px, int(np.ceil((uly - y0) / pw)))
            if i0 >= i1 or j0 >= j1:
                continue
            pairs += 1
            # pixel row j counts down from the tile top
            gx0 = cx * tile_px
            gy_top = (cy + 1) * tile_px - 1
            block = pad[gx0 + i0:gx0 + i1, gy_top - j1 + 1:gy_top - j0 + 1]
            total += int(block.sum())
    return (pairs, total)


def dbscan_reference(xs, ys, eps: float, min_pts: int):
    """Core flags and connected components of the core graph."""
    ia, ib = pairs_within(xs, ys, xs, ys, eps, squared=True)
    deg = np.bincount(ia, minlength=len(xs))
    core = deg >= min_pts
    cc = core[ia] & core[ib]
    ea, eb = ia[cc], ib[cc]
    lab = np.arange(len(xs))
    while True:
        m = lab.copy()
        np.minimum.at(m, ea, lab[eb])
        m = m[m]
        if np.array_equal(m, lab):
            break
        lab = m
    border_a, border_b = ia[~core[ia] & core[ib]], ib[~core[ia] & core[ib]]
    return core, lab, (border_a, border_b)


def dbscan_matches(ref, keys, cluster, is_core) -> bool:
    """Engine labels are a valid DBSCAN result: same core set, same
    partition of core points, noise = non-core points with no core
    neighbour, and each border point in a cluster of a core neighbour."""
    core, lab, (ba, bb) = ref
    n = len(core)
    if len(keys) != n or sorted(keys) != list(range(n)):
        return False
    cl = np.empty(n, dtype=np.int64)
    ic = np.empty(n, dtype=bool)
    cl[keys] = cluster
    ic[keys] = np.asarray(is_core) == 1
    if not np.array_equal(ic, core):
        return False
    has_core_nb = np.zeros(n, dtype=bool)
    has_core_nb[ba] = True
    noise = ~core & ~has_core_nb
    if not np.array_equal(cl == -1, noise):
        return False
    # bijection between engine clusters and reference components on cores
    pairs = np.unique(np.stack([cl[core], lab[core]], axis=1), axis=0)
    if len(np.unique(pairs[:, 0])) != len(pairs) or \
            len(np.unique(pairs[:, 1])) != len(pairs):
        return False
    comp_of = dict(zip(pairs[:, 0].tolist(), pairs[:, 1].tolist()))
    ok = np.zeros(n, dtype=bool)
    ok[core | noise] = True
    mapped = np.array([comp_of.get(c, -2) for c in cl[ba]], dtype=np.int64)
    good = mapped == lab[bb]
    ok[ba[good]] = True
    return bool(ok.all())
