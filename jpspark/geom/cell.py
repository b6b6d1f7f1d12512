"""Hierarchical lon/lat cell index — the engine's H3/S2 analog (SURVEY F15).

A from-scratch, NumPy-vectorized, Z-order (Morton) quadtree over the
geographic plane. The reference delegates all spatial indexing to PostGIS
GiST (/root/reference/NOTES.md:100-133 shows the consumption pattern); the
north_rule requires a distributed cell index with an H3-like API instead:

    encode(lon, lat, res)      -> int64 cell id
    parent(cell, res)          -> coarser ancestor
    children(cell)             -> 4 children at res+1
    bounds(cell)               -> (lon0, lat0, lon1, lat1)
    ring(cell, k)              -> ids whose Chebyshev grid distance == k
    disk(cell, k)              -> ids with distance <= k
    cover_bbox(bbox, res)      -> ids intersecting a bbox (polyfill analog)

Cell id layout (int64, always positive):
    bits 58..62 : resolution (0..26)
    bits 0..2r-1: Morton-interleaved (x, y) grid coordinates at resolution r
x spans lon ∈ [-180, 180), y spans lat ∈ [-90, 90); at resolution r the
grid is 2^r × 2^r. Cells are half-open: a point on a shared edge belongs to
the cell to its east/north — matching the half-open floor convention used by
the PIP kernel and tile math so the three never disagree.

All functions accept scalars or NumPy arrays and stay in int64/float64 —
safe inside Arrow-vectorized pandas UDFs (no per-row Python).
"""

from __future__ import annotations

import numpy as np

MAX_RES = 26
_RES_SHIFT = 58

LON0, LON1 = -180.0, 180.0
LAT0, LAT1 = -90.0, 90.0


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of each int64 so they occupy even positions."""
    v = v.astype(np.uint64)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _unpart1by1(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def _grid_xy(lon, lat, res: int):
    """lon/lat -> integer grid coords at resolution ``res`` (half-open)."""
    n = 1 << res
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    # NaN goes to column/row 0 explicitly (casting it is undefined), and
    # the clip comes before the int cast, so an infinite or huge
    # coordinate lands in the edge cell on its own side instead of
    # overflowing int64
    gx = np.nan_to_num((lon - LON0) / (LON1 - LON0) * n, nan=0.0)
    gy = np.nan_to_num((lat - LAT0) / (LAT1 - LAT0) * n, nan=0.0)
    x = np.floor(np.clip(gx, 0, n - 1)).astype(np.int64)
    y = np.floor(np.clip(gy, 0, n - 1)).astype(np.int64)
    return x, y


def grid_xy(lon, lat, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized lon/lat -> integer (x, y) grid coordinates at ``res``:
    the cell ``encode`` assigns, before Morton interleaving."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    return _grid_xy(lon, lat, res)


def from_xy(x, y, res: int) -> np.ndarray:
    x = np.asarray(x, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    m = _part1by1(x) | (_part1by1(y) << np.uint64(1))
    return (m | (np.uint64(res) << np.uint64(_RES_SHIFT))).astype(np.int64)


def to_xy(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell -> (x, y, res)."""
    c = np.asarray(cell, dtype=np.int64).astype(np.uint64)
    res = (c >> np.uint64(_RES_SHIFT)).astype(np.int64)
    m = c & ((np.uint64(1) << np.uint64(_RES_SHIFT)) - np.uint64(1))
    x = _unpart1by1(m).astype(np.int64)
    y = _unpart1by1(m >> np.uint64(1)).astype(np.int64)
    return x, y, res


def encode(lon, lat, res: int) -> np.ndarray:
    """Vectorized lon/lat -> cell id at resolution ``res``."""
    x, y = grid_xy(lon, lat, res)
    return from_xy(x, y, res)


def resolution(cell) -> np.ndarray:
    return (np.asarray(cell, dtype=np.int64).astype(np.uint64) >> np.uint64(_RES_SHIFT)).astype(np.int64)


def parent(cell, res: int) -> np.ndarray:
    x, y, r = to_xy(cell)
    shift = r - res
    if np.any(shift < 0):
        raise ValueError("parent res must be <= cell res")
    return from_xy(x >> shift, y >> shift, res)


def children(cell) -> np.ndarray:
    """4 children at res+1; input scalar or array -> shape (..., 4)."""
    x, y, r = to_xy(cell)
    x, y = np.atleast_1d(x), np.atleast_1d(y)
    r = int(np.atleast_1d(r)[0])
    cx = (x[:, None] << 1) + np.array([0, 1, 0, 1])
    cy = (y[:, None] << 1) + np.array([0, 0, 1, 1])
    return from_xy(cx, cy, r + 1)


def bounds(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """cell -> (lon0, lat0, lon1, lat1), half-open [lon0, lon1)."""
    x, y, r = to_xy(cell)
    n = (np.int64(1) << r).astype(np.float64)
    w, h = (LON1 - LON0) / n, (LAT1 - LAT0) / n
    lon0 = LON0 + x * w
    lat0 = LAT0 + y * h
    return lon0, lat0, lon0 + w, lat0 + h


def ring(cell: int, k: int) -> np.ndarray:
    """Cell ids at Chebyshev grid distance exactly ``k`` (k=0 -> self).

    The H3 ``gridRing`` analog. Edge-of-world cells are clipped (no
    wraparound; fixtures live in the Japan bbox far from the antimeridian).
    """
    x, y, r = to_xy(cell)
    x, y, r = int(x), int(y), int(r)
    n = 1 << r
    if k == 0:
        return np.array([cell], dtype=np.int64)
    xs, ys = [], []
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            if max(abs(dx), abs(dy)) != k:
                continue
            nx, ny = x + dx, y + dy
            if 0 <= nx < n and 0 <= ny < n:
                xs.append(nx)
                ys.append(ny)
    if not xs:
        return np.empty(0, dtype=np.int64)
    return from_xy(np.array(xs), np.array(ys), r)


def disk(cell: int, k: int) -> np.ndarray:
    """All cell ids with Chebyshev distance <= k (the (2k+1)^2 block)."""
    x, y, r = to_xy(cell)
    x, y, r = int(x), int(y), int(r)
    n = 1 << r
    lo_x, hi_x = max(0, x - k), min(n - 1, x + k)
    lo_y, hi_y = max(0, y - k), min(n - 1, y + k)
    gx, gy = np.meshgrid(np.arange(lo_x, hi_x + 1), np.arange(lo_y, hi_y + 1))
    return from_xy(gx.ravel(), gy.ravel(), r)


def cover_bbox(xmin: float, ymin: float, xmax: float, ymax: float, res: int) -> np.ndarray:
    """Cell ids at ``res`` intersecting the closed bbox (polyfill analog).

    Used to explode polygons onto their covering cells before the spatial
    equi-join (SURVEY J4). Conservative: returns every cell whose square
    intersects the bbox; the exact PIP filter removes false positives.
    """
    n = 1 << res
    x0 = max(0, min(n - 1, int(np.floor((xmin - LON0) / (LON1 - LON0) * n))))
    x1 = max(0, min(n - 1, int(np.floor((xmax - LON0) / (LON1 - LON0) * n))))
    y0 = max(0, min(n - 1, int(np.floor((ymin - LAT0) / (LAT1 - LAT0) * n))))
    y1 = max(0, min(n - 1, int(np.floor((ymax - LAT0) / (LAT1 - LAT0) * n))))
    gx, gy = np.meshgrid(np.arange(x0, x1 + 1), np.arange(y0, y1 + 1))
    return from_xy(gx.ravel(), gy.ravel(), res)


def cell_size_deg(res: int) -> tuple[float, float]:
    n = 1 << res
    return (LON1 - LON0) / n, (LAT1 - LAT0) / n


def compact(cells) -> np.ndarray:
    """H3 ``compact`` analog: repeatedly replace every COMPLETE sibling
    quartet in the input set with its parent, producing the minimal
    mixed-resolution cover of the same region. Input may already be
    mixed-resolution; duplicates are removed. Fully vectorized per level
    (unique-with-counts on parent ids).

    At 10^12 rows this is what keeps a polygon's cell cover broadcastable:
    an aligned region of 4^k fine cells collapses to one coarse id, so
    cover size tracks boundary length, not area."""
    cur = np.unique(np.asarray(cells, dtype=np.int64))
    out = []
    while len(cur):
        res = resolution(cur)
        top = int(res.max())
        if top == 0:
            out.append(cur)
            break
        at_top = cur[res == top]
        rest = cur[res != top]
        par = parent(at_top, top - 1)
        uniq, inv, counts = np.unique(par, return_inverse=True, return_counts=True)
        full = counts[inv] == 4
        out.append(at_top[~full])
        promoted = uniq[counts == 4]
        # promoted cells re-enter at res top-1 and may merge again there;
        # coarser input cells keep descending the loop until res 0
        cur = np.union1d(rest, promoted)
    return np.sort(np.concatenate(out)) if out else np.empty(0, dtype=np.int64)


def uncompact(cells, res: int) -> np.ndarray:
    """H3 ``uncompact`` analog: expand every cell to its descendants at
    ``res`` (cells already at ``res`` pass through). Vectorized with one
    broadcast per distinct source resolution."""
    c = np.asarray(cells, dtype=np.int64).ravel()
    if len(c) == 0:
        return c
    r = resolution(c)
    if np.any(r > res):
        raise ValueError("uncompact target res must be >= every cell's res")
    out = []
    for r0 in np.unique(r):
        d = int(res - r0)
        x, y, _ = to_xy(c[r == r0])
        if d == 0:
            out.append(from_xy(x, y, res))
            continue
        side = 1 << d
        off = np.arange(side, dtype=np.int64)
        cx = (x[:, None, None] << d) + off[None, :, None]
        cy = (y[:, None, None] << d) + off[None, None, :]
        out.append(from_xy(cx, cy, res).ravel())
    return np.sort(np.concatenate(out))
