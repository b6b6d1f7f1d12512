"""Ray-casting point-in-polygon — vectorized NumPy kernel + scalar oracle.

The reference delegates containment to PostGIS ``ST_Contains`` after load
(/root/reference/NOTES.md:96-133 consumption pattern); the north_rule
requires a from-scratch distributed implementation.

Boundary convention (PINNED — golden tables depend on it):
  Even-odd ray casting with a horizontal ray to +x and half-open edges:
  an edge contributes a crossing iff ``(y1 > py) != (y2 > py)`` and the
  intersection x is strictly greater than px. Consequences for an
  axis-aligned rectangle [x0,x1) x [y0,y1): bottom and left edges are
  inside, top and right are outside — identical to the ``floor``
  half-open convention used by the cell index and tile math, so grid
  tilings assign every point to exactly one polygon.

Kernels: ``points_in_ring`` and friends test every edge for every point
(the oracles' dense form). :class:`PreparedPolygon`, the hot path of the
PIP joins and the zonal masks, tests a point only against the edges of
its ring's y-slab, with a precomputed slope in the crossing formula.
"""

from __future__ import annotations

import numpy as np

# (point, edge) pairs per block of PreparedPolygon's slab probe
_PAIR_BLOCK = 1 << 15


def point_in_ring_scalar(px: float, py: float, ring: np.ndarray) -> bool:
    """O(n) scalar oracle — used by property tests and golden generation."""
    inside = False
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        if (y1 > py) != (y2 > py):
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
            if px < xint:
                inside = not inside
    return inside


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized over points: (P,) bool for one ring of (N,2) vertices."""
    x1 = ring[:, 0]
    y1 = ring[:, 1]
    x2 = np.roll(x1, -1)
    y2 = np.roll(y1, -1)
    px = px[:, None]  # (P,1) vs (N,) edges
    py = py[:, None]
    straddle = (y1 > py) != (y2 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
    crossings = straddle & (px < xint)
    return (crossings.sum(axis=1) % 2).astype(bool)


def points_in_polygon(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd over exterior + holes (ring 0 exterior)."""
    inside = points_in_ring(px, py, rings[0])
    for hole in rings[1:]:
        inside &= ~points_in_ring(px, py, hole)
    return inside


def points_in_multipolygon(px: np.ndarray, py: np.ndarray, polys: list[list[np.ndarray]]) -> np.ndarray:
    out = np.zeros(len(px), dtype=bool)
    for rings in polys:
        remaining = ~out
        if not remaining.any():
            break
        out[remaining] = points_in_polygon(px[remaining], py[remaining], rings)
    return out


class PreparedPolygon:
    """Precomputed edge tables plus a y-slab index for the hot PIP path.

    Every ring's edges are flat (x1, y1, y2, slope) float64 arrays
    (``ring_off`` delimits the rings, ``part_off`` the parts; a part's
    first ring is its exterior). The slope replaces the per-point division
    of the crossing test with a multiply; horizontal edges get slope 0 and
    can never satisfy the straddle test.

    Slabs: each ring's y-range is cut into ~edges/4 equal bins, and an
    int32 CSR (``bin_start`` -> ``bin_edges``) lists per bin the
    non-horizontal edges whose [min y, max y] meets it. A point is tested
    only against its own bin's edges. Exact: the bin ``floor((y - ymin) *
    scale)`` is monotone in y, so every edge that straddles the point's y
    lists the point's bin, and an edge that does not straddle it cannot
    cross the ray; the parity is a count, so the order of the pairs
    cannot change it. A ring whose y-range is not finite keeps every edge
    in one bin (the dense formula)."""

    __slots__ = (
        "x1", "y1", "y2", "slope", "ring_off", "part_off",
        "ylo", "yhi", "scale", "top", "bin_off", "bin_start", "bin_edges",
    )

    def __init__(self, polys: list[list[np.ndarray]]):
        rings = [np.asarray(r, dtype=np.float64).reshape(-1, 2) for part in polys for r in part]
        rings = [r[:-1] if _closed(r) else r for r in rings]
        self.part_off = np.cumsum([0] + [len(part) for part in polys]).astype(np.int32)
        n_edges = np.array([len(r) for r in rings], dtype=np.int64)
        self.ring_off = np.concatenate([[0], np.cumsum(n_edges)]).astype(np.int32)
        verts = np.concatenate(rings) if rings else np.zeros((0, 2))
        self.x1 = np.ascontiguousarray(verts[:, 0])
        self.y1 = np.ascontiguousarray(verts[:, 1])
        nxt = self._next()
        x2, self.y2 = self.x1[nxt], self.y1[nxt]
        dy = self.y2 - self.y1

        # per ring: y-range and bin scale; an empty ring's range is empty
        ylo = np.full(len(rings), np.inf)
        yhi = np.full(len(rings), -np.inf)
        nonempty = n_edges > 0
        starts = self.ring_off[:-1][nonempty]
        if len(starts):
            ylo[nonempty] = np.minimum.reduceat(self.y1, starts)
            yhi[nonempty] = np.maximum.reduceat(self.y1, starts)
        dense = nonempty & ~(np.isfinite(ylo) & np.isfinite(yhi))
        ylo[dense], yhi[dense] = -np.inf, np.inf
        nbins = np.maximum(n_edges // 4, 1)
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            self.slope = np.where(dy != 0, (x2 - self.x1) / np.where(dy == 0, 1.0, dy), 0.0)
            scale = nbins / (yhi - ylo)
        single = ~(np.isfinite(scale) & (scale > 0))
        nbins[single], scale[single] = 1, 0.0
        self.ylo, self.yhi, self.scale = ylo, yhi, scale
        self.top = (nbins - 1).astype(np.int32)
        self.bin_off = np.concatenate([[0], np.cumsum(nbins)]).astype(np.int32)

        # CSR bin -> edges over every ring at once
        e = np.flatnonzero(dy != 0)  # horizontal edges never straddle
        r = np.repeat(np.arange(len(rings)), n_edges)[e]
        blo = self._bin(r, np.minimum(self.y1[e], self.y2[e]))
        cnt = self._bin(r, np.maximum(self.y1[e], self.y2[e])) - blo + 1
        gbin = ranges(self.bin_off[r] + blo, cnt)
        self.bin_edges = np.repeat(e, cnt)[np.argsort(gbin, kind="stable")].astype(np.int32)
        self.bin_start = np.concatenate(
            [[0], np.cumsum(np.bincount(gbin, minlength=int(self.bin_off[-1])))]
        ).astype(np.int32)

    def _next(self) -> np.ndarray:
        """Index of each edge's end vertex: the next one of its ring."""
        nxt = np.arange(1, len(self.x1) + 1)
        last = self.ring_off[1:] - 1
        nonempty = last >= self.ring_off[:-1]
        nxt[last[nonempty]] = self.ring_off[:-1][nonempty]
        return nxt

    def x2(self) -> np.ndarray:
        return self.x1[self._next()]

    def _bin(self, ring: np.ndarray, y: np.ndarray) -> np.ndarray:
        """Slab of ``y`` (``ylo <= y <= yhi``) within each ring: one
        monotone map for edge ends and points alike. A one-bin ring's
        product may be NaN (infinite range), which ``fmin`` drops."""
        with np.errstate(invalid="ignore"):
            t = np.fmin((y - self.ylo[ring]) * self.scale[ring], self.top[ring])
        return t.astype(np.int64)

    def contains(self, px: np.ndarray, py: np.ndarray) -> np.ndarray:
        """Inside any part (even-odd over its exterior and holes)."""
        out = np.zeros(len(px), dtype=bool)
        for p in range(len(self.part_off) - 1):
            idx = np.flatnonzero(~out)
            if not len(idx):
                break
            out[idx[self.inside(np.full(len(idx), p), px[idx], py[idx])]] = True
        return out

    def inside(self, part: np.ndarray, px: np.ndarray, py: np.ndarray) -> np.ndarray:
        """Per (point, part) pair: inside that part — an odd crossing count
        against its exterior and an even one against each of its holes."""
        first = self.part_off[part]
        n_rings = self.part_off[part + 1] - first
        pair = np.repeat(np.arange(len(part)), n_rings)
        ring = ranges(first, n_rings)
        odd = self._parity(ring, px[pair], py[pair])
        ext = ring == first[pair]
        out = np.zeros(len(part), dtype=bool)
        out[pair[odd & ext]] = True
        out[pair[odd & ~ext]] = False
        return out

    def _parity(self, ring: np.ndarray, px: np.ndarray, py: np.ndarray) -> np.ndarray:
        """Per (point, ring) pair: odd crossing count — the pinned formula
        on the (point, edge) pairs of the point's slab."""
        out = np.zeros(len(px), dtype=bool)
        cand = np.flatnonzero((py >= self.ylo[ring]) & (py < self.yhi[ring]))  # NaN: never
        if not len(cand):
            return out
        ring, cx, cy = ring[cand], px[cand], py[cand]
        g = self.bin_off[ring] + self._bin(ring, cy)
        s = self.bin_start[g]
        cnt = self.bin_start[g + 1] - s
        # bounded (point, edge) pair blocks keep the temporaries small
        with np.errstate(invalid="ignore", over="ignore"):  # non-finite rings
            for a, b in blocks(cnt, _PAIR_BLOCK):
                c = cnt[a:b]
                e = self.bin_edges[ranges(s[a:b], c)]
                qx, qy = np.repeat(cx[a:b], c), np.repeat(cy[a:b], c)
                x1, y1 = self.x1[e], self.y1[e]
                cross = ((y1 > qy) != (self.y2[e] > qy)) & (qx < x1 + (qy - y1) * self.slope[e])
                n_cross = np.concatenate([[0], np.cumsum(cross)])
                end = np.cumsum(c)
                out[cand[a:b]] = (n_cross[end] - n_cross[end - c]) & 1
        return out


def blocks(counts: np.ndarray, size: int) -> list[tuple[int, int]]:
    """Consecutive ``(start, stop)`` slices of ``counts`` whose sums stay
    near ``size`` (an item larger than ``size`` is a block of its own)."""
    ends = np.cumsum(counts)
    cuts = np.searchsorted(ends, np.arange(size, ends[-1] if len(ends) else 0, size), side="right")
    return [(int(a), int(b)) for a, b in zip([0, *cuts], [*cuts, len(counts)]) if a < b]


def ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """``concatenate([arange(s, s + c) for s, c in zip(starts, counts)])``
    without the Python loop."""
    counts = np.asarray(counts, dtype=np.int64)
    ends = np.cumsum(counts)
    return np.repeat(np.asarray(starts, dtype=np.int64) - ends + counts, counts) + np.arange(
        ends[-1] if len(ends) else 0
    )


def _closed(ring: np.ndarray) -> bool:
    return len(ring) > 1 and bool(np.all(ring[0] == ring[-1]))


def points_in_ring_blocked(
    px: np.ndarray, py: np.ndarray, ring: np.ndarray, block: int = 1 << 18
) -> np.ndarray:
    """points_in_ring with bounded memory: the (P,N) edge matrix is chunked
    so P*N stays under ``block`` — keeps pandas-UDF batches from blowing up
    on detailed polygons."""
    n = max(1, len(ring))
    step = max(1, block // n)
    out = np.empty(len(px), dtype=bool)
    for i in range(0, len(px), step):
        out[i : i + step] = points_in_ring(px[i : i + step], py[i : i + step], ring)
    return out
