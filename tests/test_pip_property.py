"""Property tests of the broadcast PIP kernel (hypothesis): the edge-slab
ray cast of ``pip.PreparedPolygon`` against the dense formula it replaced
(every edge of every ring, same straddle test, same precomputed-slope
crossing, same strict ``px < xint``), and the settled grid of
``spatial_join.PolygonIndex`` against a brute-force classification of
every cell. The dense reference lives only here. Spark-free."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from jpspark import fixtures as fx
from jpspark.geom import cell, pip, wkb
from jpspark.ops import spatial_join as sj

SPECIAL = np.array([np.nan, np.inf, -np.inf])


def _closed(ring: np.ndarray) -> bool:
    return len(ring) > 1 and bool(np.all(ring[0] == ring[-1]))


def dense_parity(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Crossing parity against every edge of one ring."""
    r = ring[:-1] if _closed(ring) else ring
    x1, y1 = r[:, 0], r[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    dy = y2 - y1
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        slope = np.where(dy != 0, (x2 - x1) / np.where(dy == 0, 1.0, dy), 0.0)
        pyc = py[:, None]
        cross = ((y1 > pyc) != (y2 > pyc)) & (px[:, None] < x1 + (pyc - y1) * slope)
    return (cross.sum(axis=1) & 1).astype(bool)


def dense_contains(px: np.ndarray, py: np.ndarray, polys: list[list[np.ndarray]]) -> np.ndarray:
    out = np.zeros(len(px), dtype=bool)
    for rings in polys:
        inside = dense_parity(px, py, rings[0])
        for hole in rings[1:]:
            inside &= ~dense_parity(px, py, hole)
        out |= inside
    return out


# half-unit lattice: shared vertex y's and horizontal edges are common
LATTICE = st.integers(0, 8).map(lambda v: v / 2.0)
RING = st.tuples(
    st.lists(st.tuples(LATTICE, LATTICE), min_size=3, max_size=40), st.booleans()
).map(lambda t: np.array(list(t[0]) + ([t[0][0]] if t[1] else []), dtype=np.float64))
# exterior + holes; parts overlap freely
POLYS = st.lists(st.lists(RING, min_size=1, max_size=3), min_size=1, max_size=3)


def probe_points(polys: list[list[np.ndarray]], extra: list[tuple[float, float]]):
    """Vertices, vertices slid along their own y, edge midpoints, the
    lattice around the rings, drawn points, and every NaN/±inf mix."""
    rings = [r for part in polys for r in part if len(r)]
    v = np.vstack(rings)
    mid = np.vstack([(r + np.roll(r, -1, axis=0)) / 2.0 for r in rings])
    g = np.arange(-1.0, 5.25, 0.25)
    gx, gy = np.meshgrid(g, g)
    sx, sy = np.meshgrid(np.r_[SPECIAL, 1.0], np.r_[SPECIAL, 1.0])
    e = np.array(extra, dtype=np.float64).reshape(-1, 2)
    px = np.concatenate([v[:, 0], v[:, 0] - 0.25, v[:, 0] + 0.25, mid[:, 0], gx.ravel(), sx.ravel(), e[:, 0]])
    py = np.concatenate([v[:, 1], v[:, 1], v[:, 1], mid[:, 1], gy.ravel(), sy.ravel(), e[:, 1]])
    return px, py


@settings(max_examples=150, deadline=None)
@given(
    POLYS,
    st.lists(st.tuples(st.floats(-1, 5, allow_nan=False), st.floats(-1, 5, allow_nan=False)), max_size=30),
    st.sampled_from([None, np.nan, np.inf, -np.inf]),
    st.integers(0, 1 << 16),
)
def test_slab_contains_matches_dense_formula(polys, extra, poison, where):
    if poison is not None:  # a non-finite vertex: that ring falls back to one bin
        ring = polys[where % len(polys)][0]
        ring[where % len(ring), where % 2] = poison
    px, py = probe_points(polys, extra)
    want = dense_contains(px, py, polys)
    prep = pip.PreparedPolygon(polys)
    assert np.array_equal(prep.contains(px, py), want)
    block = pip._PAIR_BLOCK
    try:  # pair blocks cut mid-point-list
        pip._PAIR_BLOCK = 7
        assert np.array_equal(prep.contains(px, py), want)
    finally:
        pip._PAIR_BLOCK = block
    # per (point, part) pairs: each part on its own
    for p, rings in enumerate(polys):
        got = prep.inside(np.full(len(px), p), px, py)
        assert np.array_equal(got, dense_contains(px, py, [rings]))


def brute_force_grid(index: sj.PolygonIndex, polys: list[list[np.ndarray]]) -> np.ndarray:
    """-2 where an inclusive edge bbox touches the cell, else the dense
    owner of the cell center (first part wins), -1 for none."""
    fres = index.settled_res
    n = 1 << fres
    H, W = index.settled_grid.shape
    gx = index._win[0] + np.arange(W)
    gy = index._win[1] + np.arange(H)
    cx, cy = np.meshgrid(cell.LON0 + (gx + 0.5) * (360.0 / n), cell.LAT0 + (gy + 0.5) * (180.0 / n))
    owner = np.full(H * W, -1)
    for p in range(len(polys) - 1, -1, -1):  # backwards: the first part wins
        owner[dense_contains(cx.ravel(), cy.ravel(), [polys[p]])] = index.part_owner[p]
    owner = owner.reshape(H, W)
    for ring in (r for part in polys for r in part):
        a, b = ring, np.roll(ring, -1, axis=0)
        x0, y0 = cell._grid_xy(np.minimum(a[:, 0], b[:, 0]), np.minimum(a[:, 1], b[:, 1]), fres)
        x1, y1 = cell._grid_xy(np.maximum(a[:, 0], b[:, 0]), np.maximum(a[:, 1], b[:, 1]), fres)
        touch = (
            (x0[:, None, None] <= gx[None, None, :]) & (gx[None, None, :] <= x1[:, None, None])
            & (y0[:, None, None] <= gy[None, :, None]) & (gy[None, :, None] <= y1[:, None, None])
        )
        owner[touch.any(axis=0)] = -2
    return owner


def _box(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=np.float64)


LAYERS = {
    # 40 municipalities with 33-vertex jittered rings, islands included
    "admin": ([g for g in fx.admin_polygons(40, subdiv=8)["geom"]], 20_000),
    # the window's top/right edge is the grid's own last row/column
    "grid_edge": (
        [
            wkb.encode_multipolygon([[_box(170.0, 80.0, 180.0, 90.0)]]),
            wkb.encode_multipolygon([[np.array([[160.0, 75.0], [175.0, 90.0], [150.0, 90.0], [160.0, 75.0]])]]),
        ],
        5_000,
    ),
    # invalid: part 0 is an L whose hole sits in the notch, outside the
    # exterior but inside its bbox, where part 1 lies; part 1's hole runs
    # past the window. The notch belongs to part 1 (ext & ~holes)
    "hole_outside": (
        [
            wkb.encode_multipolygon([[
                np.array([[0, 0], [10, 0], [10, 4], [4, 4], [4, 10], [0, 10], [0, 0]], dtype=np.float64),
                _box(6.0, 6.0, 9.0, 9.0),
            ]]),
            wkb.encode_multipolygon([[_box(4.0, 4.0, 10.0, 10.0), _box(9.5, 5.0, 14.0, 6.0)]]),
        ],
        5_000,
    ),
}


@pytest.mark.parametrize("name", sorted(LAYERS))
def test_settled_grid_matches_brute_force(name):
    geoms, budget = LAYERS[name]
    index = sj.PolygonIndex(list(range(len(geoms))), geoms, settled_cells=budget)
    polys = [part for g in geoms for part in wkb.parse_multipolygon(g)]
    want = brute_force_grid(index, polys)
    assert np.array_equal(index.settled_grid, want)
    if name == "grid_edge":
        n = 1 << index.settled_res
        assert index._win[0] + index.settled_grid.shape[1] == n
        assert index._win[1] + index.settled_grid.shape[0] == n
    if name == "hole_outside":  # XOR of the rings would hand it to part 0
        assert index.assign_ordinals(np.array([7.5]), np.array([7.5]))[0] == 1
