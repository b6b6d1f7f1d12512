"""Micro-run of the broadcast PIP kernel alone (no Spark): the driver
build of ``spatial_join.PolygonIndex`` and the per-chunk probe
``pip_count_broadcast``'s ``mapInArrow`` kernel runs, timed at the
perfbench ``spatial_query`` shape, with a sample checked against a dense
ray-cast reference.

- Polygons: ``fixtures.admin_polygons(500, subdiv=128)`` (513-vertex
  rings), default ``settled_cells``.
- Points: 2M, placed by ``perfbench.inputs``' hash formula (seed 1): 40%
  in the hot box, the rest uniform over the Japan bbox. The formula is
  the one ``inputs.points_frame`` evaluates in the JVM, here in NumPy.

Points go through ``assign_ordinals`` in chunks of
``spatial_join._PIP_COUNT_CHUNK_ROWS`` rows, as a Spark task hands them
over. Prints the build seconds (wall, best of 3), the probe CPU seconds
(best of 3, one core), the share of points that take the exact path and
the pickled index size; exits non-zero if a sampled ordinal differs from
the dense reference (every edge of every candidate part, first wins).

Usage: python BENCH/run_pip_index.py
"""

from __future__ import annotations

import os
import pickle
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402

from jpspark import fixtures as fx  # noqa: E402
from jpspark.geom import cell, wkb  # noqa: E402
from jpspark.ops import spatial_join  # noqa: E402
from perfbench import inputs  # noqa: E402

SEED, SAMPLE, REPEATS = 1, 20_000, 3


def points(seed: int) -> tuple[np.ndarray, np.ndarray]:
    """``inputs.points_frame``'s lon/lat, evaluated in NumPy."""
    polys = fx.admin_polygons(500, subdiv=128)
    h = inputs.PointHashes.from_seed(seed)
    cx, cy, rx, ry = inputs.hot_box(polys)
    lon0, lat0, lon1, lat1 = fx.BBOX
    pid = np.arange(inputs.N_POINTS, dtype=np.int64)

    def unit(mult: int) -> np.ndarray:
        return ((pid * mult) % inputs._U_MOD).astype(np.float64) / float(inputs._U_MOD)

    ux, uy = unit(h.lon), unit(h.lat)
    hot = ((pid * h.hot) % 5) < inputs.HOT_FRAC_OF_5
    lon = np.where(hot, (cx - rx) + ux * (2 * rx), lon0 + ux * (lon1 - lon0))
    lat = np.where(hot, (cy - ry) + uy * (2 * ry), lat0 + uy * (lat1 - lat0))
    return lon, lat


def dense_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Crossing parity against every edge of one closed ring: the
    kernel's formula (precomputed slope, strict ``px < xint``)."""
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    dy = y2 - y1
    with np.errstate(divide="ignore", invalid="ignore"):
        slope = np.where(dy != 0, (x2 - x1) / np.where(dy == 0, 1.0, dy), 0.0)
    pyc = py[:, None]
    cross = ((y1 > pyc) != (y2 > pyc)) & (px[:, None] < x1 + (pyc - y1) * slope)
    return (cross.sum(axis=1) & 1).astype(bool)


def dense_ordinals(px: np.ndarray, py: np.ndarray, geoms: list) -> np.ndarray:
    out = np.full(len(px), -1, dtype=np.int64)
    for ordinal, g in enumerate(geoms):
        for rings in wkb.parse_multipolygon(g):
            ext = rings[0]
            cand = np.flatnonzero(
                (out < 0)
                & (px >= ext[:, 0].min()) & (px <= ext[:, 0].max())
                & (py >= ext[:, 1].min()) & (py <= ext[:, 1].max())
            )
            inside = dense_ring(px[cand], py[cand], ext)
            for hole in rings[1:]:
                inside &= ~dense_ring(px[cand], py[cand], hole)
            out[cand[inside]] = ordinal
    return out


def main() -> int:
    polys = fx.admin_polygons(500, subdiv=128)
    ids, geoms = polys["全国地方公共団体コード"].tolist(), polys["geom"].tolist()
    px, py = points(SEED)
    chunk = spatial_join._PIP_COUNT_CHUNK_ROWS

    builds, probes = [], []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        index = spatial_join.PolygonIndex(ids, geoms)
        builds.append(time.perf_counter() - t0)
        c0 = time.process_time()
        ords = np.concatenate([
            index.assign_ordinals(px[b : b + chunk], py[b : b + chunk])
            for b in range(0, len(px), chunk)
        ])
        probes.append(time.process_time() - c0)

    ix, iy = cell._grid_xy(px, py, index.settled_res)
    lx, ly = ix - index._win[0], iy - index._win[1]
    H, W = index.settled_grid.shape
    inwin = (lx >= 0) & (lx < W) & (ly >= 0) & (ly < H)
    exact = int((index.settled_grid[ly[inwin], lx[inwin]] == -2).sum())

    sample = np.random.default_rng(11).choice(len(px), SAMPLE, replace=False)
    good = np.array_equal(ords[sample], dense_ordinals(px[sample], py[sample], geoms))
    print(
        f"spatial_query: polygons={len(ids)} points={len(px)} settled_res={index.settled_res} "
        f"grid={H}x{W} build_s={min(builds):.3f} probe_cpu_s={min(probes):.3f} "
        f"exact_path_points={exact} ({exact / len(px):.1%}) "
        f"index_pickle_bytes={len(pickle.dumps(index)):,} "
        f"dense_sample={'ok' if good else 'MISMATCH'}"
    )
    return 0 if good else 1


if __name__ == "__main__":
    sys.exit(main())
