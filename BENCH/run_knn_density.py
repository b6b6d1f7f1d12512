"""Micro-run of the broadcast kNN kernel alone (no Spark): the per-batch
work of ``knn_join_broadcast``'s ``mapInArrow`` kernel, timed on two
target densities, with a sample checked against brute force.

- ``spatial_query``: the perfbench read-side shape — 500
  ``fixtures.facilities`` over 500 municipalities, 500k queries, 40% of
  them in the hot box (municipality 0's inscribed box), k=5, res=5.
- ``dense``: 10^5 uniform targets x 4,000 uniform queries over the Japan
  bbox, k=5, res=5.

Queries go through the kernel in batches of 2^17 rows, as a Spark task
hands them over. Prints one line per shape: the index build and the
query seconds (best of 3 each, one core) and queries/s over
the query seconds; exits non-zero if a sampled query differs from the
brute-force ``(dist, id)`` answer.

Usage: python BENCH/run_knn_density.py
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402

from jpspark import fixtures as fx  # noqa: E402
from jpspark.geom import wkb  # noqa: E402
from jpspark.ops import knn  # noqa: E402

K, RES, BATCH, SAMPLE, REPEATS = 5, 5, 1 << 17, 200, 3


def spatial_query_shape(rng):
    polys = fx.admin_polygons(500, subdiv=128)
    fac = fx.facilities(500, polys)
    ext = wkb.parse_multipolygon(polys.iloc[0]["geom"])[0][0]
    cx, cy = ext[:-1, 0].mean(), ext[:-1, 1].mean()
    rx = (ext[:-1, 0].max() - ext[:-1, 0].min()) * 0.18
    ry = (ext[:-1, 1].max() - ext[:-1, 1].min()) * 0.18
    n = 500_000
    lon0, lat0, lon1, lat1 = fx.BBOX
    hot = rng.random(n) < 0.4
    qx = np.where(hot, rng.uniform(cx - rx, cx + rx, n), rng.uniform(lon0, lon1, n))
    qy = np.where(hot, rng.uniform(cy - ry, cy + ry, n), rng.uniform(lat0, lat1, n))
    return fac["ogc_fid"].to_numpy(), fac["lon"].to_numpy(), fac["lat"].to_numpy(), qx, qy


def dense_shape(rng):
    lon0, lat0, lon1, lat1 = fx.BBOX
    n, m = 100_000, 4_000
    tx, ty = rng.uniform(lon0, lon1, n), rng.uniform(lat0, lat1, n)
    qx, qy = rng.uniform(lon0, lon1, m), rng.uniform(lat0, lat1, m)
    return np.arange(1, n + 1), tx, ty, qx, qy


def run_kernel(ids, tx, ty, qx, qy):
    """(grid res, build s, query s, tid, dist): the index build (driver
    side), then every batch; rows in query order."""
    t0 = time.perf_counter()
    index = knn.TargetIndex(ids, tx, ty, knn._grid_res(tx, ty, RES, K))
    t1 = time.perf_counter()
    t_out = np.empty((len(qx), min(K, len(ids))), dtype=np.int64)
    d_out = np.empty(t_out.shape)
    for b in range(0, len(qx), BATCH):
        order, t, d = knn.knn_chunk(index, qx[b : b + BATCH], qy[b : b + BATCH], K)
        t_out[b + order], d_out[b + order] = t, d
    return index.res, t1 - t0, time.perf_counter() - t1, t_out, d_out


def brute_ok(ids, tx, ty, qx, qy, t, d, sample) -> bool:
    for i in sample:
        dx, dy = tx - qx[i], ty - qy[i]
        dist = np.sqrt(dx * dx + dy * dy)
        best = np.lexsort((ids, dist))[:K]
        if not (np.array_equal(ids[best], t[i]) and np.array_equal(dist[best], d[i])):
            return False
    return True


def main() -> int:
    ok = True
    for name, make in (("spatial_query", spatial_query_shape), ("dense", dense_shape)):
        ids, tx, ty, qx, qy = make(np.random.default_rng(7))
        runs = [run_kernel(ids, tx, ty, qx, qy) for _ in range(REPEATS)]
        grid_res, _, _, t, d = runs[0]
        build = min(r[1] for r in runs)
        query = min(r[2] for r in runs)
        sample = np.random.default_rng(11).choice(len(qx), SAMPLE, replace=False)
        good = brute_ok(ids, tx, ty, qx, qy, t, d, sample)
        ok &= good
        print(
            f"{name}: targets={len(ids)} queries={len(qx)} k={K} res={RES} grid_res={grid_res} "
            f"build_s={build:.3f} query_s={query:.3f} queries_per_s={len(qx) / query:,.0f} "
            f"brute_force_sample={'ok' if good else 'MISMATCH'}"
        )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
