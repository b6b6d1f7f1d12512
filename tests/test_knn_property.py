"""Property tests of the broadcast kNN kernel (hypothesis): the kernel
``knn_join_broadcast`` runs per Arrow batch — target grid chosen by
``_grid_res``, queries through ``knn_chunk`` — against a brute-force
(dist, id) oracle, on the shapes that stress exactness: coincident
targets, lattice ties, k beyond the target count, dense clusters, queries
far from every target, and NaN coordinates. Spark-free."""

from __future__ import annotations

import warnings

import numpy as np
from hypothesis import given, settings, strategies as st

from jpspark.geom import cell
from jpspark.ops import knn

SETTINGS = settings(max_examples=100, deadline=None)


def kernel(ids, tx, ty, qx, qy, k, res):
    """The kernel's answer in query order: (target ids, dists)."""
    index = knn.TargetIndex(ids, tx, ty, knn._grid_res(tx, ty, res, k))
    order, t, d = knn.knn_chunk(index, qx, qy, k)
    out_t, out_d = np.empty_like(t), np.empty_like(d)
    out_t[order], out_d[order] = t, d
    return out_t, out_d


def oracle(ids, tx, ty, qx, qy, k):
    """Brute force: per query, targets by (dist, id), NaN dist last (the
    DuckDB oracle's ``ORDER BY dist, id`` with NULLS LAST)."""
    kk = min(k, len(ids))
    out_t, out_d = np.empty((len(qx), kk), dtype=np.int64), np.empty((len(qx), kk))
    for i in range(len(qx)):
        dx, dy = tx - qx[i], ty - qy[i]
        d = np.sqrt(dx * dx + dy * dy)
        best = np.lexsort((ids, d))[:kk]
        out_t[i], out_d[i] = ids[best], d[best]
    return out_t, out_d


def assert_exact(ids, tx, ty, qx, qy, k, res):
    got_t, got_d = kernel(ids, tx, ty, qx, qy, k, res)
    exp_t, exp_d = oracle(ids, tx, ty, qx, qy, k)
    np.testing.assert_array_equal(got_t, exp_t)
    np.testing.assert_array_equal(got_d, exp_d)  # bit-identical, NaN == NaN


def shuffled_ids(seed: int, n: int) -> np.ndarray:
    return np.random.default_rng(seed).permutation(10 * n + 7)[:n].astype(np.int64)


def queries(seed: int, m: int, box=(128.0, 30.0, 142.0, 42.0)):
    rng = np.random.default_rng(seed)
    return rng.uniform(box[0], box[2], m), rng.uniform(box[1], box[3], m)


K = st.integers(min_value=1, max_value=12)
RES = st.integers(min_value=2, max_value=9)
SEED = st.integers(min_value=0, max_value=2**31)


@given(n=st.integers(1, 80), k=K, res=RES, seed=SEED)
@SETTINGS
def test_coincident_targets(n, k, res, seed):
    """Every target at one point: every distance ties, ids decide."""
    tx, ty = np.full(n, 135.25), np.full(n, 35.5)
    qx, qy = queries(seed, 30)
    qx[:3], qy[:3] = 135.25, 35.5  # queries on the point itself
    assert_exact(shuffled_ids(seed, n), tx, ty, qx, qy, k, res)


@given(side=st.integers(2, 12), step=st.sampled_from([0.125, 0.25, 0.5, 1.0]), k=K, res=RES, seed=SEED)
@SETTINGS
def test_lattice_ties(side, step, k, res, seed):
    """Targets on a lattice, queries on lattice points and cell centres:
    exact distance ties at the kth boundary."""
    gx, gy = np.meshgrid(np.arange(side), np.arange(side))
    tx, ty = 132.0 + step * gx.ravel(), 33.0 + step * gy.ravel()
    rng = np.random.default_rng(seed)
    i = rng.integers(0, side, (40, 2))
    qx = 132.0 + step * (i[:, 0] + rng.choice([0.0, 0.5], 40))
    qy = 33.0 + step * (i[:, 1] + rng.choice([0.0, 0.5], 40))
    assert_exact(shuffled_ids(seed, len(tx)), tx, ty, qx, qy, k, res)


@given(n=st.integers(1, 6), extra=st.integers(0, 10), res=RES, seed=SEED)
@SETTINGS
def test_k_beyond_target_count(n, extra, res, seed):
    """k > n answers every target; a single target is every query's only one."""
    tx, ty = queries(seed + 1, n)
    qx, qy = queries(seed, 25, box=(120.0, 20.0, 150.0, 46.0))
    assert_exact(shuffled_ids(seed, n), tx, ty, qx, qy, n + extra, res)


@given(
    clusters=st.integers(1, 4),
    per=st.integers(20, 200),
    spread=st.sampled_from([1e-6, 1e-4, 1e-2]),
    k=K,
    res=RES,
    seed=SEED,
)
@SETTINGS
def test_dense_clustered_targets(clusters, per, spread, k, res, seed):
    """Tight clusters drive the target grid fine; queries in and around them."""
    rng = np.random.default_rng(seed)
    centre = rng.uniform([128.0, 30.0], [142.0, 42.0], (clusters, 2))
    which = rng.integers(0, clusters, clusters * per)
    tx = centre[which, 0] + rng.normal(0, spread, len(which))
    ty = centre[which, 1] + rng.normal(0, spread, len(which))
    near = rng.integers(0, clusters, 40)
    qx = np.r_[centre[near, 0] + rng.normal(0, 5 * spread, 40), queries(seed, 20)[0]]
    qy = np.r_[centre[near, 1] + rng.normal(0, 5 * spread, 40), queries(seed, 20)[1]]
    assert_exact(shuffled_ids(seed, len(tx)), tx, ty, qx, qy, k, res)


@given(
    n=st.integers(1, 300),
    dlon=st.floats(30.0, 170.0),
    dlat=st.floats(-60.0, 30.0),
    k=K,
    res=RES,
    seed=SEED,
)
@SETTINGS
def test_queries_far_from_every_target(n, dlon, dlat, k, res, seed):
    """Queries 30 deg or more from every target, including ones outside
    the lon/lat range that clip to the edge cells."""
    tx, ty = queries(seed + 1, n, box=(0.0, 0.0, 5.0, 5.0))
    qx = np.r_[-dlon, 5.0 + dlon, 2.0, 200.0 + dlon]
    qy = np.r_[2.0, 2.0 + dlat, 35.0 + dlat, -100.0]
    assert_exact(shuffled_ids(seed, n), tx, ty, qx, qy, k, res)


@given(
    n=st.integers(1, 40),
    big=st.sampled_from([1e13, 5e13, 1e19, 5e19, 1e20, 1e300]),
    k=K,
    res=RES,
    seed=SEED,
)
@SETTINGS
def test_huge_finite_coordinates(n, big, k, res, seed):
    """Queries and targets at |lon| or |lat| up to 1e300, past int64 once
    scaled to grid units, land in the edge cell on their own side."""
    tx, ty = queries(seed + 1, n)
    tx[0] = big
    if n > 1:
        ty[1] = -big
    qx = np.r_[big, -big, 139.0, 139.0, big]
    qy = np.r_[35.0, 35.0, big, -big, big]
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)  # squares past float64 are inf
        assert_exact(shuffled_ids(seed, n), tx, ty, qx, qy, k, res)


def test_far_query_cost_is_bounded_on_the_finest_grid():
    """On a grid at the finest resolution a query 40 deg away is tens of
    millions of rings out; the candidate search must not walk them."""
    ids = np.arange(50)
    tx, ty = np.full(50, 139.5), np.full(50, 35.5)
    index = knn.TargetIndex(ids, tx, ty, cell.MAX_RES)
    assert index.res == cell.MAX_RES
    qx, qy = np.array([99.5, 139.5]), np.array([35.5, -4.5])
    order, t, d = knn.knn_chunk(index, qx, qy, 3)
    np.testing.assert_array_equal(t, [[0, 1, 2], [0, 1, 2]])
    np.testing.assert_array_equal(d, np.full((2, 3), 40.0))


@given(n=st.integers(1, 120), k=K, res=RES, seed=SEED)
@SETTINGS
def test_nan_coordinate_query_pinned(n, k, res, seed):
    """A query with a NaN coordinate is NaN from every target: it gets the
    smallest-id targets with NaN dist, whatever the target count, and
    leaves the other queries exact."""
    tx, ty = queries(seed + 1, n)
    qx, qy = queries(seed, 12)
    qx[0], qy[5] = np.nan, np.nan
    ids = shuffled_ids(seed, n)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)  # NaN -> int cast in the cell math
        got_t, got_d = kernel(ids, tx, ty, qx, qy, k, res)
    kk = min(k, n)
    for i in (0, 5):
        np.testing.assert_array_equal(got_t[i], np.sort(ids)[:kk])
        assert np.isnan(got_d[i]).all()
    exp_t, exp_d = oracle(ids, tx, ty, qx, qy, k)
    np.testing.assert_array_equal(got_t, exp_t)
    np.testing.assert_array_equal(got_d, exp_d)


def test_no_targets_answers_no_neighbours():
    index = knn.TargetIndex(np.empty(0, dtype=np.int64), np.empty(0), np.empty(0), 5)
    order, t, d = knn.knn_chunk(index, *queries(0, 7), 4)
    assert sorted(order) == list(range(7))
    assert t.shape == d.shape == (7, 0)
