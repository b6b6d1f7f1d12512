"""Exact broadcast kNN join with boundary-ring expansion on a target grid
sized by k (SURVEY J5, north_rule).

Exact k-nearest-neighbor of each query point against a target point set,
using the cell index for locality. The grid-partitioned candidate
generation with guaranteed-complete expansion follows the distributed
kNN-join literature (e.g. "Distributed Stream KNN Join", SIGMOD 2021; see
repo PAPERS.md), re-expressed over the Spark DataFrame API.

Target grid. ``knn_join_broadcast`` buckets the targets on the grid at
the finest resolution >= the caller's ``res`` at which the occupied cells
still hold >= k targets on average (while refining still splits a cell
and the targets' occupied extent spans at most max(4 n, 4096) cells), so
a few cells around a query hold about k targets whatever the target
density. The caller's ``res`` is the coarsest grid, not the grid; the
answer is exact at any resolution.

Candidates, per group of queries sharing a grid cell: explore
disk(query_cell, r) ring by ring; a query is done once its kth-nearest
distance so far is < r * min(cell_w, cell_h), since any target outside
the explored disk is at least that far away (cells outside a Chebyshev-
radius-r disk are separated from the query by >= r full cell widths), so
the answer is provably exact. Rings are clipped to the targets' occupied
extent: the walk starts at the first ring that reaches it and ends at
the ring whose disk covers it, where every target has been seen, so a
query far from every target walks at most the extent's width in rings.

Selection per query is over a (query, candidate) distance matrix whose
columns are in target-id order, built in row slices of at most 2^21
cells: plain ``sqrt(dx*dx + dy*dy)`` (the SQL oracle's formula, bit for
bit), a two-pivot ``argpartition`` for wide rows and a stable argsort
otherwise, so ties break by target id (pinned; matches the pytest oracle
and the DuckDB ``ORDER BY dist, id`` oracle). A NaN distance sorts last,
as the oracle's ``NULLS LAST`` does.

Physical strategy: the target side (facilities: ~1e5 rows of (id, lon,
lat)) is indexed on the driver and broadcast; queries stream through
``mapInArrow`` — the 10^12-row side never shuffles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geom import cell
from .spatial_join import _broadcast_probe
from .tiles import with_cell_id

DEFAULT_RES = 6
# rows per kernel call of the broadcast kNN join
_KNN_CHUNK_ROWS = 1 << 17
# the targets' occupied extent spans at most this many grid cells per
# target (with a floor for small target sets): it bounds a far query's walk
_CELLS_PER_TARGET, _MIN_GRID_CELLS = 4, 1 << 12
# cells of one (queries x candidates) distance matrix: 16 MB per float64 array
_MAX_MATRIX = 1 << 21


def _grid_res(lon: np.ndarray, lat: np.ndarray, res: int, k: int) -> int:
    """The finest resolution >= ``res`` at which the targets' occupied
    cells still hold >= k targets on average, refining still splits an
    occupied cell and the occupied extent fits the grid cap."""
    n = len(lon)
    if n == 0:
        return res
    cap = max(_MIN_GRID_CELLS, _CELLS_PER_TARGET * n)

    def occupancy(r: int) -> tuple[int, int]:
        x, y = cell.grid_xy(lon, lat, r)
        extent = (int(x.max()) - int(x.min()) + 1) * (int(y.max()) - int(y.min()) + 1)
        return len(np.unique(x * (1 << r) + y)), extent

    occupied, _ = occupancy(res)
    while res < cell.MAX_RES:
        finer, extent = occupancy(res + 1)
        if finer == occupied or n < k * finer or extent > cap:
            break
        res, occupied = res + 1, finer
    return res


class TargetIndex:
    """Targets bucketed by grid cell at ``res``, in cell order, plus the
    occupied extent (inclusive grid bounds x0..x1, y0..y1)."""

    def __init__(self, ids: np.ndarray, lon: np.ndarray, lat: np.ndarray, res: int = DEFAULT_RES):
        self.res = res
        self.ids = np.asarray(ids, dtype=np.int64)
        self.lon = np.asarray(lon, dtype=np.float64)
        self.lat = np.asarray(lat, dtype=np.float64)
        self.n_total = len(self.ids)
        x, y = cell.grid_xy(self.lon, self.lat, res)
        cells = cell.from_xy(x, y, res)
        self.order = np.argsort(cells, kind="stable")
        self.uniq, self.starts = np.unique(cells[self.order], return_index=True)
        self.ends = np.r_[self.starts[1:], self.n_total]
        if self.n_total:
            self.x0, self.x1, self.y0, self.y1 = int(x.min()), int(x.max()), int(y.min()), int(y.max())

    def ring_members(self, cx: int, cy: int, r: int) -> np.ndarray:
        """Target ordinals in the cells at Chebyshev distance exactly ``r``
        from cell (cx, cy), the ring clipped to the occupied extent."""
        if r == 0:
            gx, gy = np.array([cx]), np.array([cy])
        else:
            xs = np.arange(max(cx - r, self.x0), min(cx + r, self.x1) + 1)
            ys = np.arange(max(cy - r + 1, self.y0), min(cy + r - 1, self.y1) + 1)
            sides = [(xs, np.full(len(xs), y)) for y in (cy - r, cy + r) if self.y0 <= y <= self.y1]
            sides += [(np.full(len(ys), x), ys) for x in (cx - r, cx + r) if self.x0 <= x <= self.x1]
            if not sides:
                return np.empty(0, dtype=np.int64)
            gx, gy = np.concatenate([s[0] for s in sides]), np.concatenate([s[1] for s in sides])
        cells = cell.from_xy(gx, gy, self.res)
        i = np.minimum(np.searchsorted(self.uniq, cells), len(self.uniq) - 1)
        i = i[self.uniq[i] == cells]
        n = self.ends[i] - self.starts[i]
        # concatenation of arange(starts[i], ends[i]) over the hit cells
        return self.order[np.arange(int(n.sum())) + np.repeat(self.starts[i] - np.cumsum(n) + n, n)]


def _select(d: np.ndarray, t: np.ndarray, kk: int):
    """Per row, the kk (dist, id)-smallest entries sorted by (dist, id).
    The columns must be in ascending target-id order: a STABLE argsort on
    distance then tie-breaks by id for free."""
    if d.shape[1] > 4 * kk:
        # cheap unordered top-kk first, then sort the small slice. Two
        # pivots (kk-1, kk): position kk holds the (kk+1)-th smallest
        # distance, giving an O(Q) boundary-tie test with no extra pass
        # over the full distance matrix.
        part_full = np.argpartition(d, (kk - 1, kk), axis=1)
        part = part_full[:, :kk]
        dpart = np.take_along_axis(d, part, axis=1)
        # boundary-tie guard: argpartition picks an ARBITRARY subset of
        # the candidates whose distance ties exactly at the kth boundary,
        # breaking the pinned (dist, id) tie-break. The selection is
        # unambiguous iff the (kk+1)-th smallest distance is strictly
        # greater than the kth (a NaN kth is never unambiguous); tied
        # rows fall back to the full stable argsort.
        kth_d = dpart.max(axis=1)
        next_d = np.take_along_axis(d, part_full[:, kk : kk + 1], axis=1)[:, 0]
        ambiguous = ~(next_d > kth_d)
        # re-sort by (dist, id): stable argsort of dist over id-ascending
        # columns needs column order restored first
        part = np.take_along_axis(part, np.argsort(part, axis=1, kind="stable"), axis=1)
        dpart = np.take_along_axis(d, part, axis=1)
        sel = np.take_along_axis(part, np.argsort(dpart, axis=1, kind="stable"), axis=1)
        if ambiguous.any():
            amb = np.flatnonzero(ambiguous)
            sel[amb] = np.argsort(d[amb], axis=1, kind="stable")[:, :kk]
    else:
        sel = np.argsort(d, axis=1, kind="stable")[:, :kk]
    return t[sel], np.take_along_axis(d, sel, axis=1)


def _knn_for_cell(idx: TargetIndex, qc: int, qx: np.ndarray, qy: np.ndarray, k: int):
    """Exact kNN for all queries sharing cell qc. Returns (tid, dist)
    arrays of shape (Q, kk), kk = min(k, n_targets)."""
    q, kk = len(qx), min(k, idx.n_total)
    best_t, best_d = np.empty((q, kk), dtype=np.int64), np.empty((q, kk))
    if kk == 0:
        return best_t, best_d
    guard = min(cell.cell_size_deg(idx.res))
    x, y, _ = cell.to_xy(qc)
    cx, cy = int(x), int(y)
    # rings nearer than `near` miss the occupied extent; disk(far) covers it
    near = max(idx.x0 - cx, cx - idx.x1, idx.y0 - cy, cy - idx.y1, 0)
    far = max(cx - idx.x0, idx.x1 - cx, cy - idx.y0, idx.y1 - cy)
    cand = np.empty(0, dtype=np.int64)
    todo = np.arange(q)
    stale = False
    for r in range(near, far + 1):
        new = idx.ring_members(cx, cy, r)
        if len(new):
            cand = np.concatenate([cand, new])
            cand = cand[np.argsort(idx.ids[cand], kind="stable")]
            stale = True
        # no query passes the bound at r = 0; disk(far) holds every target
        if len(cand) < kk or (r == 0 and far > 0):
            continue
        if stale:
            stale = False
            # (re)select the queries not yet done, a row slice at a time
            tids, tlon, tlat = idx.ids[cand], idx.lon[cand], idx.lat[cand]
            step = max(1, _MAX_MATRIX // len(cand))
            for s in range(0, len(todo), step):
                rows = todo[s : s + step]
                # plain sqrt(dx^2+dy^2) (NOT hypot): bit-identical to the SQL
                # oracle's formula so value-hash comparisons match exactly
                dx = tlon[None, :] - qx[rows, None]
                dy = tlat[None, :] - qy[rows, None]
                best_t[rows], best_d[rows] = _select(np.sqrt(dx * dx + dy * dy), tids, kk)
        # exactness guarantee: everything outside the explored disk(r) is
        # at least r*guard away. STRICT comparison: at kth == r*guard an
        # unseen boundary target could tie the kth distance and win the
        # (dist, id) tie-break, so equality expands one more ring instead.
        todo = todo[~(best_d[todo, -1] < r * guard)]
        if len(todo) == 0:
            break
    return best_t, best_d


def knn_chunk(index: TargetIndex, qx: np.ndarray, qy: np.ndarray, k: int):
    """Exact kNN of a batch of queries, grouped by grid cell: (order, tid,
    dist), where row i of the (Q, kk) arrays answers query ``order[i]``."""
    cells = cell.encode(qx, qy, index.res)
    order = np.argsort(cells, kind="stable")
    sc = cells[order]
    starts = np.flatnonzero(np.r_[True, sc[1:] != sc[:-1]])
    kk = min(k, index.n_total)
    t, d = np.empty((len(qx), kk), dtype=np.int64), np.empty((len(qx), kk))
    for s, e in zip(starts, np.r_[starts[1:], len(sc)]):
        sel = order[s:e]
        t[s:e], d[s:e] = _knn_for_cell(index, int(sc[s]), qx[sel], qy[sel], k)
    return order, t, d


def knn_join_broadcast(
    queries: DataFrame,
    targets_pdf: pd.DataFrame,
    k: int,
    query_id_col: str = "image_id",
    target_id_col: str = "ogc_fid",
    lon: str = "lon",
    lat: str = "lat",
    res: int = DEFAULT_RES,
    as_arrays: bool = False,
) -> DataFrame:
    """Exact kNN, broadcast targets, zero shuffle of the query side.

    Default output: (query_id, rank, target_id, dist) — one row per
    neighbor (oracle-friendly). ``as_arrays=True`` emits one row per query
    (query_id, target_ids, dists) — k times fewer rows through Arrow and
    any downstream shuffle, the preferred shape at 10^12-query scale.
    ``res`` is the coarsest target grid; the index refines it to the
    target density (module docstring). With no targets every query has
    no neighbour: no rows, or empty lists with ``as_arrays``.
    """
    tlon = targets_pdf[lon].to_numpy(dtype=np.float64)
    tlat = targets_pdf[lat].to_numpy(dtype=np.float64)
    idx = TargetIndex(targets_pdf[target_id_col].to_numpy(), tlon, tlat, _grid_res(tlon, tlat, res, k))
    qid = T.StructField("query_id", queries.schema[query_id_col].dataType)
    out_schema = T.StructType(
        [
            qid,
            T.StructField("target_ids", T.ArrayType(T.LongType())),
            T.StructField("dists", T.ArrayType(T.DoubleType())),
        ]
        if as_arrays
        else [
            qid,
            T.StructField("rank", T.IntegerType()),
            T.StructField("target_id", T.LongType()),
            T.StructField("dist", T.DoubleType()),
        ]
    )

    # results assembled as Arrow arrays straight from NumPy — list columns
    # via ListArray.from_arrays(offsets, flat values), ids via take() —
    # zero per-row Python objects in either output mode
    def make_probe(index: TargetIndex, out_arrow):
        kk = min(k, index.n_total)

        def probe(tbl: pa.Table) -> list:
            qx = tbl.column(lon).to_numpy(zero_copy_only=False)
            qy = tbl.column(lat).to_numpy(zero_copy_only=False)
            qid_arr = tbl.column(query_id_col).combine_chunks()
            order, t, d = knn_chunk(index, qx, qy, k)
            flat_t, flat_d = t.ravel(), d.ravel()
            if as_arrays:
                offsets = np.arange(len(order) + 1, dtype=np.int32) * kk
                return [
                    qid_arr.take(pa.array(order)),
                    pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat_t)),
                    pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat_d)),
                ]
            return [
                qid_arr.take(pa.array(np.repeat(order, kk))),
                pa.array(np.tile(np.arange(1, kk + 1, dtype=np.int32), len(order))),
                pa.array(flat_t),
                pa.array(flat_d),
            ]

        return probe

    return _broadcast_probe(
        queries.select(query_id_col, lon, lat), idx, out_schema, _KNN_CHUNK_ROWS, make_probe
    )


def shuffle_candidate_pairs(
    queries: DataFrame,
    targets: DataFrame,
    query_id_col: str = "image_id",
    target_id_col: str = "ogc_fid",
    lon: str = "lon",
    lat: str = "lat",
    res: int = 4,
    max_ring: int = 2,
    how: str = "left",
    n_salt: int = 1,
) -> DataFrame:
    """Stage 1 of the shuffle kNN: the cell equi-join that generates
    candidate (query, target, dist) pairs. This is the ONLY stage that
    sees cell-key skew — everything downstream of it exchanges on the
    high-cardinality query_id. Exposed separately so the skew bench
    (BENCH/run_skew.py) can time it in isolation.

    ``how="left"`` keeps zero-candidate queries as null-target rows for
    the guard; ``n_salt`` > 1 routes queries by crc32(query_id) % n_salt
    against n_salt target replicas, splitting a hot cell's pair
    generation n_salt ways.
    """
    if n_salt < 1:
        raise ValueError(f"n_salt must be >= 1, got {n_salt}")
    tgt = targets.select(
        F.col(target_id_col).alias("target_id"),
        F.col(lon).alias("t_lon"),
        F.col(lat).alias("t_lat"),
    )

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def disk_udf(lons: pd.Series, lats: pd.Series) -> pd.Series:
        cells = cell.encode(lons.to_numpy(), lats.to_numpy(), res)
        return pd.Series([cell.disk(int(c), max_ring).tolist() for c in cells])

    tgt = tgt.withColumn("cell_id", F.explode(disk_udf("t_lon", "t_lat")))
    qry = with_cell_id(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(lon).alias("q_lon"), F.col(lat).alias("q_lat")
        ),
        "q_lon", "q_lat", res,
    )

    # guarded modes use a LEFT join so queries whose disk holds ZERO
    # candidates still surface (as a null-target row) — an inner join
    # would silently drop them before the guard could see them
    join_keys = ["cell_id"]
    if n_salt > 1:
        tgt = tgt.withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)])))
        qry = qry.withColumn(
            "salt", F.pmod(F.crc32(F.col("query_id").cast("string")), F.lit(n_salt)).cast("int")
        )
        join_keys = ["cell_id", "salt"]
    return qry.join(tgt, join_keys, how).withColumn(
        "dist",
        # plain multiply (not pow): bit-identical to the SQL oracle formula
        F.sqrt(
            (F.col("t_lon") - F.col("q_lon")) * (F.col("t_lon") - F.col("q_lon"))
            + (F.col("t_lat") - F.col("q_lat")) * (F.col("t_lat") - F.col("q_lat"))
        ),
    )


def knn_join_shuffle(
    queries: DataFrame,
    targets: DataFrame,
    k: int,
    query_id_col: str = "image_id",
    target_id_col: str = "ogc_fid",
    lon: str = "lon",
    lat: str = "lat",
    res: int = 4,
    max_ring: int = 2,
    guard: str = "error",
    n_salt: int = 1,
) -> DataFrame:
    """Distributed kNN for non-broadcastable targets: targets replicated to
    their disk(max_ring) neighbor cells, equi-join on cell, per-query top-k
    via window. Exact iff every query's kth neighbor lies within max_ring
    cells (choose res so the expected per-cell target count >> k).

    ``n_salt`` > 1 splits hot cells (round 6, the PIP skew ladder's fix
    ported to kNN): a city-centre cell holding 40% of all queries lands
    every one of its candidate pairs on ONE reducer of the cell equi-join.
    Salting routes queries by crc32(query_id) % n_salt and replicates the
    (already disk-exploded) target rows once per salt value, so the hot
    cell's pair generation parallelizes n_salt-ways. Output is identical
    for any n_salt: the per-query top-k window runs AFTER the join on the
    high-cardinality query_id and never sees the salt. Cost: the target
    side's exploded rows shuffle n_salt x — cheap when targets are the
    small side (the only regime where the shuffle path is chosen at all).

    ``guard`` enforces that exactness condition at runtime instead of
    trusting the caller's res/max_ring choice: a query is provably exact
    iff it found k candidates AND its kth distance is STRICTLY below
    max_ring * min(cell_w, cell_h) (any target outside the replicated
    disk is at least that far away — same disk bound the broadcast
    variant uses; strict, because an unseen target exactly at the bound
    could win the (dist, id) tie-break).

    - "error" (default): the job fails on the first violating query
      (distributed ``assert_true`` inside the top-k filter — silent wrong
      neighbors become a loud failure).
    - "flag": adds an ``exact`` boolean column; callers route inexact
      queries to an escalation pass (bigger ring or broadcast variant).
    - "none": previous trust-the-caller behavior (also the right mode
      when the GLOBAL target count is < k, which the guard would
      otherwise report as a violation).
    """
    if guard not in ("error", "flag", "none"):
        raise ValueError(f"guard must be error|flag|none, got {guard!r}")
    how = "inner" if guard == "none" else "left"
    joined = shuffle_candidate_pairs(
        queries,
        targets,
        query_id_col=query_id_col,
        target_id_col=target_id_col,
        lon=lon,
        lat=lat,
        res=res,
        max_ring=max_ring,
        how=how,
        n_salt=n_salt,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc_nulls_last(), F.col("target_id").asc_nulls_last()
    )
    ranked = joined.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    if guard == "none":
        return ranked.select("query_id", F.col("rank").cast("int"), "target_id", "dist")
    cw, ch = cell.cell_size_deg(res)
    bound = float(max_ring) * min(cw, ch)
    wq = Window.partitionBy("query_id")
    # STRICT bound (round-3 ADVICE): an unseen target exactly at the disk
    # radius could tie the kth distance and, under the (dist, target_id)
    # tie-break, legitimately outrank a returned neighbor — boundary ties
    # must fail the guard / get flagged, not pass as exact.
    ranked = ranked.withColumn(
        "exact",
        (F.count("target_id").over(wq) >= F.lit(k)) & (F.max("dist").over(wq) < F.lit(bound)),
    )
    if guard == "error":
        msg = F.concat(
            F.lit(
                f"knn_join_shuffle inexact (k={k}, res={res}, max_ring={max_ring}, "
                f"ring bound {bound:.6g} deg): kth neighbor outside the replicated "
                "disk for query_id="
            ),
            F.col("query_id").cast("string"),
            F.lit(" — raise max_ring/lower res, or use knn_join_broadcast"),
        )
        # assert_true inside the filter: evaluated per row, cannot be
        # pruned away, fails the job at the first violating query
        ranked = ranked.filter(F.assert_true(F.col("exact"), msg).isNull())
        return ranked.select("query_id", F.col("rank").cast("int"), "target_id", "dist")
    # flag mode promises every inexact query SURFACES: keep the null-target
    # row a zero-candidate query produced (rank/target/dist null,
    # exact=false) instead of filtering the query out of the output
    # entirely (round-3 ADVICE — the silent-disappearance hole).
    return (
        ranked.filter(F.col("target_id").isNotNull() | ~F.col("exact"))
        .withColumn("rank", F.when(F.col("target_id").isNotNull(), F.col("rank")))
        .select("query_id", F.col("rank").cast("int"), "target_id", "dist", "exact")
    )
