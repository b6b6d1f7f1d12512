"""Unit + property tests for the geometry kernels (no Spark needed)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from jpspark.geom import cell, pip, wkb

RNG = np.random.default_rng(42)


# ---------------------------------------------------------------- cell index

def test_cell_roundtrip_xy():
    xs = RNG.integers(0, 1 << 12, size=500)
    ys = RNG.integers(0, 1 << 12, size=500)
    c = cell.from_xy(xs, ys, 12)
    x2, y2, r2 = cell.to_xy(c)
    assert np.array_equal(xs, x2) and np.array_equal(ys, y2)
    assert np.all(r2 == 12)


def test_cell_encode_in_bounds():
    lon = RNG.uniform(122, 154, 1000)
    lat = RNG.uniform(20, 46, 1000)
    c = cell.encode(lon, lat, 10)
    lon0, lat0, lon1, lat1 = cell.bounds(c)
    assert np.all((lon >= lon0) & (lon < lon1))
    assert np.all((lat >= lat0) & (lat < lat1))


@pytest.mark.parametrize("res", [0, 6, 26])
def test_cell_encode_clips_huge_coordinates_to_their_own_edge(res):
    """Coordinates past int64 once scaled to grid units (or infinite)
    land in the edge cell on their own side, like any out-of-range one."""
    edge = (1 << res) - 1
    big = np.array([1e20, -1e20, np.inf, -np.inf, 1e300, 181.0])
    x, _, _ = cell.to_xy(cell.encode(big, np.zeros(6), res))
    assert list(x) == [edge, 0, edge, 0, edge, edge]
    _, y, _ = cell.to_xy(cell.encode(np.zeros(6), big, res))
    assert list(y) == [edge, 0, edge, 0, edge, edge]


@pytest.mark.parametrize("res", [0, 10, 26])
def test_cell_encode_non_finite_without_cast_warning(res):
    """NaN lands in column/row 0 by an explicit mapping, not by the
    platform-dependent int cast of NaN; infinite and huge coordinates go
    to their own edge. No RuntimeWarning on the way."""
    import warnings

    edge = (1 << res) - 1
    nan, inf = float("nan"), float("inf")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        x, y, _ = cell.to_xy(
            cell.encode([nan, 139.0, inf, -inf, 1e20], [35.0, nan, -inf, inf, 1e20], res)
        )
    x0, y0, _ = cell.to_xy(cell.encode([139.0], [35.0], res))
    assert list(x) == [0, x0[0], edge, 0, edge]
    assert list(y) == [y0[0], 0, 0, edge, edge]


def test_cell_parent_children():
    c = int(cell.encode(139.7, 35.7, 10)[()])
    p = int(cell.parent(c, 8)[()])
    assert int(cell.resolution(p)[()]) == 8
    kids = cell.children(p).ravel()
    assert len(kids) == 4
    assert int(cell.parent(kids[0], 8)[()]) == p


def test_cell_ring_disk():
    c = int(cell.encode(139.7, 35.7, 10)[()])
    assert list(cell.ring(c, 0)) == [c]
    r1 = cell.ring(c, 1)
    assert len(r1) == 8
    d1 = cell.disk(c, 1)
    assert len(d1) == 9
    assert set(r1) | {c} == set(d1)


def test_cover_bbox_covers_encoded_points():
    lon = RNG.uniform(130, 140, 200)
    lat = RNG.uniform(30, 40, 200)
    cells = set(cell.cover_bbox(130, 30, 140, 40, 9))
    enc = cell.encode(lon, lat, 9)
    assert all(int(e) in cells for e in enc)


def test_cell_half_open_edges():
    # a point exactly on a cell edge belongs to the east/north cell
    res = 4
    w, h = cell.cell_size_deg(res)
    lon_edge = cell.LON0 + 3 * w
    c = cell.encode(lon_edge, 0.0, res)
    x, _, _ = cell.to_xy(c)
    assert int(x[()]) == 3


# ---------------------------------------------------------------- WKB

def test_wkb_point_multipoint_roundtrip():
    pts = RNG.uniform(-10, 10, (7, 2))
    buf = wkb.encode_multipoint(pts)
    assert np.allclose(wkb.parse_multipoint(buf), pts)
    one = wkb.encode_point(1.5, -2.5)
    assert np.allclose(wkb.parse_multipoint(one)[0], [1.5, -2.5])


def test_wkb_multipolygon_roundtrip():
    ring1 = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=float)
    hole = np.array([[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]], dtype=float)
    ring2 = np.array([[10, 10], [12, 10], [11, 13], [10, 10]], dtype=float)
    buf = wkb.encode_multipolygon([[ring1, hole], [ring2]])
    polys = wkb.parse_multipolygon(buf)
    assert len(polys) == 2 and len(polys[0]) == 2
    assert np.allclose(polys[0][1], hole)


def test_wkb_promote_to_multi():
    ring = np.array([[0, 0], [1, 0], [1, 1], [0, 0]], dtype=float)
    poly = wkb.encode_polygon([ring])
    multi = wkb.promote_to_multi(poly)
    gtype, payload = wkb.parse(multi)
    assert gtype == wkb.MULTIPOLYGON and len(payload) == 1
    # idempotent on already-MULTI
    assert wkb.promote_to_multi(multi) == multi
    pt = wkb.encode_point(3.0, 4.0)
    gt2, pl2 = wkb.parse(wkb.promote_to_multi(pt))
    assert gt2 == wkb.MULTIPOINT and np.allclose(pl2[0], [3, 4])


def test_wkb_area_bbox():
    ring = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=float)
    hole = np.array([[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]], dtype=float)
    buf = wkb.encode_multipolygon([[ring, hole]])
    assert wkb.multipolygon_area(buf) == pytest.approx(16 - 1)
    assert wkb.multipolygon_bbox(buf) == (0, 0, 4, 4)


def test_merge_multipolygons_area_additive():
    r1 = np.array([[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]], dtype=float)
    r2 = np.array([[5, 5], [6, 5], [6, 7], [5, 7], [5, 5]], dtype=float)
    merged = wkb.merge_multipolygons(
        [wkb.encode_multipolygon([[r1]]), wkb.encode_multipolygon([[r2]])]
    )
    assert wkb.multipolygon_area(merged) == pytest.approx(4 + 2)
    assert len(wkb.parse_multipolygon(merged)) == 2


# ---------------------------------------------------------------- PIP

SQUARE = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)


def test_pip_square_interior_exterior():
    px = np.array([5.0, -1.0, 15.0, 9.999])
    py = np.array([5.0, 5.0, 5.0, 0.001])
    assert list(pip.points_in_ring(px, py, SQUARE)) == [True, False, False, True]


def test_pip_half_open_boundary():
    # bottom/left in; top/right out (floor convention)
    px = np.array([0.0, 5.0, 10.0, 5.0])
    py = np.array([5.0, 0.0, 5.0, 10.0])
    assert list(pip.points_in_ring(px, py, SQUARE)) == [True, True, False, False]


def test_pip_holes():
    hole = np.array([[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]], dtype=float)
    px = np.array([5.0, 2.0])
    py = np.array([5.0, 2.0])
    got = pip.points_in_polygon(px, py, [SQUARE, hole])
    assert list(got) == [False, True]


@st.composite
def ring_and_points(draw):
    # random simple star-shaped polygon around a center
    n = draw(st.integers(5, 24))
    angles = np.sort(RNG.uniform(0, 2 * np.pi, n))
    radii = draw(
        st.lists(st.floats(0.5, 5.0, allow_nan=False), min_size=n, max_size=n)
    )
    xs = np.cos(angles) * radii
    ys = np.sin(angles) * radii
    ring = np.column_stack([xs, ys])
    ring = np.vstack([ring, ring[:1]])
    m = draw(st.integers(1, 32))
    px = RNG.uniform(-6, 6, m)
    py = RNG.uniform(-6, 6, m)
    return ring, px, py


@settings(max_examples=60, deadline=None)
@given(ring_and_points())
def test_pip_vectorized_matches_scalar_oracle(data):
    ring, px, py = data
    fast = pip.points_in_ring(px, py, ring)
    slow = np.array([pip.point_in_ring_scalar(x, y, ring) for x, y in zip(px, py)])
    assert np.array_equal(fast, slow)


def test_pip_blocked_matches():
    ring, px, py = (
        SQUARE,
        RNG.uniform(-2, 12, 5000),
        RNG.uniform(-2, 12, 5000),
    )
    assert np.array_equal(
        pip.points_in_ring(px, py, ring),
        pip.points_in_ring_blocked(px, py, ring, block=1024),
    )


# ------------------------------------------------- dissolve (round 3)


def _sq(x0, y0, w=1.0, h=1.0):
    """CCW unit square as a closed ring."""
    return np.array(
        [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h], [x0, y0]],
        dtype=np.float64,
    )


def _mp(*rings):
    return wkb.encode_multipolygon([[r] for r in rings])


def test_assert_no_overlap_accepts_exact_tiling():
    tiles = [_mp(_sq(i, j)) for i in range(3) for j in range(3)]
    wkb.assert_no_overlap(tiles)  # shared edges + corners: fine


def test_assert_no_overlap_detects_partial_overlap():
    with pytest.raises(ValueError, match="overlap"):
        wkb.assert_no_overlap([_mp(_sq(0, 0, 2, 2)), _mp(_sq(1, 1, 2, 2))])


def test_assert_no_overlap_detects_coincident_duplicate():
    with pytest.raises(ValueError, match="coincident"):
        wkb.assert_no_overlap([_mp(_sq(0, 0)), _mp(_sq(0, 0))])


def test_assert_no_overlap_detects_containment():
    with pytest.raises(ValueError, match="overlap"):
        wkb.assert_no_overlap([_mp(_sq(0, 0, 4, 4)), _mp(_sq(1, 1))])


def test_assert_no_overlap_detects_aligned_slide():
    # [0,2]x[0,1] vs [1,3]x[0,1]: no proper crossing, every vertex of one
    # lies ON the other's boundary — only the edge-midpoint witness sees it
    with pytest.raises(ValueError, match="overlap"):
        wkb.assert_no_overlap([_mp(_sq(0, 0, 2, 1)), _mp(_sq(1, 0, 2, 1))])


def test_assert_no_overlap_crossing_on_window_border():
    # [0,4]x[0,2] vs [2,6]x[-1,1]: the bbox-overlap window is [2,4]x[0,1]
    # and both proper crossings, (2,0) and (4,1), sit on its border, so
    # the crossing edges only touch the closed window
    with pytest.raises(ValueError, match="crossing"):
        wkb.assert_no_overlap([_mp(_sq(0, 0, 4, 2)), _mp(_sq(2, -1, 4, 2))])


def test_assert_no_overlap_detects_crossing_bars():
    # plus-shape: all vertices outside the other part, proper edge crossings
    with pytest.raises(ValueError, match="crossing"):
        wkb.assert_no_overlap(
            [_mp(_sq(-2, -0.5, 4, 1)), _mp(_sq(-0.5, -2, 1, 4))]
        )


def test_dissolve_boundary_2x2_grid():
    tiles = [_mp(_sq(i, j)) for i in range(2) for j in range(2)]
    merged = wkb.dissolve_boundary(tiles)
    polys = wkb.parse_multipolygon(merged)
    assert len(polys) == 1 and len(polys[0]) == 1  # one part, no holes
    ring = polys[0][0]
    # boundary point set: the 8 outer lattice points (internal (1,1) gone)
    pts = {(float(x), float(y)) for x, y in ring[:-1]}
    assert (1.0, 1.0) not in pts
    assert {(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0)} <= pts
    assert abs(abs(wkb.ring_area(ring)) - 4.0) < 1e-12
    assert wkb.multipolygon_area(merged) == pytest.approx(4.0)


def test_dissolve_boundary_donut_produces_hole():
    # ring of 8 unit squares around an empty center: union = 3x3 square
    # with a 1x1 hole
    tiles = [
        _mp(_sq(i, j)) for i in range(3) for j in range(3) if not (i == 1 and j == 1)
    ]
    merged = wkb.dissolve_boundary(tiles)
    polys = wkb.parse_multipolygon(merged)
    assert len(polys) == 1 and len(polys[0]) == 2  # outer + hole
    assert wkb.multipolygon_area(merged) == pytest.approx(8.0)
    hole_pts = {(float(x), float(y)) for x, y in polys[0][1][:-1]}
    assert hole_pts == {(1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 2.0)}


def test_dissolve_boundary_disjoint_islands_stay_separate():
    tiles = [_mp(_sq(0, 0)), _mp(_sq(5, 5))]
    merged = wkb.dissolve_boundary(tiles)
    assert len(wkb.parse_multipolygon(merged)) == 2
    assert wkb.multipolygon_area(merged) == pytest.approx(2.0)


def test_dissolve_boundary_rejects_coincident_parts():
    with pytest.raises(ValueError, match="same direction"):
        wkb.dissolve_boundary([_mp(_sq(0, 0)), _mp(_sq(0, 0))])


# ----------------------------------------------------- compact/uncompact

def test_cell_compact_roundtrip_and_alignment():
    import numpy as np

    from jpspark.geom import cell

    rng = np.random.default_rng(0)
    s = np.unique(cell.from_xy(rng.integers(0, 256, 5000), rng.integers(0, 256, 5000), 8))
    assert (cell.uncompact(cell.compact(s), 8) == s).all()
    # aligned 16x16 block -> one res-4 cell
    xs, ys = np.meshgrid(np.arange(16), np.arange(16))
    blk = cell.from_xy(xs.ravel() + 32, ys.ravel() + 64, 8)
    cc = cell.compact(blk)
    assert len(cc) == 1 and int(cell.resolution(cc)[0]) == 4
    assert (cell.compact(cc) == cc).all()  # idempotent
    # full plane collapses to the root cell
    xs, ys = np.meshgrid(np.arange(256), np.arange(256))
    allc = cell.from_xy(xs.ravel(), ys.ravel(), 8)
    top = cell.compact(allc)
    assert len(top) == 1 and int(cell.resolution(top)[0]) == 0


def test_cell_compact_coarse_quartets_merge():
    """A complete quartet at a coarser level must merge even when the
    finest level has nothing to promote (regression for the level loop)."""
    import numpy as np

    from jpspark.geom import cell

    q = cell.from_xy(np.array([2, 3, 2, 3]), np.array([4, 4, 5, 5]), 3)
    lone = cell.from_xy(np.array([100]), np.array([100]), 8)
    got = cell.compact(np.concatenate([q, lone]))
    assert len(got) == 2
    assert sorted(cell.resolution(got).tolist()) == [2, 8]
    # uncompact refuses res below a member's res
    import pytest as _pytest

    with _pytest.raises(ValueError):
        cell.uncompact(got, 3)


def test_cell_compact_incomplete_quartet_untouched():
    import numpy as np

    from jpspark.geom import cell

    trio = cell.from_xy(np.array([2, 3, 2]), np.array([4, 4, 5]), 3)
    got = cell.compact(trio)
    assert (np.sort(got) == np.sort(trio)).all()


# ------------------------------------------------------------- measures

def test_geometry_measures_goldens():
    import numpy as np

    from jpspark.geom import wkb

    sq = np.array([[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]], float)
    hole = np.array(
        [[0.5, 0.5], [1.0, 0.5], [1.0, 1.0], [0.5, 1.0], [0.5, 0.5]], float
    )
    buf = wkb.encode_multipolygon([[sq, hole]])
    assert wkb.multipolygon_area(buf) == 3.75
    assert wkb.multipolygon_perimeter(buf) == 10.0
    exp = (4 * 1.0 - 0.25 * 0.75) / 3.75
    assert wkb.multipolygon_centroid(buf) == (exp, exp)
    # winding-insensitive (reversed rings give identical centroid)
    buf2 = wkb.encode_multipolygon([[sq[::-1], hole[::-1]]])
    assert wkb.multipolygon_centroid(buf2) == (exp, exp)
    # multipart: centroid is the area-weighted mean of the parts
    far = sq + np.array([10.0, 0.0])
    buf3 = wkb.encode_multipolygon([[sq], [far]])
    assert wkb.multipolygon_centroid(buf3) == (6.0, 1.0)
    line = wkb.encode_multilinestring([np.array([[0, 0], [3, 4], [3, 10]], float)])
    assert wkb.multilinestring_length(line) == 11.0
    with pytest.raises(ValueError):
        wkb.multipolygon_centroid(
            wkb.encode_multipolygon([[np.array([[0, 0], [1, 1], [0, 0]], float)]])
        )


def test_measures_op(spark):
    import numpy as np
    import pandas as pd

    from jpspark.geom import wkb
    from jpspark.ops import measures

    sq = np.array([[5, 5], [8, 5], [8, 9], [5, 9], [5, 5]], float)
    df = spark.createDataFrame(
        pd.DataFrame({"gid": [1], "geom": [wkb.encode_multipolygon([[sq]])]})
    )
    row = measures.add_geom_measures(df).collect()[0]
    assert (row.area, row.perimeter, row.centroid_x, row.centroid_y) == (12.0, 14.0, 6.5, 7.0)
    line = spark.createDataFrame(
        pd.DataFrame(
            {"gid": [1], "geom": [wkb.encode_multilinestring([np.array([[0, 0], [0, 7]], float)])]}
        )
    )
    assert measures.add_length(line).collect()[0].length == 7.0


def test_wkb_ewkb_srid_skipped_zm_rejected():
    """Round-3 ADVICE: PostGIS-style EWKB type-word flags. An SRID flag
    must be handled by skipping the 4-byte SRID (the geometry parses
    identically); Z/M flags and ISO 1000+ codes must raise cleanly, not
    misparse at a shifted offset."""
    import struct

    plain = wkb.encode_point(139.7, 35.6)
    # splice an EWKB SRID=4326 header onto the same coordinates
    ewkb = (
        b"\x01"
        + struct.pack("<I", wkb.POINT | 0x20000000)
        + struct.pack("<I", 4326)
        + plain[5:]
    )
    t1, p1 = wkb.parse(plain)
    t2, p2 = wkb.parse(ewkb)
    assert t1 == t2 == wkb.POINT
    assert np.allclose(p1, p2)
    # EWKB Z flag: explicit rejection
    zbuf = b"\x01" + struct.pack("<I", wkb.POINT | 0x80000000) + b"\x00" * 24
    with pytest.raises(ValueError, match="Z/M"):
        wkb.parse(zbuf)
    # ISO 1001 (Point Z): explicit rejection, not (1001 & 0xFF) == garbage
    iso = b"\x01" + struct.pack("<I", 1001) + b"\x00" * 24
    with pytest.raises(ValueError, match="1000"):
        wkb.parse(iso)


def test_snap_to_segments_hand_golden(spark):
    """Clamped projection + linear referencing on a hand-checkable
    network: line 0 is the unit-square L (0,0)->(1,0)->(1,1); line 1 is
    a distant horizontal segment. Checks interior projection, endpoint
    clamping, the (line_id, seg_idx) tie-break at the shared vertex, and
    the measure (cumulative length + t*seg_len)."""
    import pandas as pd

    from jpspark.geom import linear

    vx = spark.createDataFrame(
        pd.DataFrame(
            {
                "line_id": [0, 0, 0, 1, 1],
                "seq": [0, 1, 2, 0, 1],
                "x": [0.0, 1.0, 1.0, 10.0, 11.0],
                "y": [0.0, 0.0, 1.0, 0.0, 0.0],
            }
        )
    )
    seg = linear.segments_from_vertices(vx)
    rows = {(r.line_id, r.seg_idx): r for r in seg.collect()}
    assert rows[(0, 1)].m_offset == 1.0 and rows[(0, 0)].m_offset == 0.0
    assert rows[(0, 1)].seg_len == 1.0

    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "point_id": [1, 2, 3, 4],
                "x": [0.25, -1.0, 1.0, 10.5],
                # 1: above the first segment's interior -> t=0.25
                # 2: left of the first vertex -> clamps to t=0 (corner)
                # 3: exactly at the shared vertex (1,0): dist 0 on BOTH
                #    segments -> tie-break keeps seg_idx 0 (t=1)
                # 4: midpoint of line 1
                "y": [0.5, 0.0, 0.0, 0.25],
            }
        )
    )
    out = {r.point_id: r for r in linear.snap_to_segments(pts, seg).collect()}
    assert (out[1].line_id, out[1].seg_idx, out[1].t) == (0, 0, 0.25)
    assert (out[1].snap_x, out[1].snap_y, out[1].dist) == (0.25, 0.0, 0.5)
    assert out[1].measure == 0.25
    assert (out[2].t, out[2].snap_x, out[2].dist) == (0.0, 0.0, 1.0)
    assert (out[3].seg_idx, out[3].t, out[3].dist) == (0, 1.0, 0.0)
    assert out[3].measure == 1.0
    assert (out[4].line_id, out[4].t, out[4].dist, out[4].measure) == (1, 0.5, 0.25, 0.5)


def test_track_steps_hand_golden(spark):
    """track_steps on a two-user hand case: 3-4-5 step distances land
    exactly on the 1/2^20 quantization grid; first point NULL step; ties
    on equal ts break by event_id."""
    import datetime as dt

    import pandas as pd

    from jpspark.geom import linear

    t0 = dt.datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 10],
            "user_id": [7, 7, 7, 8],
            "ts": [t0, t0 + dt.timedelta(seconds=10), t0 + dt.timedelta(seconds=10), t0],
            "x": [0.0, 3.0 / 128, 3.0 / 128, 5.0],
            "y": [0.0, 4.0 / 128, 4.0 / 128, 5.0],
        }
    )
    out = {
        r.event_id: r
        for r in linear.track_steps(spark.createDataFrame(pdf)).collect()
    }
    assert out[1].step is None and out[1].dt_us is None
    assert out[2].step == 5.0 / 128 and out[2].step_q == 5 * 8192
    assert out[2].dt_us == 10_000_000
    # same-ts tie: event 3 orders after event 2, zero step
    assert out[3].step == 0.0 and out[3].dt_us == 0
    assert out[10].step is None  # other track's first point


def test_convex_hull_xy_hand_goldens():
    import numpy as np

    from jpspark.geom.hull import convex_hull_xy

    # square + interior + boundary-collinear points: strict hull = 4 corners
    xs = np.array([0.0, 4.0, 4.0, 0.0, 2.0, 2.0, 0.0, 1.0])
    ys = np.array([0.0, 0.0, 4.0, 4.0, 2.0, 0.0, 2.0, 1.0])
    idx = convex_hull_xy(xs, ys)
    assert sorted(zip(xs[idx], ys[idx])) == [(0.0, 0.0), (0.0, 4.0), (4.0, 0.0), (4.0, 4.0)]
    # CCW orientation: doubled shoelace positive
    hx, hy = xs[idx], ys[idx]
    area2 = float(np.sum(hx * np.roll(hy, -1) - np.roll(hx, -1) * hy))
    assert area2 == 32.0
    # collinear set -> the two extremes exactly; duplicates collapse
    xs2 = np.array([1.0, 2.0, 3.0, 2.0])
    ys2 = np.array([1.0, 2.0, 3.0, 2.0])
    idx2 = convex_hull_xy(xs2, ys2)
    assert sorted(zip(xs2[idx2], ys2[idx2])) == [(1.0, 1.0), (3.0, 3.0)]
    # single point
    assert len(convex_hull_xy(np.array([5.0]), np.array([6.0]))) == 1


def test_group_convex_hulls_partitioning_identity(spark):
    """The per-partition partial-hull reduction is partitioning-invariant
    — hull-of-hulls is lossless for ANY slicing of a group's rows —
    including on a hot group holding most points."""
    import pandas as pd

    from jpspark.geom.hull import group_convex_hulls

    rows = []
    # hot group 0: 500 points on a 25x20 lattice inside [0,6]x[0,5]
    for i in range(500):
        rows.append((0, (i % 25) * 0.25, (i // 25) * 0.25))
    # group 1: a triangle with an interior point
    rows += [(1, 0.0, 0.0), (1, 2.0, 0.0), (1, 0.0, 2.0), (1, 0.5, 0.5)]
    pts = spark.createDataFrame(pd.DataFrame(rows, columns=["g", "x", "y"]))
    a = {r.g: (r.n_vertices, r.area_q2, r.perim_q)
         for r in group_convex_hulls(pts.repartition(16), "g").collect()}
    b = {r.g: (r.n_vertices, r.area_q2, r.perim_q)
         for r in group_convex_hulls(pts.coalesce(1), "g").collect()}
    assert a == b
    assert a[0][0] == 4  # lattice rectangle: 4 corners
    assert a[0][1] == round(2 * 6.0 * 4.75 * 32768)  # 2 * w * h, exact
    assert a[1][0] == 3
    assert a[1][1] == round(2 * 2.0 * 32768)  # 2 * (2*2/2)


def test_group_convex_hulls_null_rows_and_batch_accumulation(spark):
    """NULL keys and NULL/NaN coordinates are dropped by contract, and
    the per-partition running hull accumulates across Arrow batches
    (forced tiny batches) without changing the result."""
    import pandas as pd

    from jpspark.geom.hull import group_convex_hulls

    rows = [(0, (i % 25) * 0.25, (i // 25) * 0.25) for i in range(500)]
    rows += [(None, 1.0, 1.0), (0, None, 2.0), (0, 3.0, float("nan"))]
    pts = spark.createDataFrame(
        pd.DataFrame(rows, columns=["g", "x", "y"]).astype({"x": float, "y": float})
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        out = {r.g: (r.n_vertices, r.area_q2)
               for r in group_convex_hulls(pts.coalesce(1), "g").collect()}
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    # the NULL-key row and bad-coordinate rows vanish; group 0's hull is
    # the 6 x 4.75 lattice rectangle regardless of batch slicing
    assert set(out) == {0}
    assert out[0] == (4, round(2 * 6.0 * 4.75 * 32768))
