"""MVT 2.1 codec: spec-golden byte layouts, wire round-trips, winding
rules, Sutherland–Hodgman clipping, and the distributed tile sinks."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from jpspark.codec import mvt
from jpspark.geom import clip as gclip
from jpspark.geom import wkb
from jpspark.geom.cell import LAT0, LON0, LAT1, LON1
from jpspark.ops import export


# ----------------------------------------------------------- wire format

def test_varint_zigzag_spec_values():
    # protobuf canon: 1 -> 0x01, 300 -> 0xAC 0x02
    assert mvt.uvarint(1) == b"\x01"
    assert mvt.uvarint(300) == b"\xac\x02"
    assert mvt.read_uvarint(b"\xac\x02", 0) == (300, 2)
    # zigzag canon: 0->0, -1->1, 1->2, -2->3
    assert [mvt.zigzag(v) for v in (0, -1, 1, -2, 2)] == [0, 1, 2, 3, 4]
    for v in (0, 1, -1, 2**31, -(2**31), 12345, -98765):
        assert mvt.unzigzag(mvt.zigzag(v)) == v


def test_point_geometry_spec_golden():
    """MVT spec 2.1 §4.3.5.1 example: a point at (25, 17) encodes to the
    command stream [9, 50, 34]."""
    assert mvt.point_geometry(np.array([25]), np.array([17])) == [9, 50, 34]


def test_polygon_geometry_spec_golden():
    """Spec §4.3.5.3 example polygon (3, 6)-(8, 12)-(20, 34): commands
    [9, 6, 12, 18, 10, 12, 24, 44, 15]."""
    ring = np.array([[3, 6], [8, 12], [20, 34]])
    assert mvt.polygon_geometry([(ring, True)]) == [9, 6, 12, 18, 10, 12, 24, 44, 15]


def test_minimal_tile_exact_bytes():
    """Hand-assembled wire bytes for a one-layer, one-point tile — pins
    the field numbers/ordering, not just self-consistency."""
    feat = mvt.encode_feature([9, 50, 34], mvt.POINT, feature_id=7)
    # feature: id=7 (field1 varint), type=1 (field3), geometry (field4 packed)
    assert feat == bytes([0x08, 7, 0x18, 1, 0x22, 3, 9, 50, 34])
    layer = mvt.encode_layer("pts", [feat], extent=4096)
    expected_layer = (
        bytes([0x78, 2])                       # version = 2 (field 15)
        + bytes([0x0A, 3]) + b"pts"            # name (field 1)
        + bytes([0x12, len(feat)]) + feat      # feature (field 2)
        + bytes([0x28]) + mvt.uvarint(4096)    # extent (field 5)
    )
    assert layer == expected_layer
    tile = mvt.encode_tile([layer])
    assert tile == bytes([0x1A, len(layer)]) + layer


def test_value_round_trip():
    for v in ["hello", "日本語", 0, -5, 2**40, True, False, 3.25, -0.5]:
        got = mvt.decode_value(mvt.encode_value(v))
        assert got == v and type(got) is type(v)


def test_tile_decode_round_trip_multi_feature():
    rng = np.random.default_rng(42)
    qx = rng.integers(0, 4096, 50)
    qy = rng.integers(0, 4096, 50)
    feats = [
        mvt.encode_feature(
            mvt.point_geometry(qx[i : i + 1], qy[i : i + 1]), mvt.POINT,
            feature_id=i, tags=[0, i % 3],
        )
        for i in range(50)
    ]
    blob = mvt.encode_tile(
        [mvt.encode_layer("L", feats, ["grp"], ["a", "b", "c"], extent=4096)]
    )
    layers = mvt.decode_tile(blob)
    assert len(layers) == 1
    L = layers[0]
    assert (L["version"], L["name"], L["extent"]) == (2, "L", 4096)
    assert L["keys"] == ["grp"] and L["values"] == ["a", "b", "c"]
    assert len(L["features"]) == 50
    for i, f in enumerate(L["features"]):
        assert f["id"] == i and f["type"] == mvt.POINT
        pt = f["geometry"][0]
        assert (pt[0] == [qx[i], qy[i]]).all()
        assert f["tags"] == [0, i % 3]


def test_polygon_winding_normalized():
    """Rings fed in either vertex order decode with spec-correct signs:
    exterior positive screen area, interior negative."""
    ext = np.array([[0, 0], [100, 0], [100, 100], [0, 100]])
    hole = np.array([[25, 25], [75, 25], [75, 75], [25, 75]])
    for flip_e in (ext, ext[::-1]):
        for flip_h in (hole, hole[::-1]):
            cmds = mvt.polygon_geometry([(flip_e, True), (flip_h, False)])
            rings = mvt.decode_geometry(cmds, mvt.POLYGON)
            assert len(rings) == 2
            (r0, a0), (r1, a1) = rings
            assert a0 > 0 and a1 < 0
            assert abs(a0) == 2 * 100 * 100 and abs(a1) == 2 * 50 * 50


def test_multilinestring_round_trip():
    l1 = np.array([[2, 2], [2, 10], [10, 10]])
    l2 = np.array([[1, 1], [3, 5]])
    cmds = mvt.linestring_geometry([l1, l2])
    # spec §4.3.5.2 golden for this exact multilinestring
    assert cmds == [9, 4, 4, 18, 0, 16, 16, 0, 9, 17, 17, 10, 4, 8]
    parts = mvt.decode_geometry(cmds, mvt.LINESTRING)
    assert (parts[0] == l1).all() and (parts[1] == l2).all()


# -------------------------------------------------------------- clipping

def test_clip_ring_bbox_cases():
    sq = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], dtype=float)
    # fully inside: unchanged vertex set
    c = gclip.clip_ring_bbox(sq, -5, -5, 15, 15)
    assert len(c) == 4 and wkb.ring_area(np.vstack([c, c[:1]])) == 100
    # straddling: intersection is the overlap rectangle
    c = gclip.clip_ring_bbox(sq, 5, 5, 20, 20)
    assert abs(abs(wkb.ring_area(np.vstack([c, c[:1]]))) - 25) < 1e-12
    # disjoint: empty
    assert len(gclip.clip_ring_bbox(sq, 20, 20, 30, 30)) == 0
    # clip box inside the ring: result IS the clip box
    c = gclip.clip_ring_bbox(sq, 2, 2, 8, 8)
    assert abs(abs(wkb.ring_area(np.vstack([c, c[:1]]))) - 36) < 1e-12


def test_clip_triangle_area_exact():
    tri = np.array([[0, 0], [40, 0], [0, 40]], dtype=float)
    c = gclip.clip_ring_bbox(tri, 0, 0, 20, 20)
    # triangle minus the corner cut: 20x20 square minus nothing... the
    # hypotenuse x+y=40 misses the [0,20]^2 box entirely -> full square
    assert abs(abs(wkb.ring_area(np.vstack([c, c[:1]]))) - 400) < 1e-12
    c = gclip.clip_ring_bbox(tri, 10, 10, 40, 40)
    # region: x>=10, y>=10, x+y<=40 -> triangle with legs 20 -> area 200
    assert abs(abs(wkb.ring_area(np.vstack([c, c[:1]]))) - 200) < 1e-12


# ----------------------------------------------------- distributed sinks

def test_mvt_tiles_points_sink(spark):
    z, extent = 4, 4096
    sx, sy = (LON1 - LON0) / 16, (LAT1 - LAT0) / 16
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "pid": np.arange(400),
            "lon": rng.uniform(0, 40, 400),
            "lat": rng.uniform(0, 40, 400),
            "grp": [f"g{i % 3}" for i in range(400)],
        }
    )
    df = spark.createDataFrame(pdf)
    out = export.mvt_tiles_points(
        df, z, id_col="pid", attr_cols=("grp",), extent=extent
    ).collect()
    assert sum(r.n_features for r in out) == 400
    seen = set()
    for r in out:
        L = mvt.decode_tile(bytes(r.bytes))[0]
        assert L["version"] == 2 and L["extent"] == extent
        lon0 = LON0 + r.tile_x * sx
        lat_top = LAT0 + (r.tile_y + 1) * sy
        for f in L["features"]:
            seen.add(f["id"])
            q = f["geometry"][0][0]
            row = pdf[pdf.pid == f["id"]].iloc[0]
            assert q[0] == min(int(np.floor((row.lon - lon0) / sx * extent)), extent - 1)
            assert q[1] == min(int(np.floor((lat_top - row.lat) / sy * extent)), extent - 1)
            assert 0 <= q[0] < extent and 0 <= q[1] < extent
            # attribute round-trip through the keys/values pool
            k, v = f["tags"][0], f["tags"][1]
            assert L["keys"][k] == "grp" and L["values"][v] == row.grp
    assert seen == set(range(400))


def test_mvt_tiles_polygons_sink(spark):
    """A polygon spanning 2x2 tiles at z=4: every covering tile carries a
    clipped feature whose decoded screen-space area equals the polygon∩
    (buffered tile) area to quantization accuracy."""
    z, extent = 4, 4096
    sx, sy = (LON1 - LON0) / 16, (LAT1 - LAT0) / 16
    # a rectangle [5,40]x[2,20] (degrees) with a hole in one tile
    ext_r = np.array([[5, 2], [40, 2], [40, 20], [5, 20], [5, 2]], dtype=float)
    hole = np.array([[10, 5], [15, 5], [15, 9], [10, 9], [10, 5]], dtype=float)
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": [1], "geom": [wkb.encode_multipolygon([[ext_r, hole]])]})
    )
    out = export.mvt_tiles_polygons(polys, z, id_col="poly_id", buffer_px=0).collect()
    assert len(out) >= 4  # spans at least 2x2 tiles
    px_area = 0.0
    for r in out:
        L = mvt.decode_tile(bytes(r.bytes))[0]
        for f in L["features"]:
            assert f["id"] == 1 and f["type"] == mvt.POLYGON
            for ring, a2 in f["geometry"]:
                px_area += a2 / 2.0
    # net screen-space pixel area (holes negative) == geographic area
    # scaled by pixels-per-degree, to quantization tolerance
    geo_area = (35 * 18) - (5 * 4)
    px_per_deg2 = (extent / sx) * (extent / sy)
    assert abs(px_area / px_per_deg2 - geo_area) / geo_area < 2e-3


def test_encode_point_features_differential():
    """The vectorized feature encoder must be wire-identical to the
    scalar path, byte for byte, over random coordinates and large ids."""
    rng = np.random.default_rng(11)
    for _ in range(5):
        n = int(rng.integers(1, 3000))
        qx = rng.integers(0, 4096, n)
        qy = rng.integers(0, 4096, n)
        ids = rng.integers(0, 2**40, n)
        fast = mvt.encode_point_features(qx, qy, ids)
        slow = b"".join(
            mvt._ld(
                2,
                mvt.encode_feature(
                    mvt.point_geometry(qx[i : i + 1], qy[i : i + 1]),
                    mvt.POINT,
                    feature_id=int(ids[i]),
                ),
            )
            for i in range(n)
        )
        assert fast == slow


def test_mvt_tiles_points_fast_path(spark):
    """No-attrs sink takes the vectorized path; decoded output must carry
    the same ids and quantized coords as the generic (slow) layer path."""
    rng = np.random.default_rng(13)
    pdf = pd.DataFrame(
        {
            "pid": np.arange(1000),
            "lon": rng.uniform(0, 40, 1000),
            "lat": rng.uniform(0, 40, 1000),
        }
    )
    df = spark.createDataFrame(pdf)
    out = export.mvt_tiles_points(df, 4, id_col="pid").collect()
    assert sum(r.n_features for r in out) == 1000
    seen = {}
    for r in out:
        L = mvt.decode_tile(bytes(r.bytes))[0]
        assert L["version"] == 2 and L["extent"] == 4096
        for f in L["features"]:
            seen[f["id"]] = f["geometry"][0][0]
    assert set(seen) == set(range(1000))
    sx, sy = (LON1 - LON0) / 16, (LAT1 - LAT0) / 16
    for r in out:
        lon0 = LON0 + r.tile_x * sx
        lat_top = LAT0 + (r.tile_y + 1) * sy
        for f in mvt.decode_tile(bytes(r.bytes))[0]["features"]:
            row = pdf[pdf.pid == f["id"]].iloc[0]
            q = f["geometry"][0][0]
            assert q[0] == min(int(np.floor((row.lon - lon0) / sx * 4096)), 4095)
            assert q[1] == min(int(np.floor((lat_top - row.lat) / sy * 4096)), 4095)


def test_clip_polyline_cases():
    # crossing, re-entering, inside, outside + length conservation
    line = np.array([[-5, 5], [15, 5]], float)
    p = gclip.clip_polyline_bbox(line, 0, 0, 10, 10)
    assert len(p) == 1 and np.allclose(p[0], [[0, 5], [10, 5]])
    v = np.array([[2, 2], [5, -6], [8, 2]], float)
    assert len(gclip.clip_polyline_bbox(v, 0, 0, 10, 10)) == 2
    inside = np.array([[1, 1], [2, 3], [4, 4]], float)
    assert np.allclose(gclip.clip_polyline_bbox(inside, 0, 0, 10, 10)[0], inside)
    assert gclip.clip_polyline_bbox(np.array([[20, 20], [30, 30]], float), 0, 0, 10, 10) == []
    diag = np.array([[2, 2], [18, 8]], float)
    l1 = gclip.clip_polyline_bbox(diag, 0, 0, 10, 10)[0]
    l2 = gclip.clip_polyline_bbox(diag, 10, 0, 20, 10)[0]
    tot = np.hypot(*(l1[-1] - l1[0])) + np.hypot(*(l2[-1] - l2[0]))
    assert abs(tot - np.hypot(16, 6)) < 1e-9


def test_mvt_tiles_lines_sink(spark):
    """A road crossing 2 tiles + a V-shaped line that exits and re-enters
    its tile: per-tile features carry the correct id, path count, and a
    screen-length sum consistent with the clipped geographic length."""
    z, extent = 4, 4096
    sx, sy = (LON1 - LON0) / 16, (LAT1 - LAT0) / 16
    road = wkb.encode_multilinestring(
        [np.array([[5, 5], [40, 8]], dtype=float)]  # crosses tile x boundary at 22.5
    )
    vline = wkb.encode_multilinestring(
        [np.array([[2, 2], [8, -20], [14, 2]], dtype=float)]  # dips into the tile below
    )
    df = spark.createDataFrame(
        pd.DataFrame({"line_id": [1, 2], "geom": [road, vline]})
    )
    out = export.mvt_tiles_lines(df, z, id_col="line_id", buffer_px=0).collect()
    by_tile = {(r.tile_x, r.tile_y): r for r in out}
    total_len_px = 0.0
    n_paths_line2 = 0
    for r in out:
        L = mvt.decode_tile(bytes(r.bytes))[0]
        assert L["version"] == 2
        for f in L["features"]:
            assert f["type"] == mvt.LINESTRING
            for part in f["geometry"]:
                d = np.diff(part, axis=0)
                total_len_px += float(np.hypot(d[:, 0], d[:, 1]).sum())
                if f["id"] == 2:
                    n_paths_line2 += 1
    # line 2 leaves its tile and re-enters: two paths in its home tile
    assert n_paths_line2 >= 2
    # screen length ~ geographic length scaled (anisotropic, so compare
    # against the per-axis scaled polyline length)
    def px_len(pts):
        d = np.diff(np.asarray(pts, float), axis=0)
        return float(np.hypot(d[:, 0] / sx * extent, d[:, 1] / sy * extent).sum())

    exp = px_len([[5, 5], [40, 8]])  # the road, clipped pieces partition it
    # the V's contribution: its clipped pieces inside each covered tile
    vp = gclip.clip_polyline_bbox(
        np.array([[2, 2], [8, -20], [14, 2]], float), 0, 0, 22.5, 11.25
    )
    vp += gclip.clip_polyline_bbox(
        np.array([[2, 2], [8, -20], [14, 2]], float), 0, -11.25, 22.5, 0.0
    )
    vp += gclip.clip_polyline_bbox(
        np.array([[2, 2], [8, -20], [14, 2]], float), 0, -22.5, 22.5, -11.25
    )
    exp_v = sum(px_len(p) for p in vp)
    assert abs(total_len_px - (exp + exp_v)) / (exp + exp_v) < 0.02


def test_write_mvt_directory(spark, tmp_path):
    """Tiles land as {z}/{x}/{y}.mvt files (XYZ y-flip), decode from
    disk, and metadata.json (TileJSON 3.0 shape) is written LAST with
    correct zoom range, bounds, and counts."""
    import json
    import os

    rng = np.random.default_rng(21)
    pdf = pd.DataFrame(
        {
            "pid": np.arange(300),
            "lon": rng.uniform(0, 40, 300),
            "lat": rng.uniform(0, 40, 300),
        }
    )
    tiles = export.mvt_tiles_points(spark.createDataFrame(pdf), 4, id_col="pid")
    out_dir = str(tmp_path / "tiles")
    meta = export.write_mvt_directory(tiles, out_dir, name="t")
    assert meta["tilejson"] == "3.0.0" and meta["minzoom"] == meta["maxzoom"] == 4
    assert meta["bounds"][0] >= 0 - 22.5 and meta["bounds"][2] <= 45 + 22.5
    disk = []
    n_feat = 0
    for z_dir in os.listdir(out_dir):
        if not os.path.isdir(os.path.join(out_dir, z_dir)):
            continue
        for x_dir in os.listdir(os.path.join(out_dir, z_dir)):
            for f in os.listdir(os.path.join(out_dir, z_dir, x_dir)):
                assert f.endswith(".mvt")
                with open(os.path.join(out_dir, z_dir, x_dir, f), "rb") as fh:
                    L = mvt.decode_tile(fh.read())[0]
                n_feat += len(L["features"])
                disk.append((int(z_dir), int(x_dir), int(f[:-4])))
    assert len(disk) == meta["tile_count"]
    assert n_feat == 300
    with open(os.path.join(out_dir, "metadata.json")) as fh:
        assert json.load(fh)["tile_count"] == len(disk)
    # XYZ flip: engine tile_y -> (2^z - 1 - y) on disk
    eng = {(r.tile_z, r.tile_x, (1 << r.tile_z) - 1 - r.tile_y) for r in tiles.collect()}
    assert set(disk) == eng


def test_read_mvt_directory_roundtrip(spark, tmp_path):
    """write_mvt_directory -> read_mvt_directory recovers every feature
    with lon/lat within one pixel of the original points."""
    rng = np.random.default_rng(31)
    pdf = pd.DataFrame(
        {
            "pid": np.arange(500),
            "lon": rng.uniform(10, 80, 500),
            "lat": rng.uniform(-30, 40, 500),
        }
    )
    z = 5
    tiles = export.mvt_tiles_points(spark.createDataFrame(pdf), z, id_col="pid")
    out_dir = str(tmp_path / "rt_tiles")
    export.write_mvt_directory(tiles, out_dir)
    back = export.read_mvt_directory(spark, out_dir).toPandas()
    assert len(back) == 500
    assert set(back["feature_id"]) == set(range(500))
    px_x = (LON1 - LON0) / (1 << z) / 4096
    px_y = (LAT1 - LAT0) / (1 << z) / 4096
    for _, r in back.iterrows():
        pt = wkb.parse_multipoint(bytes(r["geom"]))[0]
        orig = pdf[pdf.pid == r["feature_id"]].iloc[0]
        assert abs(pt[0] - orig.lon) <= px_x + 1e-12
        assert abs(pt[1] - orig.lat) <= px_y + 1e-12


def test_sinks_drop_empty_tiles(spark):
    """A diagonal line/polygon whose bbox covers tiles it never touches:
    empties are dropped by default, kept with drop_empty=False."""
    diag = wkb.encode_multilinestring(
        [np.array([[1, 1], [43, 43]], dtype=float)]  # bbox covers ~2x4 tiles
    )
    df = spark.createDataFrame(pd.DataFrame({"line_id": [1], "geom": [diag]}))
    kept = export.mvt_tiles_lines(df, 4, id_col="line_id", buffer_px=0)
    all_t = export.mvt_tiles_lines(df, 4, id_col="line_id", buffer_px=0, drop_empty=False)
    nk, na = kept.count(), all_t.count()
    assert nk < na  # bbox-covered but untouched tiles existed and were dropped
    assert kept.filter(F.col("n_features") == 0).count() == 0


def test_sinks_one_row_per_tile_across_arrow_batches(spark):
    """Tiles whose rows span many Arrow batches (maxRecordsPerBatch=2):
    every sink emits each tile key exactly once, and the decoded feature
    ids per tile equal the driver-side tile assignment."""
    z = 5
    sx, sy = (LON1 - LON0) / 32, (LAT1 - LAT0) / 32
    rng = np.random.default_rng(41)
    n = 400
    pts = pd.DataFrame(
        {"pid": np.arange(n), "lon": rng.uniform(0, 90, n), "lat": rng.uniform(0, 45, n)}
    )
    exp_pts: dict = {}
    for pid, lo, la in zip(pts.pid, pts.lon, pts.lat):
        key = (int((lo - LON0) // sx), int((la - LAT0) // sy))
        exp_pts.setdefault(key, set()).add(int(pid))
    # rectangles and horizontal lines whose corners sit a quarter tile
    # inside their first and last tiles: every bbox-covered tile holds a
    # piece at least a quarter tile wide, so no tile clips to empty
    polys, lines, exp_polys, exp_lines = [], [], {}, {}
    for i in range(60):
        tx0, ty0 = int(rng.integers(16, 24)), int(rng.integers(16, 20))
        w, h = int(rng.integers(0, 3)), int(rng.integers(0, 3))
        x0, y0 = LON0 + (tx0 + 0.25) * sx, LAT0 + (ty0 + 0.25) * sy
        x1, y1 = LON0 + (tx0 + w + 0.75) * sx, LAT0 + (ty0 + h + 0.75) * sy
        ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
        polys.append(wkb.encode_multipolygon([[ring]]))
        lines.append(wkb.encode_multilinestring([np.array([[x0, y0], [x1, y0]])]))
        for tx in range(tx0, tx0 + w + 1):
            exp_lines.setdefault((tx, ty0), set()).add(i)
            for ty in range(ty0, ty0 + h + 1):
                exp_polys.setdefault((tx, ty), set()).add(i)
    geo = pd.DataFrame({"fid": np.arange(60), "poly": polys, "line": lines})

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        outs = {
            "points": (
                export.mvt_tiles_points(spark.createDataFrame(pts), z, id_col="pid").collect(),
                exp_pts,
            ),
            "polygons": (
                export.mvt_tiles_polygons(
                    spark.createDataFrame(geo[["fid", "poly"]]), z, id_col="fid",
                    geom_col="poly", buffer_px=0,
                ).collect(),
                exp_polys,
            ),
            "lines": (
                export.mvt_tiles_lines(
                    spark.createDataFrame(geo[["fid", "line"]]), z, id_col="fid",
                    geom_col="line", buffer_px=0,
                ).collect(),
                exp_lines,
            ),
        }
    finally:
        spark.conf.set(key, old)
    for name, (rows, expected) in outs.items():
        keys = [(r.tile_x, r.tile_y) for r in rows]
        assert len(keys) == len(set(keys)), f"{name}: a tile key repeats"
        got = {
            (r.tile_x, r.tile_y): {f["id"] for f in mvt.decode_tile(bytes(r.bytes))[0]["features"]}
            for r in rows
        }
        assert got == expected, name
        assert all(r.tile_z == z and r.n_features == len(got[(r.tile_x, r.tile_y)]) for r in rows)
