"""Golden tests: distributed spatial operators vs pure-Python oracles.

These are the bit-for-bit join-parity gates from BASELINE.md: identical
row sets for PIP assignment, kNN (incl. ranks), tile/cell assignment, and
dissolve invariants, on the deterministic fixtures.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import types as T

from jpspark import fixtures as fx
from jpspark.geom import cell, wkb
from jpspark.ops import dissolve as dis
from jpspark.ops import knn as knn_ops
from jpspark.ops import spatial_join as sj
from jpspark.ops import tiles as tile_ops

N_IMG = 800
N_MUNI = 40


@pytest.fixture(scope="module")
def polys():
    return fx.admin_polygons(N_MUNI)


@pytest.fixture(scope="module")
def images_pdf(polys):
    return fx.images(N_IMG, polys)


@pytest.fixture(scope="module")
def points_sdf(spark, images_pdf):
    return spark.createDataFrame(images_pdf[["image_id", "lon", "lat", "phash"]])


def test_pip_broadcast_matches_oracle(spark, polys, images_pdf, points_sdf):
    got = (
        sj.pip_join_broadcast(points_sdf, polys, "全国地方公共団体コード", out_col="muni")
        .select("image_id", "muni")
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    oracle = fx.pip_assign_oracle(
        images_pdf["lon"].to_numpy(), images_pdf["lat"].to_numpy(), polys
    )
    exp = (
        pd.DataFrame({"image_id": images_pdf["image_id"], "muni": oracle})
        .loc[lambda d: d["muni"] != ""]
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    # the fixtures tile the bbox exactly -> every point should be assigned
    assert len(exp) == N_IMG
    pd.testing.assert_frame_equal(got, exp)


def test_pip_shuffle_matches_broadcast(spark, polys, images_pdf, points_sdf):
    polys_sdf = spark.createDataFrame(polys[["全国地方公共団体コード", "geom"]])
    got = (
        sj.pip_join_shuffle(points_sdf, polys_sdf, "全国地方公共団体コード", salt_cells=4)
        .select("image_id", "poly_id")
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    oracle = fx.pip_assign_oracle(
        images_pdf["lon"].to_numpy(), images_pdf["lat"].to_numpy(), polys
    )
    exp = (
        pd.DataFrame({"image_id": images_pdf["image_id"], "poly_id": oracle})
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)


def test_pip_shuffle_settled_grid_bit_identical(spark, polys, images_pdf, points_sdf):
    """The interior-cell settled-grid fast path on the SHUFFLE strategy
    (round-4 VERDICT #6): forcing every group through the per-polygon
    settled grid (settled_min_points=1) must be bit-identical to the
    exact-only kernel (settled_cells=None) and to the closed-form
    oracle — same guarantee the broadcast path proves."""
    polys_sdf = spark.createDataFrame(polys[["全国地方公共団体コード", "geom"]])

    def run(**kw):
        return (
            sj.pip_join_shuffle(
                points_sdf, polys_sdf, "全国地方公共団体コード", salt_cells=2, **kw
            )
            .select("image_id", "poly_id")
            .toPandas()
            .sort_values("image_id")
            .reset_index(drop=True)
        )

    fast = run(settled_cells=65_536, settled_min_points=1)
    exact = run(settled_cells=None)
    pd.testing.assert_frame_equal(fast, exact)
    oracle = fx.pip_assign_oracle(
        images_pdf["lon"].to_numpy(), images_pdf["lat"].to_numpy(), polys
    )
    exp = (
        pd.DataFrame({"image_id": images_pdf["image_id"], "poly_id": oracle})
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(fast, exp)


def test_knn_broadcast_matches_oracle(spark, polys, images_pdf, points_sdf):
    fac = fx.facilities(150, polys)
    k = 5
    got = (
        knn_ops.knn_join_broadcast(points_sdf.limit(200), fac, k)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    sub = images_pdf.iloc[:200]
    exp = fx.knn_oracle(
        sub["lon"].to_numpy(),
        sub["lat"].to_numpy(),
        fac["lon"].to_numpy(),
        fac["lat"].to_numpy(),
        fac["ogc_fid"].to_numpy(),
        k,
    )
    exp["query_id"] = sub["image_id"].to_numpy()[exp["query_idx"]]
    exp = (
        exp[["query_id", "rank", "target_id", "dist"]]
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    got["rank"] = got["rank"].astype(exp["rank"].dtype)
    pd.testing.assert_frame_equal(got, exp, check_exact=True)


def test_knn_broadcast_no_targets_is_a_cross_join(spark, polys, points_sdf):
    """An empty target table has the oracle's CROSS JOIN semantics: no
    neighbour rows, or one row of empty lists per query with as_arrays."""
    empty = fx.facilities(5, polys).iloc[:0]
    queries = points_sdf.limit(30)
    assert knn_ops.knn_join_broadcast(queries, empty, 5).count() == 0
    arrays = knn_ops.knn_join_broadcast(queries, empty, 5, as_arrays=True).toPandas()
    assert sorted(arrays["query_id"]) == sorted(r.image_id for r in queries.select("image_id").collect())
    assert all(len(t) == 0 for t in arrays["target_ids"])
    assert all(len(d) == 0 for d in arrays["dists"])


def test_knn_shuffle_matches_oracle(spark, polys, images_pdf, points_sdf):
    fac = fx.facilities(150, polys)
    fac_sdf = spark.createDataFrame(fac[["ogc_fid", "lon", "lat"]])
    k = 3
    got = (
        knn_ops.knn_join_shuffle(points_sdf.limit(100), fac_sdf, k, res=3, max_ring=2)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    sub = images_pdf.iloc[:100]
    exp = fx.knn_oracle(
        sub["lon"].to_numpy(), sub["lat"].to_numpy(),
        fac["lon"].to_numpy(), fac["lat"].to_numpy(),
        fac["ogc_fid"].to_numpy(), k,
    )
    exp["query_id"] = sub["image_id"].to_numpy()[exp["query_idx"]]
    exp = (
        exp[["query_id", "rank", "target_id", "dist"]]
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    got["rank"] = got["rank"].astype(exp["rank"].dtype)
    assert np.allclose(got["dist"], exp["dist"])
    pd.testing.assert_frame_equal(
        got[["query_id", "rank", "target_id"]], exp[["query_id", "rank", "target_id"]]
    )


def test_pip_count_pushdown_matches_row_form(spark, polys, points_sdf):
    """Aggregate-pushdown counts must equal groupBy over the
    row-annotating join exactly."""
    via_rows = (
        sj.pip_join_broadcast(points_sdf, polys, "全国地方公共団体コード", out_col="muni")
        .groupBy("muni")
        .count()
        .withColumnRenamed("count", "n_points")
        .toPandas()
        .sort_values("muni")
        .reset_index(drop=True)
    )
    pushed = (
        sj.pip_count_broadcast(points_sdf, polys, "全国地方公共団体コード", out_col="muni")
        .toPandas()
        .sort_values("muni")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(pushed, via_rows)


def test_broadcast_kernels_identical_across_chunk_flushes(spark, monkeypatch, polys, points_sdf):
    """The broadcast-probe seam packs Arrow batches into chunks of
    ``chunk_rows`` rows and flushes each into the probe. With tiny chunk
    constants and tiny Arrow batches every task flushes many chunks, and
    every kernel must return what one chunk per task returns."""
    fac = fx.facilities(150, polys)
    code = "全国地方公共団体コード"
    runs = {
        "pip_join": lambda: sj.pip_join_broadcast(points_sdf, polys, code, out_col="muni")
        .select("image_id", "muni"),
        "pip_count": lambda: sj.pip_count_broadcast(points_sdf, polys, code, out_col="muni"),
        "knn_rows": lambda: knn_ops.knn_join_broadcast(points_sdf, fac, 5),
        "knn_arrays": lambda: knn_ops.knn_join_broadcast(points_sdf, fac, 5, as_arrays=True),
    }

    def collect(build):
        rows = [tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in build().collect()]
        return sorted(rows)

    base = {name: collect(build) for name, build in runs.items()}
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    for mod, const in (
        (sj, "_PIP_JOIN_CHUNK_ROWS"), (sj, "_PIP_COUNT_CHUNK_ROWS"), (knn_ops, "_KNN_CHUNK_ROWS")
    ):
        monkeypatch.setattr(mod, const, 37)
    try:
        spark.conf.set(conf, "16")
        # the seam itself: chunks reach chunk_rows, only a task's last is short
        sizes = sj._broadcast_probe(
            points_sdf.select("lon"), None, T.StructType([T.StructField("n", T.LongType())]), 37,
            lambda _index, _out: lambda tbl: [pa.array([tbl.num_rows], type=pa.int64())],
        ).collect()
        assert sum(r.n for r in sizes) == N_IMG
        assert len(sizes) > N_IMG // 64 and sum(r.n < 37 for r in sizes) <= points_sdf.rdd.getNumPartitions()
        for name, build in runs.items():
            assert collect(build) == base[name], name
    finally:
        spark.conf.set(conf, old)


def test_settled_grid_matches_exact_path(polys):
    """The settled-cell fast path must agree with the exact ray-cast path
    everywhere, including points ON polygon boundaries and exactly on
    fine-grid cell borders (the half-open convention territory)."""
    rng = np.random.default_rng(17)
    n = 4000
    lon = rng.uniform(121.0, 155.0, n)  # includes outside-all margins
    lat = rng.uniform(19.0, 47.0, n)
    # adversarial extras: polygon vertices themselves + fine-grid borders
    verts = np.vstack(
        [wkb.parse_multipolygon(g)[0][0][:50] for g in polys["geom"]]
    )[:500]
    fast = sj.PolygonIndex.from_pandas(polys, "ogc_fid")
    slow = sj.PolygonIndex.from_pandas(polys, "ogc_fid", settled_cells=None)
    assert fast.settled_grid is not None and slow.settled_grid is None
    grid_n = 1 << fast.settled_res
    border_lon = (
        -180.0 + np.arange(fast._win[0] + 10, fast._win[0] + 60) * (360.0 / grid_n)
    )  # exact fine-cell edges inside the window
    border_lat = np.full(50, 35.0)
    lon = np.concatenate([lon, verts[:, 0], border_lon])
    lat = np.concatenate([lat, verts[:, 1], border_lat])
    a = fast.assign_ordinals(lon, lat)
    b = slow.assign_ordinals(lon, lat)
    assert np.array_equal(a, b)


def test_polygon_index_memo_not_inherited_by_derived_frames():
    """The index memo on ``attrs`` answers for the frame it was built on
    only. pandas deep-copies ``attrs`` into selections, filters and
    copies; such a frame must build its own index, not answer with the
    parent's polygons."""
    def square(x0):
        ring = np.array([[x0, 30], [x0 + 1, 30], [x0 + 1, 31], [x0, 31], [x0, 30]], float)
        return wkb.encode_multipolygon([[ring]])

    pdf = pd.DataFrame({"id": [1, 2], "geom": [square(130.0), square(132.0)]})
    px, py = np.array([130.5, 132.5]), np.array([30.5, 30.5])
    idx = sj.PolygonIndex.from_pandas(pdf, "id")
    assert sj.PolygonIndex.from_pandas(pdf, "id") is idx  # same frame: memo hit
    assert list(idx.assign(px, py)) == [1, 2]
    only2 = pdf[pdf.id == 2]
    assert list(sj.PolygonIndex.from_pandas(only2, "id").assign(px, py)) == [None, 2]
    moved = pdf.copy()
    moved.at[0, "geom"] = square(132.0)
    assert list(sj.PolygonIndex.from_pandas(moved, "id").assign(px, py)) == [None, 1]


def test_knn_shuffle_guard_errors_when_ring_too_small(spark):
    """Deliberately undersized max_ring: the kth neighbor lies outside the
    replicated disk. The guard must fail the job loudly instead of
    returning silently-wrong neighbors."""
    qry = spark.createDataFrame(
        pd.DataFrame({"image_id": ["q1", "q2"], "lon": [123.0, 123.5], "lat": [21.0, 21.5]})
    )
    # 5 targets ~25 degrees away: far outside disk(1) at res=7 (~1.4 deg)
    tgt = spark.createDataFrame(
        pd.DataFrame({"ogc_fid": range(5), "lon": [150.0 + i * 0.1 for i in range(5)],
                      "lat": [44.0] * 5})
    )
    out = knn_ops.knn_join_shuffle(qry, tgt, k=2, res=7, max_ring=1)
    with pytest.raises(Exception, match="knn_join_shuffle inexact"):
        out.collect()


def test_knn_shuffle_guard_flag_mode(spark):
    """flag mode: queries with a provably-exact top-k get exact=True;
    under-served queries are flagged instead of erroring."""
    qry = spark.createDataFrame(
        pd.DataFrame({"image_id": ["q1"], "lon": [140.0], "lat": [35.0]})
    )
    # 2 targets adjacent to the query, but k=3 -> n_found < k -> inexact
    tgt = spark.createDataFrame(
        pd.DataFrame({"ogc_fid": [1, 2], "lon": [140.01, 140.02], "lat": [35.0, 35.0]})
    )
    out = knn_ops.knn_join_shuffle(qry, tgt, k=3, res=7, max_ring=1, guard="flag").toPandas()
    assert len(out) == 2 and (~out["exact"]).all()
    ok = knn_ops.knn_join_shuffle(qry, tgt, k=2, res=7, max_ring=1, guard="flag").toPandas()
    assert len(ok) == 2 and ok["exact"].all()


def test_knn_shuffle_flag_mode_surfaces_zero_candidate_queries(spark):
    """Round-3 ADVICE regression: a query whose replicated disk holds ZERO
    candidates must still appear in flag-mode output (null target,
    exact=False) — previously the isNotNull filter made it vanish, which
    breaks the 'inexact queries are surfaced for escalation' promise."""
    qry = spark.createDataFrame(
        pd.DataFrame(
            {"image_id": ["near", "far"], "lon": [140.0, 100.0], "lat": [35.0, -40.0]}
        )
    )
    tgt = spark.createDataFrame(
        pd.DataFrame({"ogc_fid": [1], "lon": [140.01], "lat": [35.0]})
    )
    out = knn_ops.knn_join_shuffle(
        qry, tgt, k=1, res=7, max_ring=1, guard="flag"
    ).toPandas()
    assert set(out["query_id"]) == {"near", "far"}
    far = out[out["query_id"] == "far"]
    assert len(far) == 1 and not far["exact"].iloc[0]
    assert far["target_id"].isna().all() and far["rank"].isna().all()
    near = out[out["query_id"] == "near"]
    assert len(near) == 1 and near["exact"].iloc[0] and near["target_id"].iloc[0] == 1


def test_knn_shuffle_salted_identical(spark, polys, points_sdf):
    """Round-6 skew ladder contract: n_salt changes the physical join
    layout only — every output row (incl. guard flags and null-target
    rows) is bit-identical to the unsalted plan."""
    fac = fx.facilities(150, polys)
    fac_sdf = spark.createDataFrame(fac[["ogc_fid", "lon", "lat"]])
    cols = ["query_id", "rank", "target_id", "dist", "exact"]

    def run(n_salt):
        return (
            knn_ops.knn_join_shuffle(
                points_sdf.limit(200), fac_sdf, k=3, res=3, max_ring=2,
                guard="flag", n_salt=n_salt,
            )
            .toPandas()[cols]
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )

    base = run(1)
    for s in (2, 8):
        pd.testing.assert_frame_equal(run(s), base, check_exact=True)


def test_shuffle_joins_run_one_python_eval(spark, polys, points_sdf):
    """Points get their cell from JVM-side column math in both shuffle
    joins: the only ``ArrowEvalPython`` left in the ``pip_join_shuffle``
    plan is the polygon bbox cover, and in the ``knn_join_shuffle`` plan
    the target disk explode."""
    import re

    from jpspark.ops.bucketing import physical_plan

    polys_sdf = spark.createDataFrame(polys[["全国地方公共団体コード", "geom"]])
    fac_sdf = spark.createDataFrame(fx.facilities(150, polys)[["ogc_fid", "lon", "lat"]])
    for df, udf in (
        (sj.pip_join_shuffle(points_sdf, polys_sdf, "全国地方公共団体コード"), "cover_udf"),
        (knn_ops.knn_join_shuffle(points_sdf, fac_sdf, 3, res=3, guard="flag"), "disk_udf"),
    ):
        plan = physical_plan(df)
        evals = re.findall(r"\(\d+\) ArrowEvalPython\nInput \[\d+\]: .*\nArguments: \[(\w+)\(", plan)
        assert evals == [udf], plan


def test_shuffle_joins_null_coordinate(spark, polys):
    """A null coordinate matches no polygon and no target: the shuffle PIP
    join drops the point, as the broadcast join does, and the
    flag-guarded shuffle kNN surfaces it as an inexact query with no
    neighbour."""
    pts = spark.createDataFrame(
        pd.DataFrame({"image_id": ["in", "null_lon"], "lon": [135.0, None], "lat": [35.0, 35.0]}),
        "image_id string, lon double, lat double",
    )
    code = "全国地方公共団体コード"
    polys_sdf = spark.createDataFrame(polys[[code, "geom"]])
    shuffled = {r.image_id for r in sj.pip_join_shuffle(pts, polys_sdf, code).collect()}
    broadcast = {r.image_id for r in sj.pip_join_broadcast(pts, polys, code).collect()}
    assert shuffled == broadcast == {"in"}
    tgt = spark.createDataFrame(
        pd.DataFrame({"ogc_fid": [1, 2], "lon": [135.01, 135.02], "lat": [35.0, 35.0]})
    )
    out = knn_ops.knn_join_shuffle(pts, tgt, k=1, res=7, max_ring=1, guard="flag").toPandas()
    miss = out[out["query_id"] == "null_lon"]
    assert len(miss) == 1 and not miss["exact"].iloc[0] and miss["target_id"].isna().all()
    hit = out[out["query_id"] == "in"]
    assert len(hit) == 1 and hit["exact"].iloc[0] and hit["target_id"].iloc[0] == 1


def test_with_cell_id_matches_encode(spark):
    """``tiles.with_cell_id`` is ``cell.encode`` in column math, bit for bit,
    including NaN, infinite and huge coordinates and the grid edges. A
    null coordinate lands where NaN does (grid column/row 0), as the
    pandas UDF it replaced did: pandas hands a null in as NaN."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    special = [np.nan, np.inf, -np.inf, 1e300, -1e300, -180.0, 180.0, -90.0, 90.0, 0.0]
    lon = np.r_[rng.uniform(-200, 200, 500), special, rng.choice(special, 10)]
    lat = np.r_[rng.uniform(-100, 100, 500), rng.choice(special, 10), special]
    # built from tuples, not pandas: Arrow conversion would turn NaN into null
    rows = [(float(x), float(y)) for x, y in zip(lon, lat)] + [(None, 35.0), (135.0, None)]
    df = spark.createDataFrame(rows, "lon double, lat double")
    n_nan = int((np.isnan(lon) | np.isnan(lat)).sum())
    assert df.filter(F.isnan("lon") | F.isnan("lat")).count() == n_nan > 0
    exp_lon = np.r_[lon, np.nan, 135.0]
    exp_lat = np.r_[lat, 35.0, np.nan]
    for res in (0, 5, 7, 18, 26):
        got = tile_ops.with_cell_id(df, "lon", "lat", res).select("cell_id").collect()
        np.testing.assert_array_equal(
            np.array([r.cell_id for r in got], dtype=np.int64), cell.encode(exp_lon, exp_lat, res)
        )


def test_tile_assign_matches_floor_oracle(spark, images_pdf, points_sdf):
    z = 6
    got = (
        tile_ops.tile_assign(points_sdf, z)
        .select("image_id", "tile_x", "tile_y", "cell_id")
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    n = 1 << z
    lon = images_pdf["lon"].to_numpy()
    lat = images_pdf["lat"].to_numpy()
    tx = np.clip(np.floor((lon - cell.LON0) / 360.0 * n), 0, n - 1).astype(np.int64)
    ty = np.clip(np.floor((lat - cell.LAT0) / 180.0 * n), 0, n - 1).astype(np.int64)
    cid = cell.from_xy(tx, ty, z)
    exp = (
        pd.DataFrame(
            {"image_id": images_pdf["image_id"], "tile_x": tx, "tile_y": ty, "cell_id": cid}
        )
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)
    # tile->cell consistency: cell_id equals the cell index's own encoding
    assert np.array_equal(cid, cell.encode(lon, lat, z))


def test_tile_rollup_counts(spark, points_sdf):
    assigned = tile_ops.tile_assign(points_sdf, 6)
    fine = assigned.groupBy("tile_x", "tile_y").count().toPandas()
    coarse = tile_ops.tile_rollup(assigned, 4, 6).toPandas()
    fine["px"] = fine["tile_x"] // 4
    fine["py"] = fine["tile_y"] // 4
    exp = fine.groupby(["px", "py"])["count"].sum().reset_index()
    got = coarse[["tile_x", "tile_y", "n_images"]].sort_values(["tile_x", "tile_y"]).reset_index(drop=True)
    exp = (
        exp.rename(columns={"px": "tile_x", "py": "tile_y", "count": "n_images"})
        .sort_values(["tile_x", "tile_y"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp.astype(got.dtypes.to_dict()))


def test_dissolve_prefecture(spark, polys):
    sdf = spark.createDataFrame(polys[["都道府県名", "geom"]])
    got = dis.dissolve(sdf, ["都道府県名"]).toPandas().set_index("都道府県名")
    # oracle: per-prefecture part counts + exact area sums from the fixture
    for pref, grp in polys.groupby("都道府県名"):
        parts = sum(len(wkb.parse_multipolygon(g)) for g in grp["geom"])
        area = sum(wkb.multipolygon_area(g) for g in grp["geom"])
        assert got.loc[pref, "n_parts"] == parts
        assert got.loc[pref, "area"] == pytest.approx(area, rel=1e-12)
        merged = wkb.parse_multipolygon(bytes(got.loc[pref, "geom"]))
        assert len(merged) == parts
    # total dissolved area == bbox area (fixtures tile exactly)
    lon0, lat0, lon1, lat1 = fx.BBOX
    assert got["area"].sum() == pytest.approx((lon1 - lon0) * (lat1 - lat0), rel=1e-9)


def test_dissolve_salted_matches_plain(spark, polys):
    sdf = spark.createDataFrame(polys[["都道府県名", "geom"]])
    plain = dis.dissolve(sdf, ["都道府県名"]).toPandas().set_index("都道府県名")
    salted = dis.dissolve(sdf, ["都道府県名"], salt_n=3).toPandas().set_index("都道府県名")
    for pref in plain.index:
        assert plain.loc[pref, "n_parts"] == salted.loc[pref, "n_parts"]
        assert plain.loc[pref, "area"] == pytest.approx(salted.loc[pref, "area"], rel=1e-12)


def test_dissolve_first_row_attrs(spark, polys):
    # ogr_groupby.sh first-row semantics for non-grouped attributes
    sdf = spark.createDataFrame(polys[["都道府県名", "市区町村名", "geom"]])
    got = dis.dissolve(sdf, ["都道府県名"], attrs=["市区町村名"]).toPandas()
    assert "市区町村名" in got.columns
    valid = set(polys["市区町村名"])
    assert got["市区町村名"].isin(valid).all()
    # the chosen attr value belongs to a row of the same group
    by_pref = polys.groupby("都道府県名")["市区町村名"].agg(set)
    for _, r in got.iterrows():
        assert r["市区町村名"] in by_pref[r["都道府県名"]]


def test_polygon_tiles_cover(spark, polys):
    sdf = spark.createDataFrame(polys[["ogc_fid", "geom"]])
    out = tile_ops.polygon_tiles(sdf, z=6).toPandas()
    from jpspark.geom import cell as cell_mod, wkb as wkb_mod

    by_fid = out.groupby("ogc_fid")
    for _, row in polys.iterrows():
        x0, y0, x1, y1 = wkb_mod.multipolygon_bbox(row["geom"])
        exp = set(cell_mod.cover_bbox(x0, y0, x1, y1, 6).tolist())
        got_cells = set(by_fid.get_group(row["ogc_fid"])["cell_id"])
        assert got_cells == exp
    # tile x/y decode consistent with cell ids
    xs, ys, _ = cell_mod.to_xy(out["cell_id"].to_numpy())
    assert (out["tile_x"].to_numpy() == xs).all()
    assert (out["tile_y"].to_numpy() == ys).all()


def test_dissolve_overlap_guard_raises(spark):
    """Round-3 VERDICT item: overlapping inputs used to silently produce
    non-dissolved output; the default on_overlap='error' now fails loudly."""
    mk = lambda x0, y0, w, h: wkb.encode_multipolygon(
        [[np.array([[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h], [x0, y0]])]]
    )
    pdf = pd.DataFrame(
        {"grp": ["a", "a"], "geom": [mk(0, 0, 2, 2), mk(1, 1, 2, 2)]}
    )
    sdf = spark.createDataFrame(pdf)
    with pytest.raises(Exception, match="overlap"):
        dis.dissolve(sdf, ["grp"]).collect()
    # ignore mode restores the old concatenation behavior
    out = dis.dissolve(sdf, ["grp"], on_overlap="ignore").toPandas()
    assert out["n_parts"].iloc[0] == 2


def test_dissolve_boundary_true_union(spark):
    """boundary=True: shared internal edges cancel — a 2x2 tile group
    becomes ONE single-ring part with the interior lattice point gone."""
    mk = lambda x0, y0: wkb.encode_multipolygon(
        [[np.array([[x0, y0], [x0 + 1, y0], [x0 + 1, y0 + 1], [x0, y0 + 1], [x0, y0]], dtype=float)]]
    )
    pdf = pd.DataFrame(
        {"grp": ["a"] * 4, "geom": [mk(i, j) for i in range(2) for j in range(2)]}
    )
    out = dis.dissolve(spark.createDataFrame(pdf), ["grp"], boundary=True).toPandas()
    assert out["n_parts"].iloc[0] == 1
    assert out["area"].iloc[0] == pytest.approx(4.0)
    ring = wkb.parse_multipolygon(bytes(out["geom"].iloc[0]))[0][0]
    assert (1.0, 1.0) not in {(float(x), float(y)) for x, y in ring}


def test_dissolve_boundary_matches_plain_point_set_on_fixtures(spark, polys):
    """On the exactly-tiling fixtures, boundary dissolve and concatenation
    agree on area/bbox (same point set, different representation)."""
    sdf = spark.createDataFrame(polys[["都道府県名", "geom"]])
    plain = dis.dissolve(sdf, ["都道府県名"]).toPandas().set_index("都道府県名").sort_index()
    bnd = (
        dis.dissolve(sdf, ["都道府県名"], boundary=True)
        .toPandas()
        .set_index("都道府県名")
        .sort_index()
    )
    assert (bnd["n_parts"] <= plain["n_parts"]).all()
    for c in ("area", "xmin", "ymin", "xmax", "ymax"):
        np.testing.assert_allclose(bnd[c].to_numpy(), plain[c].to_numpy(), rtol=1e-9)
