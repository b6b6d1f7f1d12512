"""Shapefile codec (.shp/.dbf) + distributed shapefile_scan: spec-level
byte asserts, winding/hole grouping, CP932 attribute decoding, and the
full ZIP -> extract -> scan pipeline on actual shapefile bytes (closes
SURVEY S5 against /root/reference/src/loader/gdal.rs:169-212)."""

from __future__ import annotations

import io
import struct
import time
import zipfile

import numpy as np
import pandas as pd
import pytest

from jpspark import fixtures as fx
from jpspark.codec import shp as shp_codec
from jpspark.geom import wkb
from jpspark.ops import ingest, mapping


def _square(x0, y0, s, ccw=True):
    ring = np.array(
        [[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s], [x0, y0]], dtype=np.float64
    )
    return ring if ccw else ring[::-1]


def test_shp_header_spec_bytes():
    g = wkb.encode_multipolygon([[_square(10, 20, 2)]])
    buf = shp_codec.write_shp([g])
    assert struct.unpack_from(">i", buf, 0)[0] == 9994  # file code, big-endian
    assert struct.unpack_from(">i", buf, 24)[0] == len(buf) // 2  # length in 16-bit words
    assert struct.unpack_from("<i", buf, 28)[0] == 1000  # version, little-endian
    assert struct.unpack_from("<i", buf, 32)[0] == 5  # Polygon type
    assert struct.unpack_from("<4d", buf, 36) == (10.0, 20.0, 12.0, 22.0)  # bbox
    recno, words = struct.unpack_from(">ii", buf, 100)
    assert recno == 1
    assert 100 + 8 + words * 2 == len(buf)


def test_shp_polygon_roundtrip_and_winding():
    # fixture rings are CCW; the writer flips outers to the spec's CW, so
    # the parsed ring is the reverse traversal of the original
    ring = _square(0, 0, 4)
    buf = shp_codec.write_shp([wkb.encode_multipolygon([[ring]])])
    recs = shp_codec.parse_shp(buf)
    assert len(recs) == 1 and recs[0][0] == 1
    polys = wkb.parse_multipolygon(recs[0][1])
    assert len(polys) == 1 and len(polys[0]) == 1
    assert np.array_equal(polys[0][0], ring[::-1])


def test_shp_hole_grouping():
    outer = _square(0, 0, 10)
    hole = _square(4, 4, 2)
    g = wkb.encode_multipolygon([[outer, hole], [_square(20, 20, 3)]])
    recs = shp_codec.parse_shp(shp_codec.write_shp([g]))
    polys = wkb.parse_multipolygon(recs[0][1])
    assert len(polys) == 2
    assert len(polys[0]) == 2  # outer + hole grouped by winding
    assert len(polys[1]) == 1
    assert wkb.multipolygon_area(recs[0][1]) == 100 - 4 + 9


def test_shp_point_and_multipoint():
    pts = [wkb.encode_point(1.5, 2.5), wkb.encode_point(3.0, 4.0)]
    recs = shp_codec.parse_shp(shp_codec.write_shp(pts))
    assert [r for r, _ in recs] == [1, 2]
    assert np.array_equal(wkb.parse(recs[0][1])[1], [1.5, 2.5])
    mp = wkb.encode_multipoint(np.array([[1.0, 2.0], [3.0, 4.0]]))
    recs = shp_codec.parse_shp(shp_codec.write_shp([mp]))
    assert np.array_equal(wkb.parse(recs[0][1])[1], [[1.0, 2.0], [3.0, 4.0]])


def test_dbf_roundtrip_cp932_and_types():
    pdf = pd.DataFrame(
        {
            "N03_001": ["北海道", "青森県", "東京都"],
            "N03_007": [1101, 2201, 13101],
            "AREA": [1.25, 2.5, 3.75],
        }
    )
    buf = shp_codec.write_dbf(pdf, encoding="cp932")
    assert buf[0] == 0x03
    assert struct.unpack_from("<I", buf, 4)[0] == 3  # record count
    fields = shp_codec.parse_dbf_fields(buf)
    assert [(f[0], f[1]) for f in fields] == [("N03_001", "C"), ("N03_007", "N"), ("AREA", "N")]
    # explicit encoding and the CP932-first detect chain must agree
    for enc in ("cp932", None):
        got = shp_codec.parse_dbf(buf, encoding=enc)
        assert list(got["N03_001"]) == ["北海道", "青森県", "東京都"]
        assert list(got["N03_007"]) == [1101, 2201, 13101]
        assert got["N03_007"].dtype == np.int64
        assert np.allclose(got["AREA"], [1.25, 2.5, 3.75])


def test_shapefile_scan_zip_end_to_end(spark):
    """ZIP (with a nested inner ZIP, like the reference's fixtures) ->
    extract_archives -> shapefile_scan: typed attributes + MULTI geometry
    parity with the original fixture layer."""
    polys = fx.admin_polygons(6)
    attrs = pd.DataFrame(
        {
            "PREF": polys["都道府県名"],
            "CITY": polys["市区町村名"],
            "CODE": polys["全国地方公共団体コード"].astype("int64"),
        }
    )
    shp_bytes = shp_codec.write_shp(list(polys["geom"]))
    dbf_bytes = shp_codec.write_dbf(attrs, encoding="cp932")

    inner = io.BytesIO()
    with zipfile.ZipFile(inner, "w") as zf:
        zf.writestr("N99-26_GML/N99-26_Polygon.shp", shp_bytes)
        zf.writestr("N99-26_GML/N99-26_Polygon.dbf", dbf_bytes)
        zf.writestr("N99-26_GML/N99-26_Polygon.cpg", b"CP932")
    outer = io.BytesIO()
    with zipfile.ZipFile(outer, "w") as zf:
        zf.writestr("inner.zip", inner.getvalue())
        zf.writestr("readme.txt", b"not a shapefile")

    archives = spark.createDataFrame(
        pd.DataFrame({"path": ["mem://n99.zip"], "content": [outer.getvalue()]})
    )
    m = mapping.ShapefileMapping("n99", ["N99-YY_Polygon.shp"])
    extracted = ingest.extract_archives(archives, m)
    out = ingest.shapefile_scan(extracted).toPandas().sort_values("fid")
    assert len(out) == 6
    assert list(out.columns) == ["source", "fid", "PREF", "CITY", "CODE", "geom"]
    assert out["source"].str.contains("N99-26_Polygon").all()
    assert list(out["CITY"]) == list(polys["市区町村名"])
    assert list(out["CODE"]) == [int(c) for c in polys["全国地方公共団体コード"]]
    # geometry parity: same multipolygon area + part count as the source
    for got_g, orig_g in zip(out["geom"], polys["geom"]):
        assert len(wkb.parse_multipolygon(bytes(got_g))) == len(wkb.parse_multipolygon(orig_g))
        assert wkb.multipolygon_area(bytes(got_g)) == pytest.approx(
            wkb.multipolygon_area(orig_g), rel=1e-12
        )


def test_shapefile_scan_detects_encoding_without_cpg(spark):
    pdf = pd.DataFrame({"NAME": ["湖沼A", "湖沼B"]})
    geoms = [wkb.encode_point(1.0, 2.0), wkb.encode_point(3.0, 4.0)]
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("W09-05_GML/W09-05_Point.shp", shp_codec.write_shp(geoms))
        zf.writestr("W09-05_GML/W09-05_Point.dbf", shp_codec.write_dbf(pdf, encoding="cp932"))
    archives = spark.createDataFrame(
        pd.DataFrame({"path": ["mem://w09.zip"], "content": [buf.getvalue()]})
    )
    m = mapping.ShapefileMapping("w09", ["W09-YY_Point.shp"])
    out = ingest.shapefile_scan(ingest.extract_archives(archives, m)).toPandas()
    assert sorted(out["NAME"]) == ["湖沼A", "湖沼B"]
    # points promoted to MULTIPOINT (F9 parity)
    assert all(wkb.parse(bytes(g))[0] == wkb.MULTIPOINT for g in out["geom"])


def test_shapefile_scan_rejects_mismatched_layer_schema(spark):
    """Round-3 ADVICE regression: a layer whose .dbf fields differ from the
    probed first layer must raise, not be silently reindexed."""
    geoms = [wkb.encode_point(1.0, 2.0)]
    shp_b = shp_codec.write_shp(geoms)
    dbf_a = shp_codec.write_dbf(pd.DataFrame({"NAME": ["a"]}), encoding="cp932")
    dbf_b = shp_codec.write_dbf(
        pd.DataFrame({"NAME": ["b"], "EXTRA": [1]}), encoding="cp932"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("P99-01_GML/P99-01_A.shp", shp_b)
        zf.writestr("P99-01_GML/P99-01_A.dbf", dbf_a)
        zf.writestr("P99-01_GML/P99-01_B.shp", shp_b)
        zf.writestr("P99-01_GML/P99-01_B.dbf", dbf_b)
    archives = spark.createDataFrame(
        pd.DataFrame({"path": ["mem://p99.zip"], "content": [buf.getvalue()]})
    )
    m = mapping.ShapefileMapping("p99", [r"P99-YY_"])
    scan = ingest.shapefile_scan(ingest.extract_archives(archives, m))
    with pytest.raises(Exception, match="does not match the probed"):
        scan.collect()


def _point_layer(stem: str, drop: str | None = None) -> dict[str, bytes]:
    """One single-point layer's members, minus the ``drop`` extension."""
    members = {
        f"{stem}.shp": shp_codec.write_shp([wkb.encode_point(1.0, 2.0)]),
        f"{stem}.dbf": shp_codec.write_dbf(pd.DataFrame({"NAME": [stem]}), encoding="cp932"),
    }
    return {k: v for k, v in members.items() if not k.endswith(f".{drop}")}


@pytest.mark.parametrize("drop", ["dbf", "shp"])
def test_shapefile_scan_names_layer_missing_sidecar(spark, drop):
    """A layer without its .dbf or .shp fails loudly, naming its stem,
    whichever layer the schema probe read."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for stem, d in (("P98-01_GML/P98-01_A", None), ("P98-01_GML/P98-01_B", drop)):
            for name, data in _point_layer(stem, d).items():
                zf.writestr(name, data)
    archives = spark.createDataFrame(
        pd.DataFrame({"path": ["mem://p98.zip"], "content": [buf.getvalue()]})
    )
    m = mapping.ShapefileMapping("p98", [r"P98-YY_"])
    scan = ingest.shapefile_scan(ingest.extract_archives(archives, m))
    with pytest.raises(Exception, match=rf"layer P98-01_GML/P98-01_B has no \.{drop} member"):
        scan.collect()


def test_shapefile_scan_probe_is_one_task(spark, tmp_path):
    """The schema probe reads one .dbf member: over archives read with
    ``n_slots=2`` it runs as one job of one task, not the whole archive
    stage, and the scan it types still reads every layer."""
    n = 4
    for i in range(n):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            for name, data in _point_layer(f"P97-01_GML/P97-01_{i}").items():
                zf.writestr(name, data)
        (tmp_path / f"p97_{i}.zip").write_bytes(buf.getvalue())
    members = ingest.extract_archives(
        ingest.read_archives(spark, str(tmp_path / "*.zip"), n_slots=2),
        mapping.ShapefileMapping("p97", [r"P97-YY_"]),
    )
    sc = spark.sparkContext
    group = "test_shapefile_scan_probe_is_one_task"
    sc.setJobGroup(group, group)
    try:
        scan = ingest.shapefile_scan(members)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    for _ in range(100):  # the status store is fed by an async listener
        jobs = st.getJobIdsForGroup(group)
        if jobs and all(st.getJobInfo(j).status == "SUCCEEDED" for j in jobs):
            break
        time.sleep(0.1)
    assert len(jobs) == 1
    stages = st.getJobInfo(jobs[0]).stageIds
    assert [st.getStageInfo(sid).numTasks for sid in stages] == [1]
    assert sorted(scan.toPandas()["NAME"]) == [f"P97-01_GML/P97-01_{i}" for i in range(n)]


def _write_archive(path, members: dict[str, bytes]) -> None:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    path.write_bytes(buf.getvalue())


def test_shapefile_scan_pairs_layers_per_archive(spark, tmp_path):
    """Two archives holding the same member paths (two years of one
    prefecture, each with ``N03-23_13.shp`` at its root) give two layers,
    each with its own attributes and ``fid`` run; ``source`` is the stem
    for both. Read with ``n_slots=1``, both archives share one partition."""
    for year, names in (("2023", ["千代田区", "中央区"]), ("2024", ["港区"])):
        geoms = [wkb.encode_point(139.0 + i, 35.0) for i in range(len(names))]
        _write_archive(tmp_path / f"N03-{year}.zip", {
            "N03-23_13.shp": shp_codec.write_shp(geoms),
            "N03-23_13.dbf": shp_codec.write_dbf(
                pd.DataFrame({"N03_004": names}), encoding="cp932"
            ),
        })
    archives = ingest.read_archives(spark, str(tmp_path / "*.zip"), n_slots=1)
    m = mapping.ShapefileMapping("n03", ["N03-YY_PP.shp"])
    out = ingest.shapefile_scan(ingest.extract_archives(archives, m)).toPandas()
    assert sorted(zip(out["N03_004"], out["fid"])) == [("中央区", 2), ("千代田区", 1), ("港区", 1)]
    assert (out["source"] == "N03-23_13").all()


def test_shapefile_scan_fails_on_layer_split_across_partitions(spark):
    """A layer whose members were repartitioned apart (here one member per
    partition) is not paired: a part without its .dbf or .shp raises,
    naming the stem."""
    stem = "P96-01_GML/P96-01_A"
    members = {**_point_layer(stem), f"{stem}.cpg": b"CP932"}
    rows = [("mem://p96.zip", name, data, len(data)) for name, data in members.items()]
    extracted = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=len(rows)),
        "archive string, entry string, content binary, size long",
    )
    assert extracted.rdd.getNumPartitions() == 3
    with pytest.raises(Exception, match=rf"layer {stem} has no \.(dbf|shp) member"):
        ingest.shapefile_scan(extracted).collect()


def test_shapefile_scan_plan_has_no_exchange(spark, tmp_path):
    """Read, extract and scan run in one stage: each layer is paired and
    parsed in the partition that extracted it."""
    for i in range(3):
        _write_archive(tmp_path / f"p95_{i}.zip", _point_layer(f"P95-01_GML/P95-01_{i}"))
    scan = ingest.shapefile_scan(ingest.extract_archives(
        ingest.read_archives(spark, str(tmp_path / "*.zip"), n_slots=2),
        mapping.ShapefileMapping("p95", [r"P95-YY_"]),
    ))
    assert len(scan.collect()) == 3
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
