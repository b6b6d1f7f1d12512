"""Reference-parity tests: ports of the reference's own unit-test asserts
(SURVEY §5) onto our fixtures, plus manifest/catalog behavior."""

from __future__ import annotations

import io
import os
import re
import zipfile

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from jpspark import catalog as cat
from jpspark import fixtures as fx
from jpspark import manifest as mf
from jpspark.ops import ingest, mapping, text, union

# ------------------------------------------------------------- F5 templates


def test_template_to_regex_goldens():
    # N03-YY_PP pattern (the N03 admin-boundary hint shape)
    rx = re.compile(mapping.template_to_regex("N03-YY_PP.shp"))
    assert rx.search("N03-23_13.shp")
    assert rx.search("subdir/N03-23_13.dbf")
    assert rx.search("N03-23_13.prj")
    assert not rx.search("N03-23_13.txt")
    assert not rx.search("N03-23_X3.shp")
    # CCCCC 5-digit code, mmmm mesh
    rx2 = re.compile(mapping.template_to_regex("A30a5-11_CCCCC-jgd_GML"))
    assert rx2.search("A30a5-11_49392-jgd_GML.shp")
    assert not rx2.search("A30a5-11_4939-jgd_GML.shp")


def test_template_anchoring():
    rx = re.compile(mapping.template_to_regex("P23-12_38"))
    assert rx.search("P23-12_38.shp")
    assert rx.search("dir/P23-12_38.cpg")
    assert not rx.search("XP23-12_38.shp")  # (?:^|/) anchor


def test_normalize_matcher_string_a38_fixes():
    # mapping.rs:109-120 — A38a-/b-/c- collapse + YY_PP_ fix, CRLF split
    got = mapping.normalize_matcher_string("A38a-YY_PP_SecondaryMedicalArea.shp\r\nA38b-16_P.shp\n\n")
    assert got == ["A38-YY_SecondaryMedicalArea.shp", "A38-16_P.shp"]


def test_a33_special_case():
    got = mapping.a33_special_case("A33", ["A33-YY_Polygon.shp"])
    assert got == ["A33-YY_Po?lygon.shp"]
    rx = re.compile(mapping.template_to_regex(got[0]).replace(re.escape("?"), "?"))
    # the ? must act as a regex optional: both spellings match
    pat = mapping.template_to_regex("A33-YY_Po?lygon.shp").replace(r"\?", "?")
    rx = re.compile(pat)
    assert rx.search("A33-21_Polygon.shp") and rx.search("A33-21_Plygon.shp")


def test_match_entries_fallback_and_known_bad_skip():
    m = mapping.ShapefileMapping("x1", ["X1-YY_PP.shp"])
    entries = [
        "X1-23_13.shp", "X1-23_13.dbf", "other\\thing.shp",
        "N08-21_GML/utf8/bad.shp", "readme.txt",
    ]
    assert mapping.match_entries(entries, m) == ["X1-23_13.shp", "X1-23_13.dbf"]
    # nothing strict-matches -> catch-all widening, still skipping known-bad
    m2 = mapping.ShapefileMapping("x2", ["ZZ-YY.shp"])
    got = mapping.match_entries(entries, m2)
    assert got == ["X1-23_13.shp", "X1-23_13.dbf", "other/thing.shp"]


def test_match_entries_df_backslash_normalization(spark):
    """Distributed matcher must normalize single Windows '\\' separators
    exactly like the local match_entries (JVM regex escaping regression)."""
    m = mapping.ShapefileMapping("x1", ["X1-YY_PP.shp"])
    entries = ["sub\\X1-23_13.shp", "X1-23_13.dbf", "N08-21_GML/utf8/bad.shp"]
    df = spark.createDataFrame(pd.DataFrame({"entry": entries}))
    got = sorted(r["entry"] for r in mapping.match_entries_df(df, m).collect())
    assert got == ["X1-23_13.dbf", "sub/X1-23_13.shp"]
    assert got == sorted(mapping.match_entries(entries, m))


def test_apply_field_mapping_silently_skips_absent(spark):
    df = spark.createDataFrame(pd.DataFrame({"W09_001": ["a"], "W09_002": ["b"]}))
    m = mapping.ShapefileMapping(
        "w09", [], field_mappings=[("名称", "W09_001"), ("存在しない", "W09_999"), ("県名", "W09_002")]
    )
    out = mapping.apply_field_mapping(df, m)
    assert out.columns == ["名称", "県名"]


# ------------------------------------------------------------- F2 encoding


def test_detect_encoding_cp932_first():
    # mirrors gdal.rs:410-423: cp932 content -> CP932 even though pure
    # ASCII would decode as utf-8 too (CP932 probed first)
    cp = "北海道".encode("cp932")
    assert text.detect_encoding([cp]) == "cp932"
    # utf-8-only content (contains bytes invalid in cp932 when decoded strictly)
    utf = "①②③𩸽".encode("utf-8")
    assert text.detect_encoding([utf]) in ("utf-8", "cp932")
    # a byte sequence valid only as utf-8
    assert text.detect_encoding(["あ".encode("utf-8")]) in ("cp932", "utf-8")
    # pure ascii -> cp932 (first in chain), pinning the reference's order
    assert text.detect_encoding([b"abc"]) == "cp932"


def test_union_mapped_sources_w09(spark):
    a, b = fx.w09_raw()
    decoded = union.decode_sources(spark, [a, b])
    m = mapping.ShapefileMapping(
        "w09",
        [],
        field_mappings=[("名称", "W09_001"), ("都道府県名", "W09_002"), ("追加", "W09_004")],
    )
    out = union.union_mapped_sources(decoded, m).toPandas()
    assert set(out.columns) == {"追加", "名称", "都道府県名"}
    assert len(out) == 3
    assert set(out["名称"]) == {"湖沼A", "湖沼B", "湖沼C"}
    # cp932 source lacks W09_004 -> NULL-filled
    assert out.loc[out["名称"] == "湖沼A", "追加"].isna().all()
    assert out.loc[out["名称"] == "湖沼C", "追加"].iloc[0] == "追加属性"


# ------------------------------------------------------------- F1/F13 text


def test_nfkc_crosswalk(spark):
    cw = fx.admini_boundary_cd(fx.admin_polygons(10))
    # reference golden (admini_boundary.rs:233-237): first row
    assert cw.iloc[0]["行政区域コード"] == "01000"
    assert cw.iloc[0]["都道府県名（漢字）"] == "北海道"
    assert cw.iloc[0]["市区町村名（漢字）"] is None
    assert cw.iloc[0]["都道府県名（カナ）"] == "ホッカイドウ"
    assert len(cw.columns) == 11
    sdf = spark.createDataFrame(cw[["改正後のコード", "改正年月日"]])
    out = sdf.select(
        text.nfkc_udf(F.col("改正後のコード")).alias("code"),
        text.nfkc_udf(F.col("改正年月日")).alias("date"),
    ).toPandas()
    # full-width digits normalized
    assert out["code"].dropna().str.fullmatch(r"\d{5}").all()
    assert (out["date"].dropna() == "2014.4.5").all()


A40_GOLDEN = [
    ("0.5m以上1.0m未満", "0.5m-1m", 0.5, 1.0),
    ("5m以上", "5m-", 5.0, 99.0),
    ("0.3m未満", "-0.3m", -99.0, 0.3),
    ("2.0m以上3.5m未満", "2m-3.5m", 2.0, 3.5),
]


def test_a40_goldens(spark):
    df = spark.createDataFrame(pd.DataFrame({"raw": [g[0] for g in A40_GOLDEN]}))
    out = df.select(
        text.a40_normalize_range(F.col("raw")).alias("norm"),
        text.a40_lower_bound(F.col("raw")).alias("lo"),
        text.a40_upper_bound(F.col("raw")).alias("hi"),
    ).toPandas()
    for i, (_, norm, lo, hi) in enumerate(A40_GOLDEN):
        assert out.iloc[i]["norm"] == norm
        assert out.iloc[i]["lo"] == lo
        assert out.iloc[i]["hi"] == hi


# ------------------------------------------------------------- S3 ingest


def _make_zip(entries: dict[str, bytes]) -> bytes:
    bio = io.BytesIO()
    with zipfile.ZipFile(bio, "w") as zf:
        for name, data in entries.items():
            zf.writestr(name, data)
    return bio.getvalue()


def test_extract_zip_nested_and_filtered(spark, tmp_path):
    inner = _make_zip({"P23-12_38.shp": b"SHP", "P23-12_38.dbf": b"DBF", "junk.txt": b"no"})
    outer = _make_zip(
        {
            "data/inner.zip": inner,
            "N03-23_13.shp": b"TOP",
            "N08-21_GML/utf8/bad.shp": b"BAD",
        }
    )
    p = tmp_path / "outer.zip"
    p.write_bytes(outer)
    archives = ingest.read_archives(spark, str(p), n_slots=2)
    m = mapping.ShapefileMapping("p23", ["P23-12_PP.shp", "N03-YY_PP.shp"])
    out = ingest.extract_archives(archives, m).toPandas().sort_values("entry")
    assert list(out["entry"]) == [
        "N03-23_13.shp",
        "data/inner.zip/P23-12_38.dbf",
        "data/inner.zip/P23-12_38.shp",
    ]
    assert bytes(out.iloc[0]["content"]) == b"TOP"


def test_extract_zip_fallback_widening(spark, tmp_path):
    z = _make_zip({"whatever_name.shp": b"X", "note.txt": b"n"})
    p = tmp_path / "a.zip"
    p.write_bytes(z)
    archives = ingest.read_archives(spark, str(p), n_slots=1)
    m = mapping.ShapefileMapping("zz", ["ZZ-YY_PP.shp"])  # strict matches nothing
    out = ingest.extract_archives(archives, m).toPandas()
    assert list(out["entry"]) == ["whatever_name.shp"]


def _archive_dir(root, n: int) -> None:
    root.mkdir(parents=True, exist_ok=True)
    for i in range(n):
        (root / f"a{i:02d}.zip").write_bytes(_make_zip({f"m{i}.shp": bytes([i]) * (i + 1)}))


def test_read_archives_plan_has_no_exchange(spark, tmp_path):
    """The archive scan is capped at ``n_slots`` tasks by coalescing its
    partitions: the archive bytes cross no shuffle."""
    _archive_dir(tmp_path, 5)
    df = ingest.read_archives(spark, str(tmp_path / "*.zip"), n_slots=2)
    assert len(df.collect()) == 5
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert df.rdd.getNumPartitions() <= 2


@pytest.mark.parametrize("case", ["flat_glob", "glob_over_subdir", "single_file"])
def test_read_archives_rows_match_binary_file_load(spark, tmp_path, case):
    """``read_archives`` gives the rows ``binaryFile`` gives for the same
    path: a glob over a flat directory (loaded as the directory with a
    name filter), a glob over a directory whose subdirectory holds a
    matching ``.zip`` (which the glob must not reach; a directory load
    would read the ``k=v`` subdirectory as a partition), and one file."""
    _archive_dir(tmp_path, 35)  # past the 32-path parallel listing threshold
    (tmp_path / "notes.txt").write_bytes(b"not an archive")
    if case == "glob_over_subdir":
        _archive_dir(tmp_path / "year=2023", 2)
    path = str(tmp_path / ("a07.zip" if case == "single_file" else "*.zip"))

    def rows(df):
        return sorted((r.path, bytes(r.content)) for r in df.select("path", "content").collect())

    want = rows(spark.read.format("binaryFile").load(path))
    assert len(want) == (1 if case == "single_file" else 35)
    assert rows(ingest.read_archives(spark, path, n_slots=2)) == want


# ------------------------------------------------------------- manifest


def test_manifest_write_resume_and_partition_loss(spark, tmp_path):
    out_dir = str(tmp_path / "ckpt")
    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    m1 = mf.write_checkpointed(df, out_dir, lineage="range->x2", num_partitions=4)
    assert m1["total_rows"] == 1000
    assert len(m1["partitions"]) == 4
    assert not any(p["skipped_on_last_run"] for p in m1["partitions"].values())
    # idempotent re-run: every partition skipped, bytes identical
    m2 = mf.write_checkpointed(df, out_dir, lineage="range->x2", num_partitions=4)
    assert all(p["skipped_on_last_run"] for p in m2["partitions"].values())
    assert m2["total_rows"] == 1000
    # kill one partition -> only that one rewritten
    mf.simulate_partition_loss(out_dir, 2)
    m3 = mf.write_checkpointed(df, out_dir, lineage="range->x2", num_partitions=4)
    assert m3["partitions"]["2"]["skipped_on_last_run"] is False
    assert all(
        m3["partitions"][str(i)]["skipped_on_last_run"] for i in (0, 1, 3)
    )
    # data integrity after resume (manifest-listed files, not a glob)
    back = mf.read_snapshot(spark, out_dir)
    assert back.count() == 1000
    assert back.agg(F.sum("v")).collect()[0][0] == 2 * sum(range(1000))


def test_manifest_fingerprint_changes_on_data_change(spark, tmp_path):
    out_dir = str(tmp_path / "ckpt2")
    df1 = spark.range(100).withColumn("v", F.col("id"))
    mf.write_checkpointed(df1, out_dir, num_partitions=2)
    df2 = spark.range(100).withColumn("v", F.col("id") + 1)
    m = mf.write_checkpointed(df2, out_dir, num_partitions=2)
    assert not any(p["skipped_on_last_run"] for p in m["partitions"].values())


# Manifest entries each writer produces on one fixed table: (digest of the
# per-file stats, {pid: (key, row_count, bytes, skipped_on_last_run)}).
# The part-file format is a contract between snapshots (keys are content
# addresses, resume compares fingerprints), so none of it may drift. Byte
# counts follow the parquet writer, so they move with pyarrow/pandas.
_PINNED_ENTRIES = {
    "write": (
        "a95c9ed07c49c183",
        {
            "0": ("part-00000-02976e7fcda721aa.parquet", 16, 2542, False),
            "1": ("part-00001-68b9b0f65cd1087c.parquet", 16, 2549, False),
            "2": ("part-00002-4941cb891bf295ff.parquet", 16, 2544, False),
            "3": ("part-00003-502147d1052ba151.parquet", 16, 2552, False),
        },
    ),
    "resume": (
        "a95c9ed07c49c183",
        {
            "0": ("part-00000-02976e7fcda721aa.parquet", 16, 2542, True),
            "1": ("part-00001-68b9b0f65cd1087c.parquet", 16, 2549, True),
            "2": ("part-00002-4941cb891bf295ff.parquet", 16, 2544, True),
            "3": ("part-00003-502147d1052ba151.parquet", 16, 2552, True),
        },
    ),
    "append": (
        "896ada61aa247a4e",
        {
            "0": ("part-00000-02976e7fcda721aa.parquet", 16, 2542, True),
            "1": ("part-00001-68b9b0f65cd1087c.parquet", 16, 2549, True),
            "2": ("part-00002-4941cb891bf295ff.parquet", 16, 2544, True),
            "3": ("part-00003-502147d1052ba151.parquet", 16, 2552, True),
            "4": ("part-00004-02ab95419b859491.parquet", 16, 2548, False),
        },
    ),
    "delete": (
        "1775d942735e94bd",
        {
            "1": ("part-00001-68b9b0f65cd1087c.parquet", 16, 2549, True),
            "2": ("part-00002-4941cb891bf295ff.parquet", 16, 2544, True),
            "3": ("part-00003-502147d1052ba151.parquet", 16, 2552, True),
            "4": ("part-00004-02ab95419b859491.parquet", 16, 2548, False),
            "5": ("part-00005-7b1de96dca7a0336.parquet", 8, 2429, False),
        },
    ),
    "update": (
        "cb6242c73be9c6ef",
        {
            "1": ("part-00001-68b9b0f65cd1087c.parquet", 16, 2549, True),
            "2": ("part-00002-4941cb891bf295ff.parquet", 16, 2544, True),
            "5": ("part-00005-7b1de96dca7a0336.parquet", 8, 2429, False),
            "6": ("part-00006-7fcd3c01e2ff251b.parquet", 16, 2493, False),
            "7": ("part-00007-0ccfa11da6710e4e.parquet", 16, 2506, False),
        },
    ),
    "merge": (
        "038215163b38d6fb",
        {
            "5": ("part-00005-7b1de96dca7a0336.parquet", 8, 2429, False),
            "6": ("part-00006-7fcd3c01e2ff251b.parquet", 16, 2493, False),
            "7": ("part-00007-0ccfa11da6710e4e.parquet", 16, 2506, False),
            "8": ("part-00008-6136438d246c5621.parquet", 19, 2577, False),
            "9": ("part-00009-0295e7c114f44aa8.parquet", 15, 2527, False),
        },
    ),
}


def test_part_sink_entries_pinned(spark, tmp_path):
    """Every writer — load, resume, append, delete, update, merge — goes
    through one part-file sink; its keys, fingerprints, sizes and stats
    must match the pinned entries exactly."""
    import hashlib
    import json

    def frame(lo, hi):
        return spark.range(lo, hi).select(
            "id",
            ((F.col("id") * 7) % 23).alias("v"),
            F.concat(F.lit("k"), F.col("id").cast("string")).alias("tag"),
        )

    out = str(tmp_path / "pinned")
    steps = {
        "write": lambda: mf.write_checkpointed(
            frame(0, 64).repartitionByRange(4, "id"), out, bloom_cols=["tag"]
        ),
        "resume": lambda: mf.write_checkpointed(frame(0, 64).repartitionByRange(4, "id"), out),
        "append": lambda: mf.write_checkpointed(
            frame(64, 80), out, num_partitions=1, mode="append"
        ),
        "delete": lambda: mf.delete_where(spark, out, [("id", "<", 8)]),
        "update": lambda: mf.update_where(spark, out, [("id", ">=", 56)], {"v": F.lit(-1)}),
        "merge": lambda: mf.merge_into(
            spark, out,
            frame(30, 34).unionByName(frame(100, 102)).withColumn("v", F.lit(-2).cast("long")),
            key="id",
        ),
    }
    for step, run in steps.items():
        parts = run()["partitions"]
        stats_digest, entries = _PINNED_ENTRIES[step]
        got = {
            pid: (p["path"], p["row_count"], p["bytes"], p["skipped_on_last_run"])
            for pid, p in parts.items()
        }
        assert got == entries, step
        for pid, p in parts.items():
            assert p["path"] == f"part-{int(pid):05d}-{p['fingerprint']:016x}.parquet"
        stats = {pid: p["stats"] for pid, p in parts.items()}
        digest = hashlib.sha256(json.dumps(stats, sort_keys=True).encode()).hexdigest()
        assert digest[:16] == stats_digest, step


@pytest.fixture
def store(request):
    """The two Storage contracts: ``local`` yields None (the default
    LocalStorage, exactly as a user passes it: filesystem-addressable,
    Spark reads URIs); ``http`` yields a client of a loopback HTTP object
    store (no filesystem address, executors fetch bytes by key)."""
    if request.param == "local":
        yield None
        return
    from jpspark.storage_http import HttpStoreServer

    server = HttpStoreServer()
    try:
        yield server.client()
    finally:
        server.shutdown()


@pytest.mark.parametrize("store", ["local", "http"], indirect=True)
def test_manifest_protocol_on_both_backends(spark, tmp_path, store):
    """The full commit protocol — write, idempotent resume, partition-loss
    recovery, snapshot archive, vacuum — driven purely through the Storage
    seam, proven on POSIX (LocalStorage) and on an HTTP object store
    (flat keys, atomic PUT, no rename/mkdir in the protocol)."""
    out_dir = str(tmp_path / "tbl")
    df = spark.range(400).withColumn("v", F.col("id") * 3)
    m1 = mf.write_checkpointed(df, out_dir, num_partitions=4, storage=store)
    assert m1["total_rows"] == 400
    # keys are root-relative in the manifest (rename-proof)
    assert all(not p["path"].startswith("/") for p in m1["partitions"].values())
    m2 = mf.write_checkpointed(df, out_dir, num_partitions=4, storage=store)
    assert all(p["skipped_on_last_run"] for p in m2["partitions"].values())
    mf.simulate_partition_loss(out_dir, 1, storage=store)
    m3 = mf.write_checkpointed(df, out_dir, num_partitions=4, storage=store)
    assert m3["partitions"]["1"]["skipped_on_last_run"] is False
    back = mf.read_snapshot(spark, out_dir, storage=store)
    assert back.count() == 400
    assert back.agg(F.sum("v")).collect()[0][0] == 3 * sum(range(400))
    # overwrite with fewer rows -> time travel to v3, then vacuum expires it
    small = spark.range(10).withColumn("v", F.col("id") * 3)
    mf.write_checkpointed(small, out_dir, num_partitions=2, storage=store)
    versions = [s["version"] for s in mf.snapshots(out_dir, storage=store)]
    assert versions[-1] == 4 and 3 in versions
    assert mf.read_snapshot(spark, out_dir, version=3, storage=store).count() == 400
    res = mf.vacuum(out_dir, keep_last=1, storage=store, grace_seconds=0)
    assert res["removed_files"] >= 4 and res["removed_snapshots"] >= 1
    assert mf.read_snapshot(spark, out_dir, storage=store).count() == 10


def test_vacuum_keeps_live_manifest_files_without_archives(spark, tmp_path):
    """Regression (round-3 ADVICE): a table written before snapshot
    archiving existed has no _manifests/ dir; vacuum must union the live
    _manifest.json into the referenced set, not delete everything."""
    import os
    import shutil

    out_dir = str(tmp_path / "pre_archive")
    df = spark.range(200).withColumn("v", F.col("id"))
    mf.write_checkpointed(df, out_dir, num_partitions=3)
    shutil.rmtree(os.path.join(out_dir, mf.MANIFESTS_DIR))  # pre-archive era
    res = mf.vacuum(out_dir, keep_last=1, grace_seconds=0)
    assert res["removed_files"] == 0
    assert mf.read_snapshot(spark, out_dir).count() == 200


def test_vacuum_crash_window_keeps_pointer_snapshot(spark, tmp_path):
    """Regression (round-3 ADVICE): crash between archive-write and
    pointer-replace — the archive says v2 but _manifest.json still points
    at v1. vacuum(keep_last=1) must not expire the files v1 references."""
    import json
    import os

    out_dir = str(tmp_path / "crashwin")
    df1 = spark.range(100).withColumn("v", F.col("id"))
    m1 = mf.write_checkpointed(df1, out_dir, num_partitions=2)
    df2 = spark.range(50).withColumn("v", F.col("id") + 7)
    mf.write_checkpointed(df2, out_dir, num_partitions=2)
    # rewind the live pointer to v1 (simulating the crash window)
    with open(os.path.join(out_dir, mf.MANIFEST_NAME), "w") as f:
        json.dump(m1, f)
    mf.vacuum(out_dir, keep_last=1, grace_seconds=0)
    assert mf.read_snapshot(spark, out_dir).count() == 100  # v1 still reads


def test_manifest_survives_table_move_and_root_spelling(spark, tmp_path):
    """Regression (round-3 ADVICE): manifests store root-relative keys, so
    a moved table directory still reads, and vacuum with a differently-
    spelled root (trailing slash) misclassifies nothing."""
    import os
    import shutil

    out_dir = str(tmp_path / "orig")
    df = spark.range(120).withColumn("v", F.col("id"))
    mf.write_checkpointed(df, out_dir, num_partitions=2)
    moved = str(tmp_path / "moved")
    shutil.move(out_dir, moved)
    assert mf.read_snapshot(spark, moved).count() == 120
    res = mf.vacuum(moved + os.sep, keep_last=1, grace_seconds=0)  # alternate spelling
    assert res["removed_files"] == 0
    assert mf.read_snapshot(spark, moved).count() == 120


# ------------------------------------------------------------- catalog


def test_catalog_metadata_and_fk_inference(spark, tmp_path):
    polys = fx.admin_polygons(8)
    fac = fx.facilities(20, polys)
    sdf = spark.createDataFrame(fac[["行政区域コード", "施設分類", "名称", "geom"]])
    meta = cat.build_metadata_from_df(
        sdf,
        identifier="p05",
        name="都市施設",
        attribute_meta={"施設分類": {"desc": "施設の分類", "enum_values": {"1": "官公庁"}}},
        geometry_type="MULTIPOINT",
    )
    cols = {c.name: c for c in meta.columns}
    assert cols["行政区域コード"].foreign_key == cat.ADMINI_FK
    assert cols["施設分類"].enum_values == {"1": "官公庁"}
    assert cols["名称"].foreign_key is None
    assert cols["ogc_fid"].type == "int4"
    assert cols["geom"].type == "geometry(MULTIPOINT,6668)"
    c = cat.Catalog(str(tmp_path / "catalog"))
    assert not c.table_exists("p05")
    c.upsert(meta)
    assert c.table_exists("p05")
    assert c.list_datasets() == ["p05"]
    got = c.get("p05")
    assert got["srid"] == 6668 and got["primary_key"] == "ogc_fid"
    # upsert overwrites (S11 upsert semantics)
    meta.desc = "updated"
    c.upsert(meta)
    assert c.get("p05")["desc"] == "updated"


def test_spark_type_to_pg_map():
    # F10 (gdal.rs:214-234)
    assert cat.spark_type_to_pg("string") == "varchar"
    assert cat.spark_type_to_pg("bigint") == "int8"
    assert cat.spark_type_to_pg("array<int>") == "int4[]"
    assert cat.spark_type_to_pg("array<string>") == "varchar[]"
    assert cat.spark_type_to_pg("map<string,int>") == "varchar"  # fallback


@pytest.mark.parametrize("store", ["local", "http"], indirect=True)
def test_sharded_manifests_full_lifecycle(spark, tmp_path, store):
    """Manifest-of-manifests (round 3, DESIGN §10 item 1): commits larger
    than shard_size split the partition map across shard files; the root
    stays O(shards). Resume, partition-loss recovery, time travel, and
    vacuum (including shard expiry) must all work identically."""
    import json

    eff = store or mf.LocalStorage()
    out_dir = str(tmp_path / "sharded")
    df = spark.range(600).withColumn("v", F.col("id") * 5)
    m1 = mf.write_checkpointed(df, out_dir, num_partitions=12, storage=store, shard_size=5)
    assert len(m1["partitions"]) == 12  # returned manifest is resolved
    root = json.loads(eff.get_text(out_dir, mf.MANIFEST_NAME))
    assert root["partitions"] == {} and len(root["partition_shards"]) == 3
    # roots and shards coexist under _manifests; snapshots() sees only roots
    assert [s["version"] for s in mf.snapshots(out_dir, storage=store)] == [1]
    # resume skips everything; loss of one partition rewrites only it
    m2 = mf.write_checkpointed(df, out_dir, num_partitions=12, storage=store, shard_size=5)
    assert all(p["skipped_on_last_run"] for p in m2["partitions"].values())
    mf.simulate_partition_loss(out_dir, 7, storage=store)
    m3 = mf.write_checkpointed(df, out_dir, num_partitions=12, storage=store, shard_size=5)
    assert m3["partitions"]["7"]["skipped_on_last_run"] is False
    back = mf.read_snapshot(spark, out_dir, storage=store)
    assert back.count() == 600
    assert back.agg(F.sum("v")).collect()[0][0] == 5 * sum(range(600))
    # overwrite smaller (inline manifest), time-travel to the sharded v3
    mf.write_checkpointed(
        spark.range(10).withColumn("v", F.col("id")), out_dir, num_partitions=2,
        storage=store, shard_size=5,
    )
    assert mf.read_snapshot(spark, out_dir, version=3, storage=store).count() == 600
    res = mf.vacuum(out_dir, keep_last=1, storage=store, grace_seconds=0)
    assert res["removed_files"] >= 12
    # expired sharded snapshots dropped their shard files too
    leftover = [
        k for k in eff.list(out_dir, f"{mf.MANIFESTS_DIR}/manifest-") if "-shard-" in k
    ]
    assert leftover == []
    assert mf.read_snapshot(spark, out_dir, storage=store).count() == 10


# ------------------------------------------------- stats-pruned scans


def test_scan_prunes_files_by_column_stats(spark, tmp_path):
    """Iceberg-style data-file pruning: a range-clustered write leaves
    disjoint per-file id bounds, so point/range scans must read only the
    matching files — and every scan's rows must equal a full-scan filter
    (pruning is an optimization, never a semantics change)."""
    out_dir = str(tmp_path / "prune")
    df = (
        spark.range(1000)
        .withColumn("v", F.col("id") * 2)
        .withColumn("name", F.format_string("key-%04d", F.col("id")))
        .repartitionByRange(8, "id")
    )
    m = mf.write_checkpointed(df, out_dir)
    assert all("stats" in p and "id" in p["stats"] for p in m["partitions"].values())

    # point lookup: exactly one file survives
    got, rep = mf.scan(spark, out_dir, [("id", "=", 777)])
    assert rep["files_total"] == 8 and rep["files_read"] == 1
    assert [r.v for r in got.collect()] == [1554]

    # range scan: skipped rows + read rows == table rows
    got, rep = mf.scan(spark, out_dir, [("id", ">=", 900)])
    assert rep["files_read"] < 8 and rep["rows_skipped"] > 0
    assert got.count() == 100

    # string bounds prune too (format_string keeps lexicographic order)
    got, rep = mf.scan(spark, out_dir, [("name", "=", "key-0005")])
    assert rep["files_read"] == 1 and got.count() == 1

    # IN list spanning two disjoint files
    got, rep = mf.scan(spark, out_dir, [("id", "in", [5, 995])])
    assert rep["files_read"] == 2 and got.count() == 2

    # conjunction: second predicate is residual-only (v >= 0 always true)
    got, rep = mf.scan(spark, out_dir, [("id", "<", 10), ("v", ">=", 0)])
    assert rep["files_read"] == 1 and got.count() == 10

    # empty result: zero files read, schema preserved
    got, rep = mf.scan(spark, out_dir, [("id", ">", 5000)])
    assert rep["files_read"] == 0 and got.count() == 0
    assert got.columns == ["id", "v", "name"]


def test_scan_never_false_negative(spark, tmp_path):
    """Adversarial sweep: every scan result must equal the full-scan
    filter, whatever the clustering (here: UNCLUSTERED writes, where most
    files overlap and pruning rarely fires — correctness must hold even
    when stats are useless)."""
    out_dir = str(tmp_path / "nofn")
    df = spark.range(500).withColumn("v", (F.col("id") * 37) % 101)
    mf.write_checkpointed(df, out_dir, num_partitions=6)
    full = mf.read_snapshot(spark, out_dir)
    for flt, expr in [
        ([("v", "=", 50)], F.col("v") == 50),
        ([("v", "<=", 3)], F.col("v") <= 3),
        ([("v", ">", 98)], F.col("v") > 98),
        ([("v", "in", [0, 100])], F.col("v").isin([0, 100])),
        ([("id", ">=", 250), ("v", "<", 10)], (F.col("id") >= 250) & (F.col("v") < 10)),
    ]:
        got, _ = mf.scan(spark, out_dir, flt)
        assert sorted(r.id for r in got.collect()) == sorted(
            r.id for r in full.filter(expr).collect()
        )


def test_scan_stats_edge_cases(spark, tmp_path):
    """All-null columns prune every predicate; >64-char strings keep only
    a truncated LOWER bound (the upper bound is dropped, so filters above
    it must NOT prune — residual filtering still gives the right rows);
    timestamp bounds prune as ns ints."""
    out_dir = str(tmp_path / "edge")
    pdf = pd.DataFrame(
        {
            "id": range(8),
            "dead": [None] * 8,
            "s": [("x" * 70 + f"{i}") for i in range(8)],
            "ts": pd.date_range("2024-01-01", periods=8, freq="D"),
        }
    )
    df = spark.createDataFrame(pdf).repartitionByRange(2, "id")
    m = mf.write_checkpointed(df, out_dir)
    st = next(iter(m["partitions"].values()))["stats"]
    assert st["dead"]["nulls"] > 0 and "lo" not in st["dead"]
    assert len(st["s"]["lo"]) == 64 and st["s"]["hi"] is None

    # all-null column: equality can never match -> zero files read
    got, rep = mf.scan(spark, out_dir, [("dead", "=", 1)])
    assert rep["files_read"] == 0 and got.count() == 0
    # long strings: filter below the truncated lower bound prunes...
    got, rep = mf.scan(spark, out_dir, [("s", "<", "a")])
    assert rep["files_read"] == 0 and got.count() == 0
    # ...but a filter above the (dropped) upper bound reads files and
    # resolves via the residual — correct empty result, no false prune
    got, rep = mf.scan(spark, out_dir, [("s", ">", "y")])
    assert rep["files_read"] == 2 and got.count() == 0
    got, _ = mf.scan(spark, out_dir, [("s", ">=", "x" * 70 + "5")])
    assert got.count() == 3
    # timestamp range: second file only
    got, rep = mf.scan(spark, out_dir, [("ts", ">=", "2024-01-06")])
    assert rep["files_read"] == 1 and got.count() == 3


def test_scan_time_travel_and_tableio(spark, tmp_path):
    """scan(version=) prunes against the archived snapshot's stats;
    TableIO.scan exposes the same surface on the parquet fallback."""
    from jpspark.table_io import TableIO

    out_dir = str(tmp_path / "ttscan")
    v1 = spark.range(100).withColumn("v", F.lit(1)).repartitionByRange(4, "id")
    mf.write_checkpointed(v1, out_dir)
    v2 = spark.range(50).withColumn("v", F.lit(2)).repartitionByRange(4, "id")
    mf.write_checkpointed(v2, out_dir)
    got, rep = mf.scan(spark, out_dir, [("id", "=", 99)], version=1)
    assert rep["files_read"] == 1 and [r.v for r in got.collect()] == [1]
    got, rep = mf.scan(spark, out_dir, [("id", "=", 99)])  # latest: 50 rows
    assert got.count() == 0

    tio = TableIO(spark, str(tmp_path), namespace="t")
    tio.write(v1, "events_t")
    got, rep = tio.scan("events_t", [("id", "<", 25)])
    assert rep["files_read"] == 1 and got.count() == 25


def test_write_clustered_scan_bbox(spark, tmp_path):
    """Z-order clustered write + bbox scan: pruning must skip most files
    for a small window on a clustered table, and results must equal the
    full-scan bbox filter on BOTH a clustered and an unclustered table
    (clustering is a performance property, never a semantics one)."""
    out_c = str(tmp_path / "clustered")
    out_u = str(tmp_path / "unclustered")
    df = (
        spark.range(40_000)
        .withColumn("lon", (F.col("id") % 360).cast("double") - 180.0 + 0.5)
        .withColumn("lat", ((F.col("id") * 7 % 180)).cast("double") - 90.0 + 0.5)
    )
    mf.write_clustered_by_cell(df, out_c, res=6, num_partitions=16)
    mf.write_checkpointed(df.repartition(16), out_u)  # no cell_id column at all

    bbox = (-20.0, -10.0, 25.0, 15.0)
    full = mf.read_snapshot(spark, out_c).filter(
        (F.col("lon") >= bbox[0]) & (F.col("lon") < bbox[2])
        & (F.col("lat") >= bbox[1]) & (F.col("lat") < bbox[3])
    )
    exp = sorted(r.id for r in full.collect())

    got_c, rep_c = mf.scan_bbox(spark, out_c, *bbox, res=6)
    assert sorted(r.id for r in got_c.collect()) == exp
    assert rep_c["files_read"] < rep_c["files_total"], rep_c  # real pruning

    got_u, rep_u = mf.scan_bbox(spark, out_u, *bbox, res=6)
    assert sorted(r.id for r in got_u.collect()) == exp  # degrades, never wrong

    # clustered table prunes strictly better than the unclustered one
    assert rep_c["files_read"] <= rep_u["files_read"]


# ------------------------------------------- optimistic concurrency


from jpspark.testing import StaleReadStorage as _StaleReadStorage


@pytest.mark.parametrize("store", ["local", "http"], indirect=True)
def test_occ_append_remerges_interleaved_commit(spark, tmp_path, store):
    """Round-3 ADVICE (lost update): an appender whose snapshot base was
    read BEFORE a rival's append committed must not drop the rival's
    partitions. The Iceberg commit loop detects the conflict at the
    exclusive root create, reloads the base, re-merges (remapping
    partition ids past the rival's tail), and commits the union."""
    store = store or mf.LocalStorage()
    out_dir = str(tmp_path / "occ")
    mf.write_checkpointed(
        spark.range(100).withColumn("v", F.lit(1)), out_dir,
        num_partitions=2, storage=store,
    )
    # the rival's append commits v2 while our base read (v1) is in hand
    mf.write_checkpointed(
        spark.range(100, 150).withColumn("v", F.lit(2)), out_dir,
        num_partitions=2, storage=store, mode="append",
    )
    stale = _StaleReadStorage(store, visible_version=1)
    m3 = mf.write_checkpointed(
        spark.range(150, 175).withColumn("v", F.lit(3)), out_dir,
        num_partitions=2, storage=stale, mode="append",
    )
    assert m3["version"] == 3
    back = mf.read_snapshot(spark, out_dir, storage=store)
    assert back.count() == 175  # nobody's rows were dropped
    assert back.select("id").distinct().count() == 175
    # every snapshot stays readable; version numbers never shared
    assert mf.read_snapshot(spark, out_dir, version=2, storage=store).count() == 150
    assert mf.load_manifest(out_dir, storage=store)["version"] == 3


_DML_OPS = {
    "delete_where": lambda spark, out, store: mf.delete_where(
        spark, out, [("id", "<", 100)], storage=store
    ),
    "update_where": lambda spark, out, store: mf.update_where(
        spark, out, [("id", "<", 100)], {"v": F.lit(-1)}, storage=store
    ),
    "merge_into": lambda spark, out, store: mf.merge_into(
        spark, out, spark.range(100).withColumn("v", F.lit(-1).cast("long")),
        key="id", storage=store,
    ),
}


@pytest.mark.parametrize("op", list(_DML_OPS))
def test_occ_delete_retries_on_interleaved_commit(spark, tmp_path, op):
    """A copy-on-write DML pass (delete, update or merge) computed against
    a replaced snapshot must abort and re-run on the new base (a rewrite
    cannot be merged): rival appends ids 1000..1099 after our base read;
    the op on id < 100 must still see them."""
    out_dir = str(tmp_path / "occdml")
    df = spark.range(1000).withColumn("v", F.col("id") * 2).repartitionByRange(8, "id")
    mf.write_checkpointed(df, out_dir)
    mf.write_checkpointed(
        spark.range(1000, 1100).withColumn("v", F.col("id") * 2), out_dir,
        mode="append", num_partitions=1,
    )
    stale = _StaleReadStorage(mf.LocalStorage(), visible_version=1)
    m = _DML_OPS[op](spark, out_dir, stale)
    assert m["version"] == 3
    report = m[f"{op.split('_')[0]}_report"]
    assert report["files_total"] == 9  # recomputed on v2: 8 files + the rival's
    back = mf.read_snapshot(spark, out_dir)
    if op == "delete_where":
        assert report["rows_before"] == 1100
        assert back.count() == 1000
    else:
        assert back.count() == 1100
        assert back.filter(F.col("v") == -1).count() == 100
        assert back.filter(F.col("v") == -1).agg(F.max("id")).collect()[0][0] == 99
    # rival rows intact
    assert back.filter((F.col("id") >= 1000) & (F.col("v") == F.col("id") * 2)).count() == 100


def test_live_pointer_never_rolls_back(spark, tmp_path):
    """The live pointer is last-writer-wins; a slow committer of an OLD
    version must not roll the live table backward. The monotonic publish
    re-checks committed roots and converges on the newest."""
    out_dir = str(tmp_path / "ptr")
    store = mf.LocalStorage()
    mf.write_checkpointed(spark.range(10).withColumn("v", F.lit(1)), out_dir)
    mf.write_checkpointed(
        spark.range(10, 30).withColumn("v", F.lit(2)), out_dir,
        mode="append", num_partitions=1,
    )
    v1_body = store.get_text(out_dir, mf._root_key(1))
    mf._publish_pointer(store, out_dir, 1, v1_body)  # the straggler's publish
    assert mf.load_manifest(out_dir)["version"] == 2


def test_vacuum_grace_window_protects_inflight_parts(spark, tmp_path):
    """Round-3 ADVICE: an in-flight writer PUTs part objects before its
    root manifest commits; vacuum must not delete young unreferenced
    files (Iceberg orphan-file retention). grace_seconds=0 restores the
    aggressive single-writer behavior."""
    import pyarrow as pa

    out_dir = str(tmp_path / "grace")
    store = mf.LocalStorage()
    mf.write_checkpointed(
        spark.range(100).withColumn("v", F.lit(1)), out_dir, num_partitions=2
    )
    store.put_table(
        out_dir, "part-99999-00000000deadbeef.parquet", pa.table({"id": [1]})
    )
    res = mf.vacuum(out_dir, keep_last=1)  # default grace window
    assert res["removed_files"] == 0
    assert store.exists(out_dir, "part-99999-00000000deadbeef.parquet")
    res = mf.vacuum(out_dir, keep_last=1, grace_seconds=0)
    assert res["removed_files"] == 1
    assert mf.read_snapshot(spark, out_dir).count() == 100


def test_scan_nan_rows_not_pruned(spark, tmp_path):
    """Round-3 ADVICE (NaN vs stats pruning): every sink converts through
    pa.Table.from_pandas, which canonicalizes float NaN to parquet NULL —
    so a NaN produced upstream reads back as NULL, fails every predicate,
    and counting it among `nulls` in the stats is exactly consistent.
    scan() must equal the full-scan filter on NaN-bearing input."""
    out_dir = str(tmp_path / "nan")
    df = (
        spark.range(100)
        .withColumn(
            "x",
            F.when(F.col("id") < 50, F.lit(float("nan"))).otherwise(
                F.col("id").cast("double")
            ),
        )
        .repartitionByRange(4, "id")
    )
    mf.write_checkpointed(df, out_dir)
    got, report = mf.scan(spark, out_dir, [("x", ">", 5.0)])
    full = mf.read_snapshot(spark, out_dir).filter(F.col("x") > 5.0)
    assert got.count() == full.count() == 50
    m = mf.load_manifest(out_dir)
    total_nulls = sum(p["stats"]["x"]["nulls"] for p in m["partitions"].values())
    assert total_nulls == 50  # NaN recorded as null == stored as NULL
    assert report["files_read"] < report["files_total"]  # all-NaN files pruned


@pytest.mark.parametrize("store", ["http"], indirect=True)
def test_non_posix_storage_commit_protocol(spark, store):
    """The commit protocol on a store with NO filesystem: distributed
    mapInPandas sinks write over a loopback HTTP object store (socket
    framing, status-code errors, If-None-Match conditional PUT decided
    server-side, exactly the S3 commit shape), commit/OCC/resume/vacuum
    run unchanged, and the data reads back via Arrow."""
    out_dir = "bucket/tbl"
    m1 = mf.write_checkpointed(
        spark.range(100).withColumn("v", F.lit(1)), out_dir,
        num_partitions=2, storage=store,
    )
    assert m1["version"] == 1 and m1["total_rows"] == 100
    m2 = mf.write_checkpointed(
        spark.range(100, 130).withColumn("v", F.lit(2)), out_dir,
        num_partitions=2, storage=store, mode="append",
    )
    assert m2["version"] == 2 and m2["total_rows"] == 130
    # idempotent resume: identical overwrite skips every partition
    m3 = mf.write_checkpointed(
        spark.range(100).withColumn("v", F.lit(1)), out_dir,
        num_partitions=2, storage=store,
    )
    assert all(p["skipped_on_last_run"] for p in m3["partitions"].values())
    # read back through Arrow (no filesystem to hand to Spark)
    m = mf.load_manifest(out_dir, storage=store)
    total = sum(
        store.get_table(out_dir, mf._part_key(p["path"])).num_rows
        for p in m["partitions"].values()
    )
    assert total == m["total_rows"] == 100
    # OCC on the object store: stale appender re-merges the rival commit
    stale = _StaleReadStorage(store, visible_version=2)
    stale.stale = True
    m4 = mf.write_checkpointed(
        spark.range(200, 220).withColumn("v", F.lit(4)), out_dir,
        num_partitions=1, storage=stale, mode="append",
    )
    assert m4["version"] == 4
    res = mf.vacuum(out_dir, keep_last=1, storage=store, grace_seconds=0)
    assert res["removed_snapshots"] == 3
    m = mf.load_manifest(out_dir, storage=store)
    total = sum(
        store.get_table(out_dir, mf._part_key(p["path"])).num_rows
        for p in m["partitions"].values()
    )
    assert total == m["total_rows"] == 120


# ------------------------------------------------- row-level delete (CoW)


def test_delete_where_partial_copy_on_write(spark, tmp_path):
    """Iceberg-style DELETE: on a range-clustered table, deleting a key
    range rewrites ONLY the files whose stats admit matching rows — the
    rest carry over by reference (same part keys shared between the old
    and new snapshots). Counts, time travel, and vacuum sharing all
    hold."""
    out_dir = str(tmp_path / "del")
    df = spark.range(1000).withColumn("v", F.col("id") * 2).repartitionByRange(8, "id")
    m1 = mf.write_checkpointed(df, out_dir)
    old_keys = {p["path"] for p in m1["partitions"].values()}

    m2 = mf.delete_where(spark, out_dir, [("id", ">=", 900)])
    rep = m2["delete_report"]
    assert rep["files_rewritten"] < rep["files_total"]
    assert rep["rows_deleted"] == 100 and m2["total_rows"] == 900
    new_keys = {p["path"] for p in m2["partitions"].values()}
    # untouched files shared by reference between snapshots
    assert len(old_keys & new_keys) == rep["files_total"] - rep["files_rewritten"]

    back = mf.read_snapshot(spark, out_dir)
    assert back.count() == 900 and back.filter(F.col("id") >= 900).count() == 0
    assert back.agg(F.sum("v")).collect()[0][0] == 2 * sum(range(900))
    # time travel still sees the pre-delete table
    assert mf.read_snapshot(spark, out_dir, version=1).count() == 1000
    # vacuum keeps files shared by the surviving snapshot
    mf.vacuum(out_dir, keep_last=1, grace_seconds=0)
    assert mf.read_snapshot(spark, out_dir).count() == 900

    # delete matching nothing: zero rewrites, table unchanged
    m3 = mf.delete_where(spark, out_dir, [("id", ">=", 5000)])
    assert m3["delete_report"]["files_rewritten"] == 0
    assert m3["delete_report"]["rows_deleted"] == 0
    assert mf.read_snapshot(spark, out_dir).count() == 900


def test_delete_where_conjunction_and_nulls(spark, tmp_path):
    """Conjunction deletes only rows matching ALL predicates; rows where
    the predicate is NULL survive (SQL three-valued logic)."""
    out_dir = str(tmp_path / "deln")
    pdf = pd.DataFrame(
        {"id": range(10), "grp": ["a", "b"] * 5, "x": [1, 2, 3, None, 5, 6, None, 8, 9, 10]}
    )
    mf.write_checkpointed(spark.createDataFrame(pdf), out_dir, num_partitions=2)
    mf.delete_where(spark, out_dir, [("grp", "=", "a"), ("x", ">", 4)])
    back = mf.read_snapshot(spark, out_dir).toPandas().sort_values("id")
    # deleted: grp=a AND x>4 -> ids 4 (x=5), 8 (x=9); id 6 (x NULL) survives
    assert sorted(back["id"]) == [0, 1, 2, 3, 5, 6, 7, 9]


def test_schema_evolution_across_snapshots(spark, tmp_path):
    """Schema evolution by construction: every snapshot is self-contained
    (one schema per commit), so adding a column is just the next commit;
    time travel reads each snapshot with ITS schema, and merge_upsert
    unions by name with null-fill for rows predating the column."""
    from jpspark.table_io import TableIO

    out = str(tmp_path)
    tio = TableIO(spark, out, namespace="t")
    v1 = spark.range(10).withColumn("a", F.lit("x"))
    tio.write(v1, "evo")
    v2 = spark.range(5).withColumn("a", F.lit("y")).withColumn("b", F.lit(1))
    tio.write(v2, "evo")
    assert tio.read("evo").columns == ["id", "a", "b"]
    assert tio.read("evo", version=1).columns == ["id", "a"]
    # upsert a narrower frame into the wider table: b null-filled
    tio.merge_upsert(spark.range(2).withColumn("a", F.lit("z")), "evo", key="id")
    back = tio.read("evo").toPandas().sort_values("id")
    assert list(back.columns) == ["id", "a", "b"]
    assert back[back["id"] < 2]["b"].isna().all()
    assert back[back["id"] < 2]["a"].tolist() == ["z", "z"]


def test_append_mode_and_incremental_read(spark, tmp_path):
    """mode='append' commits prior partitions plus the new rows;
    read_incremental returns EXACTLY the appended rows between two
    versions (content-addressed file diff), and refuses a range where a
    rewrite (delete) broke append-only semantics."""
    out = str(tmp_path / "app")
    mf.write_checkpointed(spark.range(100).withColumn("v", F.lit(1)), out, num_partitions=2)
    mf.write_checkpointed(
        spark.range(100, 150).withColumn("v", F.lit(2)), out, num_partitions=2, mode="append"
    )
    mf.write_checkpointed(
        spark.range(150, 160).withColumn("v", F.lit(3)), out, num_partitions=1, mode="append"
    )
    assert mf.read_snapshot(spark, out).count() == 160
    inc = mf.read_incremental(spark, out, from_version=1, to_version=2)
    assert sorted(r.id for r in inc.collect()) == list(range(100, 150))
    inc13 = mf.read_incremental(spark, out, from_version=1)  # to latest
    assert sorted(r.id for r in inc13.collect()) == list(range(100, 160))
    # same-version diff: empty, schema preserved
    assert mf.read_incremental(spark, out, 2, 2).count() == 0
    # a delete rewrites files -> the diff is no longer an append stream
    mf.delete_where(spark, out, [("id", "<", 10)])
    with pytest.raises(ValueError):
        mf.read_incremental(spark, out, from_version=1)
    # but the post-delete baseline works again for future appends
    mf.write_checkpointed(
        spark.range(200, 210).withColumn("v", F.lit(4)), out, num_partitions=1, mode="append"
    )
    inc45 = mf.read_incremental(spark, out, from_version=4)
    assert sorted(r.id for r in inc45.collect()) == list(range(200, 210))


def test_update_where_partial_copy_on_write(spark, tmp_path):
    """UPDATE rewrites only stat-matching files; matched rows take the
    new values, everything else is untouched; time travel keeps the
    pre-update values."""
    out = str(tmp_path / "upd")
    df = spark.range(1000).withColumn("v", F.col("id") * 2).repartitionByRange(8, "id")
    mf.write_checkpointed(df, out)
    m = mf.update_where(spark, out, [("id", ">=", 900)], {"v": F.lit(-1)})
    rep = m["update_report"]
    assert rep["files_rewritten"] < rep["files_total"]
    back = mf.read_snapshot(spark, out)
    assert back.count() == 1000
    assert back.filter(F.col("id") >= 900).filter(F.col("v") == -1).count() == 100
    assert back.filter((F.col("id") < 900) & (F.col("v") != F.col("id") * 2)).count() == 0
    assert mf.read_snapshot(spark, out, version=1).filter(F.col("v") == -1).count() == 0


def test_merge_into_partial_copy_on_write(spark, tmp_path):
    """Round-6 MERGE INTO (upsert): matched keys take the source row,
    unmatched source keys are inserted, and only files whose key stats
    admit a source key get rewritten — the rest carry over by
    reference. Time travel keeps the pre-merge rows."""
    out = str(tmp_path / "mrg")
    df = spark.range(1000).withColumn("v", F.col("id") * 2).repartitionByRange(8, "id")
    m1 = mf.write_checkpointed(df, out)
    old_keys = {p["path"] for p in m1["partitions"].values()}

    # update keys 950..999, insert keys 2000..2049
    src = (
        spark.range(950, 1050)
        .withColumn("id", F.when(F.col("id") >= 1000, F.col("id") + 1000).otherwise(F.col("id")))
        .withColumn("v", F.lit(-7))
    )
    m2 = mf.merge_into(spark, out, src, key="id")
    rep = m2["merge_report"]
    assert rep["files_rewritten"] < rep["files_total"]
    assert rep["source_rows"] == 100
    new_keys = {p["path"] for p in m2["partitions"].values()}
    assert len(old_keys & new_keys) == rep["files_total"] - rep["files_rewritten"]

    back = mf.read_snapshot(spark, out)
    assert back.count() == 1050 and m2["total_rows"] == 1050
    assert back.filter(F.col("v") == -7).count() == 100
    assert back.filter((F.col("id") < 950) & (F.col("v") != F.col("id") * 2)).count() == 0
    assert back.filter(F.col("id") >= 2000).count() == 50
    assert mf.read_snapshot(spark, out, version=1).count() == 1000

    # insert-only merge (keys beyond every file's range): zero rewrites
    m3 = mf.merge_into(
        spark, out, spark.range(5000, 5010).withColumn("v", F.lit(1)), key="id"
    )
    assert m3["merge_report"]["files_rewritten"] == 0
    assert mf.read_snapshot(spark, out).count() == 1060

    # empty source: committed no-op snapshot
    m4 = mf.merge_into(spark, out, spark.range(0).withColumn("v", F.lit(0)), key="id")
    assert m4["merge_report"] == {"files_total": len(m3["partitions"]), "files_rewritten": 0, "source_rows": 0}
    assert mf.read_snapshot(spark, out).count() == 1060


def test_merge_into_rejects_bad_sources(spark, tmp_path):
    out = str(tmp_path / "mrg_bad")
    mf.write_checkpointed(spark.range(10).withColumn("v", F.lit(1)), out)
    with pytest.raises(ValueError, match="not unique"):
        dup = spark.createDataFrame([(1, 5), (1, 6)], "id long, v int")
        mf.merge_into(spark, out, dup, key="id")
    with pytest.raises(ValueError, match="NULL merge keys"):
        nul = spark.createDataFrame([(None, 5)], "id long, v int")
        mf.merge_into(spark, out, nul, key="id")
    with pytest.raises(ValueError, match="source columns"):
        mf.merge_into(spark, out, spark.range(3), key="id")


def test_merge_into_range_probe_big_source(spark, tmp_path):
    """Sources past max_probe_keys prune by min/max range instead of the
    collected IN probe — same result, no driver-side key collect."""
    out = str(tmp_path / "mrg_big")
    df = spark.range(1000).withColumn("v", F.col("id") * 2).repartitionByRange(8, "id")
    mf.write_checkpointed(df, out)
    src = spark.range(900, 1000).withColumn("v", F.lit(-1))
    m = mf.merge_into(spark, out, src, key="id", max_probe_keys=10)
    assert m["merge_report"]["files_rewritten"] < m["merge_report"]["files_total"]
    back = mf.read_snapshot(spark, out)
    assert back.count() == 1000 and back.filter(F.col("v") == -1).count() == 100


def test_merge_into_writes_table_column_types(spark, tmp_path):
    """A source column wider than the table's (long into int) does not
    leak into the rewritten files: like update_where, the rewrite keeps
    the table's types, so every part file matches the manifest schema."""
    import os

    import pyarrow.parquet as pq

    out = str(tmp_path / "mrg_types")
    df = spark.range(100).withColumn("v", F.col("id").cast("int")).repartitionByRange(4, "id")
    mf.write_checkpointed(df, out)
    src = spark.range(90, 110).withColumn("v", F.lit(-1).cast("long"))
    m = mf.merge_into(spark, out, src, key="id")
    assert 0 < m["merge_report"]["files_rewritten"] < m["merge_report"]["files_total"]
    for p in m["partitions"].values():
        assert str(pq.read_schema(os.path.join(out, p["path"])).field("v").type) == "int32"
    back = mf.read_snapshot(spark, out)
    assert dict(back.dtypes)["v"] == "int"
    assert back.count() == 110 and back.filter(F.col("v") == -1).count() == 20


def test_tableio_merge_upsert_uses_pruned_path(spark, tmp_path):
    """TableIO.merge_upsert with a schema-matching source routes through
    manifest.merge_into (lineage says so) instead of the full rewrite."""
    from jpspark.table_io import TableIO

    tio = TableIO(spark, root=str(tmp_path))
    tio.write(spark.range(100).withColumn("v", F.lit(1)), "t")
    tio.merge_upsert(spark.range(90, 110).withColumn("v", F.lit(2)), "t", key="id")
    back = tio.read("t")
    assert back.count() == 110
    assert back.filter(F.col("v") == 2).count() == 20
    m = mf.load_manifest(str(tmp_path / "t"))
    assert "merge_into" in m["lineage"]


def test_vacuum_sweeps_loser_attempt_shards(spark, tmp_path):
    """Round-4 review: a losing commit attempt writes its shard files
    before the exclusive root create fails; vacuum must sweep shards no
    root references (past the grace window) while keeping every kept
    root's shards."""
    store = mf.LocalStorage()
    out_dir = str(tmp_path / "shards")
    mf.write_checkpointed(
        spark.range(100).withColumn("v", F.lit(1)), out_dir,
        num_partitions=4, shard_size=2,  # forces sharded manifests
    )
    live = mf.load_manifest(out_dir)
    assert live["partitions"] and len(live["partitions"]) == 4
    # a loser attempt's orphan shard (content-addressed key, no root)
    orphan = f"{mf.MANIFESTS_DIR}/manifest-000002-shard-0000-deadbeef0000.json"
    store.put_text(out_dir, orphan, '{"partitions": {}}')
    res = mf.vacuum(out_dir, keep_last=1)  # default grace: too young
    assert store.exists(out_dir, orphan)
    mf.vacuum(out_dir, keep_last=1, grace_seconds=0)
    assert not store.exists(out_dir, orphan)
    # the kept root's shards survive and the table still reads
    assert mf.read_snapshot(spark, out_dir).count() == 100


def test_dml_preserves_sharded_manifest(spark, tmp_path):
    """Round-4 ADVICE: delete_where/update_where on a table whose
    manifest is sharded must re-shard the rewritten partition map, not
    inline 10^5-10^6 entries back into a single root JSON (which would
    regress the manifest-of-manifests scaling property)."""
    import json

    store = mf.LocalStorage()
    out_dir = str(tmp_path / "dml_sharded")
    df = spark.range(600).withColumn("v", F.col("id") * 5)
    mf.write_checkpointed(df, out_dir, num_partitions=12, shard_size=5)
    m = mf.delete_where(spark, out_dir, [("id", "<", 100)], shard_size=5)
    assert m["total_rows"] == 500
    root = json.loads(store.get_text(out_dir, mf.MANIFEST_NAME))
    assert root["partitions"] == {} and len(root["partition_shards"]) >= 2
    m2 = mf.update_where(
        spark, out_dir, [("id", ">=", 500)], {"v": F.lit(0)}, shard_size=5
    )
    root2 = json.loads(store.get_text(out_dir, mf.MANIFEST_NAME))
    assert root2["partitions"] == {} and len(root2["partition_shards"]) >= 2
    back = mf.read_snapshot(spark, out_dir)
    assert back.count() == 500
    assert back.filter(F.col("v") == 0).count() == 100


def test_publish_pointer_contention_writes_final_body():
    """Round-4 ADVICE: under pathological contention (a newer committed
    root appears on every lap) _publish_pointer must still leave the
    live pointer naming the newest root it saw — never fall off the
    loop leaving a stale pointer with no writer responsible for it."""

    class ContendedStore:
        def __init__(self):
            self.v = 1
            self.pointer = None
            self.pointer_writes = 0

        def list(self, root, prefix):
            self.v += 1  # a rival commits between every two observations
            return [f"{mf.MANIFESTS_DIR}/manifest-{self.v:06d}.json"]

        def get_text(self, root, key):
            return '{"version": %d}' % int(key.split("-")[1].split(".")[0])

        def put_text(self, root, key, text):
            assert key == mf.MANIFEST_NAME
            self.pointer = text
            self.pointer_writes += 1

    st = ContendedStore()
    mf._publish_pointer(st, "/t", 1, '{"version": 1}')
    assert st.pointer is not None
    import json

    assert json.loads(st.pointer)["version"] >= st.v - 1


@pytest.mark.parametrize("store", ["local", "http"], indirect=True)
def test_storage_seam_primitives(tmp_path, store):
    """Seam contract details the protocol test doesn't isolate, on both
    backends: not-found mapping (get_* -> None, get_table/delete/size/
    mtime -> FileNotFoundError), prefix list, size/mtime metadata,
    overwriting PUT, and — the OCC-critical one — N threads racing the
    same exclusive create (O_EXCL locally, If-None-Match decided on the
    server over HTTP) must produce exactly ONE winner."""
    import threading

    st = store or mf.LocalStorage()
    root = str(tmp_path / "x")
    assert st.get_bytes(root, "missing") is None
    assert st.get_text(root, "missing") is None
    assert not st.exists(root, "missing")
    with pytest.raises(FileNotFoundError):  # not TypeError on BytesIO(None)
        st.get_table(root, "missing.parquet")
    with pytest.raises(FileNotFoundError):
        st.delete(root, "missing")
    with pytest.raises(FileNotFoundError):
        st.size(root, "missing")
    with pytest.raises(FileNotFoundError):
        st.mtime(root, "missing")
    st.put_text(root, "a/one.json", '{"v":1}')
    st.put_bytes(root, "a/two.bin", b"\x00\xffdata")
    st.put_text(root, "b/three.json", "{}")
    assert st.get_text(root, "a/one.json") == '{"v":1}'
    assert st.get_bytes(root, "a/two.bin") == b"\x00\xffdata"
    assert st.size(root, "a/two.bin") == 6
    assert st.mtime(root, "a/one.json") > 0
    assert st.list(root, "a/") == ["a/one.json", "a/two.bin"]
    # unconditional PUT overwrites; conditional PUT refuses
    st.put_text(root, "a/one.json", '{"v":2}')
    assert st.get_text(root, "a/one.json") == '{"v":2}'
    assert st.put_text_new(root, "a/one.json", "nope") is False
    wins = []
    barrier = threading.Barrier(8)

    def race(i):
        barrier.wait()
        if st.put_text_new(root, "claim.json", f"writer-{i}"):
            wins.append(i)

    ts = [threading.Thread(target=race, args=(i,)) for i in range(8)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert len(wins) == 1
    assert st.get_text(root, "claim.json") == f"writer-{wins[0]}"
    st.delete(root, "a/one.json")
    assert st.get_bytes(root, "a/one.json") is None


@pytest.mark.parametrize("store", ["local", "http"], indirect=True)
def test_storage_derived_conversions_roundtrip(tmp_path, store):
    """The text and table conversions are written once over the byte
    primitives: put_table stores exactly the bytes pq.write_table
    produces (part files stay byte-identical whatever the backend),
    get_table returns the same schema and values (nulls, non-ASCII
    strings, int64 extremes, timestamps), and text is UTF-8 both ways."""
    import datetime as dt

    st = store or mf.LocalStorage()
    root = str(tmp_path / "conv")
    table = pa.table({
        "id": pa.array([-(2**63), 0, 2**63 - 1], pa.int64()),
        "name": pa.array(["東京", None, "aéb"], pa.string()),
        "ts": pa.array(
            [dt.datetime(2020, 1, 1), None, dt.datetime(1969, 12, 31, 23, 59)],
            pa.timestamp("us"),
        ),
    })
    st.put_table(root, "t/part-0.parquet", table)
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink)
    assert st.get_bytes(root, "t/part-0.parquet") == sink.getvalue().to_pybytes()
    back = st.get_table(root, "t/part-0.parquet")
    assert back.schema == table.schema
    assert back.equals(table)
    st.put_text(root, "t/note.json", '{"名": "ü"}')
    assert st.get_bytes(root, "t/note.json") == '{"名": "ü"}'.encode("utf-8")
    assert st.get_text(root, "t/note.json") == '{"名": "ü"}'
    assert st.put_text_new(root, "t/new.json", "ß") is True
    assert st.get_text(root, "t/new.json") == "ß"


@pytest.mark.parametrize("store", ["local", "http"], indirect=True)
def test_storage_uri_marks_the_contract(tmp_path, store):
    """``uri()`` is what ``_read_parts`` routes on: the filesystem-
    addressable backend returns a path any parquet reader opens to the
    same table get_table returns; the fetch-by-key backend raises
    NotImplementedError, so executors fetch bytes instead."""
    st = store or mf.LocalStorage()
    root = str(tmp_path / "addr")
    table = pa.table({"k": [1, 2, 3]})
    st.put_table(root, "p/part-0.parquet", table)
    if store is None:
        path = st.uri(root, "p/part-0.parquet")
        assert os.path.isfile(path)
        assert pq.read_table(path).equals(st.get_table(root, "p/part-0.parquet"))
    else:
        with pytest.raises(NotImplementedError):
            st.uri(root, "p/part-0.parquet")


@pytest.mark.parametrize("store", ["local", "http"], indirect=True)
def test_storage_unpickled_copy_shares_store(tmp_path, store):
    """Backends ship to executors by pickle. The unpickled copy must see
    the same objects as the original, and an exclusive create it races
    against the original must still have exactly one winner: the store
    (the filesystem, or the HTTP server) arbitrates, not client state."""
    import pickle

    st = store or mf.LocalStorage()
    root = str(tmp_path / "pk")
    st.put_text(root, "seen.json", "from-driver")
    copy = pickle.loads(pickle.dumps(st))
    assert copy.get_text(root, "seen.json") == "from-driver"
    copy.put_bytes(root, "back.bin", b"from-executor")
    assert st.get_bytes(root, "back.bin") == b"from-executor"
    assert st.list(root, "") == copy.list(root, "") == ["back.bin", "seen.json"]
    assert st.put_text_new(root, "claim.json", "driver") is True
    assert copy.put_text_new(root, "claim.json", "executor") is False
    assert copy.get_text(root, "claim.json") == "driver"


def test_local_storage_put_leaves_only_the_key(tmp_path):
    """Every LocalStorage write creates missing parent directories and
    leaves exactly the written key behind — no temp-file residue for
    ``list`` (and so vacuum's orphan sweep) to see — whether the PUT is
    fresh, an overwrite, or a losing exclusive create."""
    st = mf.LocalStorage()
    root = str(tmp_path / "lt")
    st.put_bytes(root, "a/b/c.bin", b"1")
    st.put_bytes(root, "a/b/c.bin", b"22")
    st.put_text(root, "a/b/d.json", "{}")
    st.put_table(root, "a/b/e.parquet", pa.table({"x": [1]}))
    assert st.put_text_new(root, "a/b/f.json", "first") is True
    assert st.put_text_new(root, "a/b/f.json", "second") is False
    assert sorted(os.listdir(os.path.join(root, "a", "b"))) == [
        "c.bin", "d.json", "e.parquet", "f.json",
    ]
    assert st.list(root, "a/b/") == [
        "a/b/c.bin", "a/b/d.json", "a/b/e.parquet", "a/b/f.json",
    ]
    assert st.get_bytes(root, "a/b/c.bin") == b"22"
    assert st.get_text(root, "a/b/f.json") == "first"


def test_bloom_filter_file_skipping(spark, tmp_path):
    """Per-file Bloom filters (Iceberg/Puffin-shaped): an equality probe
    on a NON-clustered high-cardinality column — where every file's
    [lo, hi] spans the domain, so min/max stats prune nothing — must
    become a metadata decision. No false negatives ever (present values
    always read their file); absent values prune to zero files."""
    import json

    out = str(tmp_path / "bloomtbl")
    # v is a multiplicative scramble of id: every partition's v-range
    # spans ~the full domain, so range stats are useless by construction
    df = spark.range(20_000).select(
        F.col("id"),
        ((F.col("id") * 2654435761) % 1000003).alias("v"),
        F.concat(F.lit("tag-"), ((F.col("id") * 40503) % 997).cast("string")).alias("tag"),
    )
    # fpp=1e-4 so the zero-files assertions below have real margin
    # (16 files at the 0.01 default leave ~15% aggregate false-positive
    # odds — they'd flip non-obviously on any partitioning change)
    m = mf.write_checkpointed(
        df, out, num_partitions=16, bloom_cols=["v", "tag"], bloom_fpp=1e-4
    )
    parts = m["partitions"]
    assert len(parts) == 16
    assert m["bloom_fpp"] == 1e-4  # persisted as a table property
    probe = (12345 * 2654435761) % 1000003
    # every file's range admits the probe -> any pruning below is bloom's
    for meta in parts.values():
        st = json.loads(json.dumps(meta["stats"]))["v"]
        assert st["lo"] <= probe <= st["hi"]
        assert "bloom" in st and "bloom" in meta["stats"]["tag"]
        assert "bloom" not in meta["stats"]["id"]  # not requested
    got, rep = mf.scan(spark, out, [("v", "=", probe)])
    assert rep["files_read"] < rep["files_total"]
    assert [r["id"] for r in got.collect()] == [12345]
    # absent value: blooms prove absence -> zero files opened
    got2, rep2 = mf.scan(spark, out, [("v", "=", 1000002)])
    assert rep2["files_read"] == 0 and got2.count() == 0
    # IN probe with every member absent prunes too; one present member reads
    _, rep3 = mf.scan(spark, out, [("v", "in", [1000002, 1000001])])
    assert rep3["files_read"] == 0
    got4, rep4 = mf.scan(spark, out, [("tag", "=", "tag-5"), ("v", "=", probe)])
    assert rep4["files_read"] <= rep["files_read"]
    # no false negatives across a sweep of present values
    for pid in (0, 7777, 19_999):
        pv = (pid * 2654435761) % 1000003
        gotp, _ = mf.scan(spark, out, [("v", "=", pv)])
        assert pid in [r["id"] for r in gotp.collect()]
    # a DML rewrite inherits the table's bloom_fpp (round-5 ADVICE):
    # rebuilt filters keep the same false-positive rate, so the absent
    # probe still prunes to zero files after the rewrite
    m5 = mf.delete_where(spark, out, [("id", "=", 7777)])
    assert m5["bloom_fpp"] == 1e-4
    _, rep5 = mf.scan(spark, out, [("v", "=", 1000002)])
    assert rep5["files_read"] == 0


def test_bloom_primitives_deterministic():
    """_bloom_build/_bloom_may_contain: zero false negatives by
    construction, deterministic bits (retries/speculative rewrites of
    identical content must emit identical manifests), float columns
    refuse to bloom."""
    vals = list(range(500)) + [f"s{i}" for i in range(100)]
    b1 = mf._bloom_build(list(range(500)))
    b2 = mf._bloom_build(list(range(500)))
    assert b1 == b2
    assert all(mf._bloom_may_contain(b1, v) for v in range(500))
    misses = sum(mf._bloom_may_contain(b1, v) for v in range(10_000, 12_000))
    assert misses < 2000 * 0.05  # fpp 0.01 with slack
    assert mf._bloom_build([1.5, 2.5]) is None


def test_bloom_cols_table_property_survives_rewrites(spark, tmp_path):
    """bloom_cols persists in the manifest as a table property: compact
    and DML rewrites inherit it and rebuild blooms on every file they
    rewrite, so point-lookup pruning survives table maintenance."""
    out = str(tmp_path / "bloomprop")
    df = spark.range(8_000).select(
        "id", ((F.col("id") * 2654435761) % 1000003).alias("v")
    )
    mf.write_checkpointed(df, out, num_partitions=8, bloom_cols=["v"])
    # compact (no bloom_cols named) inherits the property
    m2 = mf.compact(spark, out, target_bytes=16 << 10)
    assert m2.get("bloom_cols") == ["v"]
    assert all("bloom" in p["stats"]["v"] for p in m2["partitions"].values())
    # DML rewrite keeps the property and rebuilds blooms on new files
    m3 = mf.delete_where(spark, out, [("id", "<", 100)])
    assert m3.get("bloom_cols") == ["v"]
    rewritten = [
        p for p in m3["partitions"].values() if p["row_count"] and "bloom" in p["stats"]["v"]
    ]
    assert rewritten  # at least the rewritten files carry fresh blooms
    # pruning still works after the rewrites
    probe = (4321 * 2654435761) % 1000003
    got, rep = mf.scan(spark, out, [("v", "=", probe)])
    assert rep["files_read"] < rep["files_total"]
    assert [r["id"] for r in got.collect()] == [4321]


def test_bloom_sidecar_blobs_and_vacuum_sweep(spark, tmp_path):
    """Round-5 review findings: bloom bitmaps must NOT inline into the
    manifest JSON (multi-GB roots at 200k files — the metadata path
    blooms exist to protect) — they live as sidecar blobs next to the
    part file, fetched lazily; vacuum sweeps a blob with its part file;
    and a type-mismatched probe (int vs string column) must NOT prune
    (Spark's residual filter could match via implicit cast)."""
    import json

    store = mf.LocalStorage()
    out = str(tmp_path / "sidecar")
    df = spark.range(4_000).select(
        "id",
        ((F.col("id") * 2654435761) % 1000003).alias("v"),
        ((F.col("id") * 40503) % 997).cast("string").alias("tag"),
    )
    m = mf.write_checkpointed(df, out, num_partitions=8, bloom_cols=["v", "tag"])
    # stats carry a ref, never the bitmap; manifest JSON stays O(bounds)
    root_text = store.get_text(out, mf.MANIFEST_NAME)
    assert ".bloom." in root_text and '"b":' not in root_text
    for meta in m["partitions"].values():
        bl = meta["stats"]["v"]["bloom"]
        assert "ref" in bl and "b" not in bl
        assert store.exists(out, bl["ref"])
    # pruning still works through the sidecar fetch
    probe = (1234 * 2654435761) % 1000003
    got, rep = mf.scan(spark, out, [("v", "=", probe)])
    assert rep["files_read"] < rep["files_total"]
    assert [r["id"] for r in got.collect()] == [1234]
    # type-mismatched probe: int against the string column never prunes
    present_tag = str((1234 * 40503) % 997)
    _, rep_mm = mf.scan(spark, out, [("tag", "=", int(present_tag))])
    assert rep_mm["files_read"] == rep_mm["files_total"]
    got_tag, _ = mf.scan(spark, out, [("tag", "=", present_tag)])
    assert 1234 in [r["id"] for r in got_tag.collect()]
    # overwrite -> vacuum: expired part files take their bloom blobs along
    mf.write_checkpointed(
        spark.range(10).select("id", F.col("id").alias("v"), F.lit("x").alias("tag")),
        out, num_partitions=2,
    )
    mf.vacuum(out, keep_last=1, grace_seconds=0)
    leftover = [k for k in store.list(out, "part-") if ".bloom." in k]
    live_parts = {
        mf._part_key(p["path"])
        for p in mf.load_manifest(out)["partitions"].values()
    }
    assert all(k.split(".bloom.")[0] in live_parts for k in leftover)


def test_bucketed_colocated_join_no_shuffle(spark):
    """write_bucketed + colocated_join: the executed plan joins with ZERO
    hash exchanges; the same merge-hinted join over plain (non-bucketed)
    frames DOES shuffle (the hint pins SMJ — broadcast never enters), so
    the guard genuinely discriminates layouts (and raises on the bad
    one)."""
    import pandas as pd

    from jpspark.ops import bucketing

    left = spark.createDataFrame(
        pd.DataFrame({"k": range(200), "a": [i * 2 for i in range(200)]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": [i % 50 for i in range(400)], "b": range(400)})
    )
    bucketing.write_bucketed(left, "t_bkt_left", "k", 4)
    bucketing.write_bucketed(right, "t_bkt_right", "k", 4)
    j = bucketing.colocated_join(spark, "t_bkt_left", "t_bkt_right", "k")
    assert j.count() == 400  # every right row matches exactly one left key
    # agg on the bucket key stays exchange-free too
    agg = j.groupBy("k").count()
    bucketing.assert_colocated_plan(agg)

    # negative control: plain frames shuffle (merge hint, no broadcast)
    plain = left.hint("merge").join(right, "k")
    with pytest.raises(AssertionError, match="still shuffles"):
        bucketing.assert_colocated_plan(plain)
    spark.sql("DROP TABLE IF EXISTS t_bkt_left")
    spark.sql("DROP TABLE IF EXISTS t_bkt_right")


def test_snapshot_diff_classifies_ops(spark, tmp_path):
    """snapshot_diff: insert/delete/update classified per key, unchanged
    rows dropped, NULL-safe value compare, schema-evolution column shows
    up as an update."""
    import pandas as pd
    from pyspark.sql import functions as F

    from jpspark import manifest as mf

    out = str(tmp_path / "t")
    base = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2, 3, 4], "v": [10.0, None, 30.0, 40.0]})
    )
    mf.write_checkpointed(base, out, num_partitions=2)
    mf.delete_where(spark, out, [("id", "=", 1)])
    mf.update_where(spark, out, [("id", "=", 3)], {"v": F.lit(99.0)})
    mf.write_checkpointed(
        spark.createDataFrame(pd.DataFrame({"id": [5], "v": [50.0]})),
        out, num_partitions=1, mode="append",
    )
    rows = {r.id: r for r in mf.snapshot_diff(spark, out, 1, key_cols=("id",)).collect()}
    assert set(rows) == {1, 3, 5}  # id=2 (NULL==NULL) and id=4 unchanged
    assert rows[1].op == "delete" and rows[1].old_v == 10.0 and rows[1].new_v is None
    assert rows[3].op == "update" and (rows[3].old_v, rows[3].new_v) == (30.0, 99.0)
    assert rows[5].op == "insert" and rows[5].new_v == 50.0
    # missing key column raises
    import pytest as _pytest

    with _pytest.raises(ValueError, match="key column"):
        mf.snapshot_diff(spark, out, 1, key_cols=("nope",))
    # schema evolution: overwrite with an extra column -> every surviving
    # key reads as an update (old_w is a TYPED null, so the diff frame
    # can be persisted — an untyped VOID column would break parquet)
    evolved = spark.createDataFrame(
        pd.DataFrame({"id": [2, 4], "v": [None, 40.0], "w": [7.0, 8.0]})
    )
    mf.write_checkpointed(evolved, out, num_partitions=1)
    d2 = mf.snapshot_diff(spark, out, 1, key_cols=("id",))
    assert dict(d2.dtypes)["old_w"] == "double"
    rows2 = {r.id: r for r in d2.collect()}
    assert rows2[2].op == "update" and rows2[2].old_w is None and rows2[2].new_w == 7.0
    assert rows2[4].op == "update" and rows2[4].new_w == 8.0
    assert rows2[1].op == "delete" and rows2[3].op == "delete"
    d2.write.mode("overwrite").parquet(str(tmp_path / "cdc_out"))  # persistable
