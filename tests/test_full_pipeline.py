"""End-to-end pipeline integration: the reference's whole lifecycle
(SURVEY §3.1) through our engine in one test —

  archives (nested ZIPs) -> distributed extraction (S3/S4) -> per-source
  decode + field mapping + union (F2/P6/S6) -> checkpointed load with
  manifest (S8/P10) -> catalog upsert (S11/J2) -> PIP spatial join of the
  image payload table against the loaded polygons (J4) -> dissolve (A3)
  -> per-municipality metrics (A1/A4) -> idempotent re-run skips all
  partitions.
"""

from __future__ import annotations

import io
import json
import zipfile

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from jpspark import catalog as cat
from jpspark import fixtures as fx
from jpspark import manifest as mf
from jpspark.ops import dissolve as dis
from jpspark.ops import ingest, mapping, spatial_join, union
from jpspark.ops.mapping import multi_output_mappings, select_version


def test_select_version_chain():
    vs = [
        {"start_year": 2000, "end_year": 2005, "most_recent": False},
        {"start_year": 2006, "end_year": 2010, "most_recent": True},
        {"start_year": 2011, "end_year": 2020, "most_recent": False},
    ]
    assert select_version(vs, 2008)["start_year"] == 2006
    assert select_version(vs, 1999)["most_recent"] is True  # fallback: most_recent
    assert select_version([{"start_year": None, "end_year": None}], 2020) == {
        "start_year": None, "end_year": None,
    }  # fallback: first
    assert select_version([], 2020) is None


def test_multi_output_mappings_n03_style():
    base = mapping.ShapefileMapping("N03", ["N03-YY_PP.shp"])
    outs = multi_output_mappings(
        base,
        {
            "city": [("都道府県名", "N03_001"), ("市区町村名", "N03_004"), ("全国地方公共団体コード", "N03_007")],
            "prefecture": [("都道府県名", "N03_001")],
        },
    )
    assert [o.identifier for o in outs] == ["n03_city", "n03_prefecture"]
    assert outs[0].shapefile_name_templates == ["N03-YY_PP.shp"]
    assert len(outs[1].field_mappings) == 1


def test_full_pipeline_end_to_end(spark, tmp_path):
    polys = fx.admin_polygons(20)
    # --- source archives: per-"prefecture" CSV-ish payloads under coded
    # attribute names, cp932-encoded, inside nested zips
    src_dir = tmp_path / "zips"
    src_dir.mkdir()
    n_src = 4
    per_src = [polys.iloc[ix] for ix in np.array_split(np.arange(len(polys)), n_src)]
    for i, chunk in enumerate(per_src):
        payload = json.dumps(
            {
                "N03_001": chunk["都道府県名"].tolist(),
                "N03_004": chunk["市区町村名"].tolist(),
                "N03_007": chunk["全国地方公共団体コード"].tolist(),
                "geom_hex": [bytes(g).hex() for g in chunk["geom"]],
            },
            ensure_ascii=False,
        ).encode("cp932")
        inner = io.BytesIO()
        with zipfile.ZipFile(inner, "w") as zf:
            zf.writestr(f"N03-23_{i:02d}.shp", payload)
            zf.writestr("junk.txt", b"skip me")
        outer = io.BytesIO()
        with zipfile.ZipFile(outer, "w") as zf:
            zf.writestr("data.zip", inner.getvalue())
        (src_dir / f"pref{i}.zip").write_bytes(outer.getvalue())

    # --- distributed extraction with matcher + fallback
    m = mapping.ShapefileMapping(
        "n03",
        ["N03-YY_PP.shp"],
        field_mappings=[
            ("都道府県名", "N03_001"),
            ("市区町村名", "N03_004"),
            ("全国地方公共団体コード", "N03_007"),
        ],
    )
    members = ingest.extract_archives(ingest.read_archives(spark, str(src_dir / "*.zip")), m)
    rows = members.collect()
    assert len(rows) == n_src

    # --- per-source decode (cp932 try-chain) + mapping + union
    sources = []
    for r in rows:
        data = json.loads(bytes(r["content"]).decode(
            union.detect_encoding([bytes(r["content"])])
        ))
        pdf = pd.DataFrame(
            {
                "N03_001": data["N03_001"],
                "N03_004": data["N03_004"],
                "N03_007": data["N03_007"],
                "geom": [bytes.fromhex(h) for h in data["geom_hex"]],
            }
        )
        mapped = mapping.apply_field_mapping(spark.createDataFrame(pdf), m)
        geoms = spark.createDataFrame(pdf[["N03_007", "geom"]]).withColumnRenamed(
            "N03_007", "全国地方公共団体コード"
        )
        sources.append(mapped.join(geoms, "全国地方公共団体コード"))
    layer = union.union_by_name(sources)
    assert layer.count() == len(polys)

    # --- checkpointed load + catalog
    out_dir = str(tmp_path / "n03_city")
    man = mf.write_checkpointed(layer, out_dir, lineage="zip->decode->map->union", num_partitions=4)
    assert man["total_rows"] == len(polys)
    c = cat.Catalog(str(tmp_path / "catalog"))
    meta = cat.build_metadata_from_df(
        layer,
        "n03_city",
        "行政区域（市区町村）",
        # FK rule triggers on 行政区域コード in the attribute description
        # (metadata.rs:42-47) — supplied by the API metadata, as in the ref
        attribute_meta={"全国地方公共団体コード": {"desc": "行政区域コード（JIS X 0402）"}},
    )
    c.upsert(meta)
    assert c.table_exists("n03_city")
    fk_cols = [col for col in c.get("n03_city")["columns"] if col["foreign_key"]]
    assert fk_cols and fk_cols[0]["name"] == "全国地方公共団体コード"

    # --- consumption: PIP join the image payload table against the loaded
    # layer, per-municipality counts, dissolve to prefecture level
    loaded = spark.read.parquet(f"{out_dir}/part-*.parquet").toPandas()
    images = fx.images(400, polys)
    pts = spark.createDataFrame(images[["image_id", "lon", "lat"]])
    assigned = spatial_join.pip_join_broadcast(pts, loaded, "全国地方公共団体コード", out_col="muni")
    counts = assigned.groupBy("muni").count()
    assert counts.agg(F.sum("count")).collect()[0][0] == 400
    oracle = fx.pip_assign_oracle(images["lon"].to_numpy(), images["lat"].to_numpy(), polys)
    exp = pd.Series(oracle).value_counts()
    got = {r["muni"]: r["count"] for r in counts.collect()}
    assert got == exp.to_dict()

    dissolved = dis.dissolve(
        spark.createDataFrame(loaded[["都道府県名", "geom"]]), ["都道府県名"]
    )
    lon0, lat0, lon1, lat1 = fx.BBOX
    assert dissolved.agg(F.sum("area")).collect()[0][0] == pytest.approx(
        (lon1 - lon0) * (lat1 - lat0), rel=1e-9
    )

    # --- idempotent re-run: everything skipped
    man2 = mf.write_checkpointed(layer, out_dir, lineage="zip->decode->map->union", num_partitions=4)
    assert all(p["skipped_on_last_run"] for p in man2["partitions"].values())
