"""The workloads: one pass each, built only from jpspark's public
functions, plus the checks every pass's outputs must pass.

``run_pass`` does the timed work and returns a ``verify`` callable; the
harness calls it after the pass clock stops, so checking costs no pass
time. Every pass writes under its own fresh directory, which the harness
deletes after ``verify``. Writes go through ``manifest.LocalStorage``,
which does not fsync: committed bytes land in the page cache, on both
sides of any comparison.

Each span name is ``<module>.<step>``; the traced run reports the spans'
self times and counters under those names (see ``run.py``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from jpspark import catalog, manifest
from jpspark import fixtures as fx
from jpspark.ops import dedup, dissolve, export, ingest, knn, mapping, spatial_join, tiles, union

from . import inputs
from .inputs import CITY, CODE, PREF


def committed_bytes(table: str) -> int:
    """Bytes of the part files the table's live snapshot references."""
    return sum(int(p["bytes"]) for p in manifest.load_manifest(table)["partitions"].values())


@dataclass
class PassResult:
    rows: int
    stored_bytes: int
    checks: dict[str, bool] = field(default_factory=dict)

    @property
    def failed_checks(self) -> list[str]:
        return [k for k, ok in self.checks.items() if not ok]


class Workload:
    name = ""
    warmup_passes = 1  # discarded passes at the end of set-up, the cold one first
    min_passes = 1  # timed passes a run makes even when --seconds is up

    def __init__(self, spark, work: str, seed: int, scale: float, cores: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.cores = cores
        self.input_bytes = 1

    def setup(self) -> None:
        raise NotImplementedError

    def run_pass(self, t, out: str):
        """Run one pass under ``out`` and return its ``verify`` callable."""
        raise NotImplementedError


# ---------------------------------------------------------------- ingest_load

# the reference's N03 mapping: the table keeps the Japanese column names
N03_MAPPING = mapping.ShapefileMapping(
    "n03_city",
    ["N03-YY_PP.shp"],
    field_mappings=[(PREF, "N03_001"), (CITY, "N03_004"), (CODE, "N03_007"), ("geom", "geom")],
)


def table_checksum(df) -> tuple[int, int]:
    """(rows, sum of per-row CRC-32) — the Spark side of ``inputs.row_checksum``."""
    sep = F.lit(bytearray(b"|"))
    row = F.concat(
        F.encode(F.col(CODE), "UTF-8"), sep, F.encode(F.col(PREF), "UTF-8"), sep,
        F.encode(F.col(CITY), "UTF-8"), sep, F.col("geom"),
    )
    r = df.agg(F.count("*").alias("n"), F.sum(F.crc32(row)).alias("s")).collect()[0]
    return int(r.n), int(r.s or 0)


class IngestLoad(Workload):
    """The write side: archives -> manifest table -> catalog, then a resume."""

    name = "ingest_load"
    # the second pass is still ~1.2x a settled one (JIT)
    warmup_passes = 2
    min_passes = 3

    def setup(self) -> None:
        self.inp = inputs.n03_archives(os.path.join(self.work, "archives"), self.seed, self.scale)
        self.input_bytes = self.inp.input_bytes

    def run_pass(self, t, out: str):
        spark = self.spark
        table = os.path.join(out, "n03_city")
        # one task per core wherever the benchmark picks a partition count:
        # every Python task costs ~0.3 CPU-s of fixed overhead on the
        # 4-vCPU reference VM
        with t.span("ingest.extract") as s:
            s.attrs["input_mb"] = self.input_bytes / 1e6
            archives = ingest.read_archives(spark, self.inp.glob, n_slots=self.cores)
            members = t.boundary(ingest.extract_archives(archives, N03_MAPPING), s, "members")
        with t.span("ingest.scan") as s:
            scanned = t.boundary(ingest.shapefile_scan(members), s, "features")
        with t.span("mapping.map_union") as s:
            # persisted because the load and the resume both write it
            mapped = union.union_mapped_sources([scanned], N03_MAPPING)
            layer = t.boundary(mapped.repartition(self.cores, CODE), s).persist()
        with t.span("manifest.write") as s:
            first = manifest.write_checkpointed(layer, table, lineage="n03 archives")
            s.attrs["bytes_written"] = sum(p["bytes"] for p in first["partitions"].values())
            s.attrs["files_written"] = len(first["partitions"])
        with t.span("catalog.upsert"):
            catalog.Catalog(os.path.join(out, "catalog")).upsert(
                catalog.build_metadata_from_df(
                    layer, "n03_city", "行政区域（市区町村）",
                    attribute_meta={CODE: {"desc": "行政区域コード（JIS X 0402）"}},
                )
            )
        with t.span("manifest.resume") as s:
            resumed = manifest.write_checkpointed(layer, table, lineage="n03 archives")
            parts = resumed["partitions"].values()
            skip_ratio = sum(p["skipped_on_last_run"] for p in parts) / len(parts)
            s.attrs["skip_ratio"] = skip_ratio
        layer.unpersist()

        def verify() -> PassResult:
            rows, checksum = table_checksum(manifest.read_snapshot(spark, table))
            return PassResult(
                rows=int(first["total_rows"]),
                stored_bytes=committed_bytes(table),
                checks={
                    "ingested_rows": first["total_rows"] == self.inp.n_features,
                    "resume_skips_all": skip_ratio == 1.0,
                    "table_rows": rows == self.inp.n_features,
                    "table_checksum": checksum == self.inp.expected_checksum,
                },
            )

        return verify


# ----------------------------------------------------------- caption curation


class CaptionCuration(Workload):
    """Near-duplicate curation of a caption corpus: MinHash signatures,
    LSH candidates, exact verification, connected components, the
    canonical keep-set, appended to a manifest table. Not a timed
    workload (its connected-components rounds cost ~2.5 s each whatever
    the corpus size, which does not fit the run budget); ``ingest_load``
    runs it in its traced runs so the dedup layer has per-layer numbers."""

    name = "caption_curation"

    def setup(self) -> None:
        self.corpus = inputs.caption_corpus(self.seed, self.scale)
        self.docs_dir = os.path.join(self.work, "captions")
        self.spark.createDataFrame(self.corpus.docs).repartition(self.cores).write.parquet(
            self.docs_dir
        )

    def run_pass(self, t, out: str):
        docs = self.spark.read.parquet(self.docs_dir)
        table = os.path.join(out, "curated_captions")
        with t.span("dedup.signatures") as s:
            # persisted, as minhash_lsh_pairs asks: three plan subtrees read it
            sigs = t.boundary(dedup.minhash_signatures(docs), s, "docs").persist()
        with t.span("dedup.lsh") as s:
            cand = t.boundary(
                dedup.minhash_lsh_pairs(sigs, bands=16, rows_per_band=4, min_jaccard_est=0.5),
                s, "candidates",
            )
        with t.span("dedup.verify") as s:
            verified = t.boundary(dedup.ngram_jaccard_pairs(docs, cand, min_jaccard=0.7), s, "verified")
        with t.span("dedup.cc") as s:
            comps = dedup.connected_components(verified).persist()
            n_clusters = comps.select("component").distinct().count()
            s.attrs["rounds"] = dedup.CC_LAST_ROUNDS
            s.attrs["clusters"] = n_clusters
        with t.span("dedup.keep") as s:
            dropped = comps.filter(F.col("node") != F.col("component")).select(
                F.col("node").alias("doc_id")
            )
            curated = t.boundary(docs.join(dropped, "doc_id", "left_anti"), s, "kept")
        with t.span("manifest.append") as s:
            m = manifest.write_checkpointed(curated, table, lineage="curated captions", mode="append")
            s.attrs["bytes_written"] = sum(p["bytes"] for p in m["partitions"].values())
        sigs.unpersist()

        def verify() -> PassResult:
            kept = manifest.read_snapshot(self.spark, table).agg(
                F.count("*").alias("n"), F.sum("doc_id").alias("s")
            ).collect()[0]
            comps.unpersist()
            dedup.release_cc_spills()
            c = self.corpus
            return PassResult(
                rows=len(c.docs),
                stored_bytes=committed_bytes(table),
                checks={
                    "clusters": n_clusters == c.n_clusters,
                    "keep_set_size": int(kept.n) == c.n_clusters == int(m["total_rows"]),
                    "keep_set_ids": int(kept.s or 0) == c.keep_id_sum,
                },
            )

        return verify


# -------------------------------------------------------------- spatial_query

N_MUNIS, MUNI_SUBDIV, N_FACILITIES = 500, 128, 500
CELL_RES = 10  # Morton resolution the points table is clustered by
# the scan_bbox regional query (around Kansai): 63 cover cells at CELL_RES;
# each cover cell becomes one literal of the scan's IN filter
REGION = (134.5, 34.0, 136.5, 35.5)
KNN_EVERY = 4  # every 4th point is a kNN query
PIP_SAMPLE_EVERY, KNN_SAMPLE_EVERY = 4001, 4003


class SpatialQuery(Workload):
    """The read side: manifest reads feeding the spatial kernels."""

    name = "spatial_query"
    min_passes = 3

    def setup(self) -> None:
        spark = self.spark
        self.polys = fx.admin_polygons(N_MUNIS, subdiv=MUNI_SUBDIV)
        self.fac = fx.facilities(N_FACILITIES, self.polys)
        self.n_points = max(1, round(inputs.N_POINTS * self.scale))
        self.muni_dir = os.path.join(self.work, "n03_500")
        manifest.write_checkpointed(
            spark.createDataFrame(self.polys[[CODE, PREF, CITY, "geom"]]), self.muni_dir,
            lineage="n03 500 municipalities",
        )
        hashes = inputs.PointHashes.from_seed(self.seed)
        pts = inputs.points_frame(
            spark, self.n_points, hashes, inputs.hot_box(self.polys), 4 * self.cores
        )
        self.pts_dir = os.path.join(self.work, "points")
        manifest.write_clustered_by_cell(
            pts, self.pts_dir, res=CELL_RES, num_partitions=self.cores, lineage="image points"
        )
        self.input_bytes = self.n_points * 4 * 8
        self.stored_bytes = committed_bytes(self.pts_dir)

        table = manifest.read_snapshot(spark, self.pts_dir)
        x0, y0, x1, y1 = REGION
        r = (
            table.filter((F.col("lon") >= x0) & (F.col("lon") < x1)
                         & (F.col("lat") >= y0) & (F.col("lat") < y1))
            .agg(F.count("*").alias("n"), F.sum("point_id").alias("s"))
            .collect()[0]
        )
        self.region_expected = (int(r.n), int(r.s or 0))
        self.n_queries = (self.n_points + KNN_EVERY - 1) // KNN_EVERY

        step = KNN_EVERY * KNN_SAMPLE_EVERY
        samples = table.filter(
            (F.col("point_id") % PIP_SAMPLE_EVERY == 0) | (F.col("point_id") % step == 0)
        ).toPandas().sort_values("point_id")
        pip_rows = samples[samples["point_id"] % PIP_SAMPLE_EVERY == 0]
        oracle = fx.pip_assign_oracle(pip_rows["lon"].to_numpy(), pip_rows["lat"].to_numpy(), self.polys)
        self.pip_expected = {k: int(v) for k, v in zip(*np.unique(oracle, return_counts=True))}

        q = samples[samples["point_id"] % step == 0]
        self.knn_sample_ids = q["point_id"].tolist()
        # the sampled rows as small frames, so a pass's checks need no
        # full scan of the table
        self.pip_sample = spark.createDataFrame(pip_rows.reset_index(drop=True))
        self.knn_sample = spark.createDataFrame(q.reset_index(drop=True))
        o = fx.knn_oracle(
            q["lon"].to_numpy(), q["lat"].to_numpy(), self.fac["lon"].to_numpy(),
            self.fac["lat"].to_numpy(), self.fac["ogc_fid"].to_numpy(), 5,
        )
        o["query_id"] = np.asarray(self.knn_sample_ids)[o["query_idx"].to_numpy()]
        self.knn_expected = o[["query_id", "rank", "target_id", "dist"]]

    def run_pass(self, t, out: str):
        spark = self.spark
        with t.span("manifest.read") as s:
            pts = t.boundary(manifest.read_snapshot(spark, self.pts_dir), s, "rows")
            polys = manifest.read_snapshot(spark, self.muni_dir).toPandas()
        with t.span("spatial_join.pip"):
            counts = spatial_join.pip_count_broadcast(pts, polys, CODE, out_col="muni").collect()
        with t.span("knn.join"):
            queries = pts.filter(F.col("point_id") % KNN_EVERY == 0)
            n_answered = knn.knn_join_broadcast(
                queries, self.fac, k=5, query_id_col="point_id", res=5, as_arrays=True
            ).count()
        with t.span("tiles.assign_rollup") as s:
            assigned = tiles.tile_assign(pts, z=10)
            n_z10 = assigned.select("tile_x", "tile_y").distinct().count()
            rollup = tiles.tile_rollup(assigned, 6, 10).collect()
            s.attrs["tiles"] = n_z10 + len(rollup)
        with t.span("dissolve.dissolve"):
            prefs = dissolve.dissolve(
                spark.createDataFrame(polys[[PREF, "geom"]]), [PREF]
            ).select(PREF, "area").collect()
        with t.span("manifest.scan_bbox") as s:
            regional, report = manifest.scan_bbox(spark, self.pts_dir, *REGION, res=CELL_RES)
            regional = t.boundary(regional, s, "rows")
            s.attrs["files_read"] = report["files_read"]
            s.attrs["files_pruned_ratio"] = 1 - report["files_read"] / report["files_total"]
        with t.span("export.mvt") as s:
            mvt = (
                export.mvt_tiles_points(regional, z=10, id_col="point_id")
                .agg(F.sum("n_features").alias("nf"), F.count("*").alias("nt"))
                .collect()[0]
            )
            s.attrs["tiles"] = int(mvt.nt)

        def verify() -> PassResult:
            pip_sample = {
                r.muni: int(r.n_points)
                for r in spatial_join.pip_count_broadcast(
                    self.pip_sample, polys, CODE, out_col="muni"
                ).collect()
            }
            knn_got = (
                knn.knn_join_broadcast(self.knn_sample, self.fac, k=5, query_id_col="point_id", res=5)
                .toPandas()
                .sort_values(["query_id", "rank"], ignore_index=True)
            )
            exp = self.knn_expected
            knn_ok = (
                len(knn_got) == len(exp)
                and (knn_got["query_id"].to_numpy() == exp["query_id"].to_numpy()).all()
                and (knn_got["target_id"].to_numpy() == exp["target_id"].to_numpy()).all()
                and np.allclose(knn_got["dist"].to_numpy(), exp["dist"].to_numpy(), rtol=0, atol=1e-9)
            )
            r = regional.agg(F.count("*").alias("n"), F.sum("point_id").alias("s")).collect()[0]
            lon0, lat0, lon1, lat1 = fx.BBOX
            return PassResult(
                rows=self.n_points,
                stored_bytes=self.stored_bytes,
                checks={
                    "pip_counts_sum": sum(int(c.n_points) for c in counts) == self.n_points,
                    "pip_sample_oracle": pip_sample == self.pip_expected,
                    "knn_queries": n_answered == self.n_queries,
                    "knn_sample_oracle": bool(knn_ok),
                    "tiles_rollup_sum": sum(int(x.n_images) for x in rollup) == self.n_points,
                    "dissolve_prefectures": len(prefs) == len(fx.PREFS)
                    and abs(sum(p.area for p in prefs) - (lon1 - lon0) * (lat1 - lat0)) < 1e-6,
                    "scan_bbox_equals_full_scan": (int(r.n), int(r.s or 0)) == self.region_expected,
                    "mvt_features": int(mvt.nf) == self.region_expected[0],
                },
            )

        return verify


WORKLOADS = {w.name: w for w in (IngestLoad, SpatialQuery)}
# pass kinds a workload's traced runs add after its own passes
TRACE_EXTRAS = {"ingest_load": [CaptionCuration]}
