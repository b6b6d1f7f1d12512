"""Seeded input generation for the benchmark workloads.

The library's fixtures are pinned to seed 42, so every bit of per-run
variation is derived here from the benchmark's ``--seed``: which
ingest archives ship a ``.cpg`` sidecar, the hash multipliers that
place the query points and which caption clusters are edit chains. The seed never changes an input size.
Everything the program under test receives is built here, before any
pass runs, and so are the expected answers the passes are checked
against.
"""

from __future__ import annotations

import io
import os
import random
import zipfile
import zlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

from jpspark import fixtures as fx
from jpspark.codec import shp
from jpspark.geom import wkb

CODE, PREF, CITY = "全国地方公共団体コード", "都道府県名", "市区町村名"

# ---------------------------------------------------------------- ingest_load

# 4,700 municipalities (100 per prefecture) with 1,025-vertex rings:
# ~103 MB of shapefile geometry spread over 47 per-prefecture archives.
N03_MUNIS = 4700
N03_SUBDIV = 256
CPG_EVERY = 3  # one archive in three (seed-chosen) ships a .cpg sidecar


def _reversed_rings(geom: bytes) -> bytes:
    """The fixture geometry as a shapefile stores it: outer rings clockwise."""
    polys = wkb.parse_multipolygon(geom)
    return wkb.encode_multipolygon([[np.asarray(r)[::-1] for r in p] for p in polys])


def row_checksum(code: str, pref: str, city: str, geom: bytes) -> int:
    """CRC-32 of one table row; the table checksum is the sum over rows."""
    return zlib.crc32(b"|".join([code.encode(), pref.encode(), city.encode(), geom]))


@dataclass
class IngestInputs:
    glob: str
    input_bytes: int
    n_features: int
    expected_checksum: int  # of the loaded table


def n03_archives(dest: str, seed: int, scale: float = 1.0) -> IngestInputs:
    """Write per-prefecture N03-style archives under ``dest``.

    Each archive nests a zip holding ``N03-23_PP.shp/.dbf`` (cp932 .dbf)
    plus a README; a seed-chosen third of the prefectures also ship a
    ``.cpg`` sidecar, the rest leave the encoding to detection. ``scale``
    keeps that share of the prefectures (the work-dominance check runs
    at 0.5)."""
    polys = fx.admin_polygons(N03_MUNIS, subdiv=N03_SUBDIV)
    n_prefs = max(1, round(len(fx.PREFS) * scale))
    keep = polys[polys[PREF].isin(fx.PREFS[:n_prefs])].reset_index(drop=True)
    with_cpg = set(random.Random(seed).sample(range(1, n_prefs + 1), n_prefs // CPG_EVERY))
    os.makedirs(dest, exist_ok=True)
    total = 0
    for p, pref in enumerate(fx.PREFS[:n_prefs], start=1):
        rows = keep[keep[PREF] == pref]
        stem = f"N03-23_{p:02d}"
        attrs = pd.DataFrame(
            {"N03_001": rows[PREF].tolist(), "N03_004": rows[CITY].tolist(),
             "N03_007": rows[CODE].tolist()}
        )
        inner = io.BytesIO()
        with zipfile.ZipFile(inner, "w", zipfile.ZIP_STORED) as zf:
            zf.writestr(f"{stem}.shp", shp.write_shp([bytes(g) for g in rows["geom"]]))
            zf.writestr(f"{stem}.dbf", shp.write_dbf(attrs, encoding="cp932"))
            if p in with_cpg:
                zf.writestr(f"{stem}.cpg", b"CP932")
            zf.writestr("KS-META-N03.xml", b"<meta/>")
        outer = io.BytesIO()
        with zipfile.ZipFile(outer, "w", zipfile.ZIP_STORED) as zf:
            zf.writestr(f"{stem}_GML.zip", inner.getvalue())
            zf.writestr("README.txt", "国土数値情報 行政区域データ".encode("cp932"))
        data = outer.getvalue()
        with open(os.path.join(dest, f"{stem}_GML.zip"), "wb") as f:
            f.write(data)
        total += len(data)

    checksum = sum(
        row_checksum(c, p, n, _reversed_rings(bytes(g)))
        for c, p, n, g in zip(keep[CODE], keep[PREF], keep[CITY], keep["geom"])
    )
    return IngestInputs(
        glob=os.path.join(dest, "*.zip"),
        input_bytes=total,
        n_features=len(keep),
        expected_checksum=checksum,
    )


# -------------------------------------------------------------- spatial_query

N_POINTS = 2_000_000
HOT_FRAC_OF_5 = 2  # rows with (hash % 5) < 2 land in the hot cell: 40%
_U_MOD = 1_000_003  # prime, so multiplier * id spreads over every residue


@dataclass
class PointHashes:
    """Seed-chosen odd multipliers of the point-placement hashes."""

    lon: int
    lat: int
    hot: int
    phash: int

    @classmethod
    def from_seed(cls, seed: int) -> "PointHashes":
        rng = random.Random(seed * 7919 + 1)

        def mult() -> int:
            while True:
                m = rng.randrange(1 << 30, 1 << 31) | 1
                if m % _U_MOD and m % 5:
                    return m

        return cls(mult(), mult(), mult(), mult())


def hot_box(polys: pd.DataFrame) -> tuple[float, float, float, float]:
    """The ``fixtures._skewed_points`` hot box: the inscribed box of
    municipality 0's first atom, as (cx, cy, rx, ry)."""
    ext = wkb.parse_multipolygon(polys.iloc[0]["geom"])[0][0]
    cx, cy = ext[:-1, 0].mean(), ext[:-1, 1].mean()
    rx = (ext[:-1, 0].max() - ext[:-1, 0].min()) * 0.18
    ry = (ext[:-1, 1].max() - ext[:-1, 1].min()) * 0.18
    return float(cx), float(cy), float(rx), float(ry)


def points_frame(spark, n: int, hashes: PointHashes, box, partitions: int):
    """(point_id, lon, lat, phash): the image-point table, generated in the
    JVM so setup stays short. 40% of rows fall in the hot box, the rest
    uniformly over the Japan bbox."""
    from pyspark.sql import functions as F

    lon0, lat0, lon1, lat1 = fx.BBOX
    cx, cy, rx, ry = box
    pid = F.col("id")

    def unit(mult: int):
        return ((pid * F.lit(mult)) % F.lit(_U_MOD)).cast("double") / F.lit(float(_U_MOD))

    ux, uy = unit(hashes.lon), unit(hashes.lat)
    hot = ((pid * F.lit(hashes.hot)) % F.lit(5)) < F.lit(HOT_FRAC_OF_5)
    lon = F.when(hot, F.lit(cx - rx) + ux * F.lit(2 * rx)).otherwise(F.lit(lon0) + ux * F.lit(lon1 - lon0))
    lat = F.when(hot, F.lit(cy - ry) + uy * F.lit(2 * ry)).otherwise(F.lit(lat0) + uy * F.lit(lat1 - lat0))
    return spark.range(0, n, numPartitions=partitions).select(
        pid.alias("point_id"), lon.alias("lon"), lat.alias("lat"),
        (pid * F.lit(hashes.phash)).alias("phash"),
    )


# ------------------------------------------------------- caption curation

# The sf0.1 documents table holds 5,000 word-salad documents; the test
# data is not part of a checkout, so base documents of the same shape
# are generated here from a fixed seed.
N_BASE_DOCS = 5000
BASE_WORDS = (60, 90)  # long enough that one edit keeps 3-gram Jaccard >= 0.9
STAR_SIZE = 4  # a base document and three replicas
CHAIN_LEN = 8  # documents in an edit chain
CHAIN_SHARE = 0.25  # seed-chosen share of clusters that are edit chains
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()


@dataclass
class CaptionCorpus:
    docs: pd.DataFrame  # (doc_id, text)
    n_clusters: int
    n_chains: int
    keep_id_sum: int  # sum of each cluster's smallest doc id: the keep-set


def _edit(words: list[str], rng: random.Random) -> list[str]:
    """One word replaced by a different vocabulary word."""
    out = list(words)
    i = rng.randrange(len(out))
    out[i] = rng.choice([w for w in VOCAB if w != out[i]])
    return out


def caption_corpus(seed: int, scale: float = 1.0) -> CaptionCorpus:
    """Amplify the base documents into near-duplicate clusters: stars of
    ``STAR_SIZE`` (a base document and replicas that are exact copies or
    one edit away from it) and, for a seed-chosen share, edit chains of
    ``CHAIN_LEN`` (each document one edit from the previous one), which
    take connected components more than two rounds. Doc ids are a seeded
    permutation, so cluster members are spread over the id space."""
    base_rng = random.Random(42)
    n_base = max(1, round(N_BASE_DOCS * scale))
    bases = [
        [base_rng.choice(VOCAB) for _ in range(base_rng.randint(*BASE_WORDS))]
        for _ in range(n_base)
    ]
    rng = random.Random(seed * 104_729 + 3)
    chains = set(rng.sample(range(n_base), round(n_base * CHAIN_SHARE)))
    texts: list[str] = []
    cluster_of: list[int] = []
    for c, words in enumerate(bases):
        members = [words]
        if c in chains:
            for _ in range(CHAIN_LEN - 1):
                members.append(_edit(members[-1], rng))
        else:
            for j in range(1, STAR_SIZE):
                members.append(list(words) if j % 2 else _edit(words, rng))
        texts += [" ".join(m) for m in members]
        cluster_of += [c] * len(members)
    ids = list(range(len(texts)))
    rng.shuffle(ids)
    keep: dict[int, int] = {}
    for doc_id, c in zip(ids, cluster_of):
        keep[c] = min(keep.get(c, doc_id), doc_id)
    docs = pd.DataFrame({"doc_id": ids, "text": texts}).sort_values("doc_id", ignore_index=True)
    return CaptionCorpus(docs, n_base, len(chains), sum(keep.values()))
