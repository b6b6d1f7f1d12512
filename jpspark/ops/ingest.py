"""Distributed archive ingest — ZIP traversal as a Spark operator (S2/S3).

The reference downloads dataset ZIPs (15 concurrent slots,
/root/reference/src/scraper/download_queue.rs:11) and recursively extracts
shapefile members, including ZIPs nested inside ZIPs
(/root/reference/src/loader/zip_traversal.rs:11-48). Our engine reads
archives with ``spark.read.format("binaryFile")`` and runs the recursive
traversal in a ``mapInPandas`` kernel — one archive per task row, stdlib
``zipfile`` over an in-memory buffer, name-regex filtering and the
known-bad-prefix skip applied inside the kernel (distributed, no driver
bottleneck). Parallelism is the number of archive files, packed into the
binaryFile scan's partitions; the reference's 15-slot queue becomes
``coalesce(n_slots)`` on that scan. ``shapefile_scan`` then pairs and
parses each layer in the partition that extracted it, as the reference
loads each archive's layers where it extracted them, so the archive and
member bytes cross no shuffle from the scan to the parsed features.
"""

from __future__ import annotations

import io
import re
import zipfile
from typing import Iterator

import pandas as pd
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .mapping import CATCH_ALL, ShapefileMapping, template_to_regex

KNOWN_BAD_PREFIX = "N08-21_GML/utf8/"  # zip_traversal.rs:38-41


def extract_zip_bytes(
    buf: bytes, matchers: list[re.Pattern], _prefix: str = ""
) -> list[tuple[str, bytes]]:
    """Recursive extraction (zip_traversal.rs:11-48): returns
    (normalized entry path, content bytes) for entries matching any
    matcher; nested .zip entries are recursed into with their path as
    prefix. Backslashes normalized (rs:25); known-bad prefix skipped."""
    out: list[tuple[str, bytes]] = []
    with zipfile.ZipFile(io.BytesIO(buf)) as zf:
        for info in zf.infolist():
            if info.is_dir():
                continue
            name = info.filename.replace("\\", "/")
            full = f"{_prefix}{name}"
            if full.startswith(KNOWN_BAD_PREFIX) or f"/{KNOWN_BAD_PREFIX}" in f"/{full}":
                continue
            if name.lower().endswith(".zip"):
                out.extend(extract_zip_bytes(zf.read(info), matchers, _prefix=f"{full}/"))
            elif any(m.search(full) for m in matchers):
                out.append((full, zf.read(info)))
    return out


def extract_archives(
    archives: DataFrame,
    mapping: ShapefileMapping,
    path_col: str = "path",
    content_col: str = "content",
) -> DataFrame:
    """Distributed S3+S4: extract matching members from each archive row.
    Two-pass fallback widening (zip_traversal.rs:84-96) happens per archive
    inside the kernel: strict matchers first, catch-all if none hit."""
    strict = [re.compile(template_to_regex(t)) for t in mapping.shapefile_name_templates]
    loose = [re.compile(CATCH_ALL)]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf[path_col].to_numpy(), pdf[content_col].to_numpy()):
                members = extract_zip_bytes(bytes(content), strict)
                if not members:
                    members = extract_zip_bytes(bytes(content), loose)
                for entry, data in members:
                    rows.append((path, entry, data, len(data)))
            yield pd.DataFrame(
                rows, columns=["archive", "entry", "content", "size"]
            ) if rows else pd.DataFrame(
                {"archive": pd.Series(dtype=object), "entry": pd.Series(dtype=object),
                 "content": pd.Series(dtype=object), "size": pd.Series(dtype="int64")}
            )

    return archives.select(path_col, content_col).mapInPandas(
        kernel, "archive string, entry string, content binary, size long"
    )


def _member_ext():
    """Lower-cased file extension of a member's ``entry`` path (``""`` if
    none)."""
    return F.lower(F.regexp_extract(F.col("entry"), r"\.([A-Za-z0-9]+)$", 1))


def shapefile_scan(
    extracted: DataFrame, encoding: str | None = None
) -> DataFrame:
    """S5: distributed shapefile source with schema inference — the
    engine-native replacement for the reference's ``ogrinfo``/``ogr2ogr``
    shell-outs (/root/reference/src/loader/gdal.rs:169-212).

    Schema comes from the field descriptors of the first ``.dbf`` member
    of ``extracted`` (a ``limit(1)`` probe of the members, so it runs as
    one task over one archive partition; types are declared in the
    descriptor, not sniffed from data): C/D->string, N(dec=0)->long,
    N(dec>0)/F->double, L->boolean. Every layer must match that schema,
    so whichever ``.dbf`` the probe read, the result is the same and a
    layer with another field set raises. A layer missing its ``.dbf`` or
    ``.shp`` raises too, naming the stem.

    A layer is the ``.shp``/``.dbf``/``.cpg`` members of one (archive,
    stem), paired inside each partition with no exchange:
    :func:`extract_archives` emits all of an archive's members from one
    task. A frame repartitioned in between can split a layer, and every
    split leaves some part of it without its ``.dbf`` or ``.shp``, so
    such a scan raises. Each layer is parsed in the same mapInPandas
    kernel (codec/shp.py, no native deps): .dbf attributes + .shp
    geometries paired by record order, geometry promoted to MULTI (F9
    parity with ``-nlt PROMOTE_TO_MULTI``).
    Character encoding: explicit arg > .cpg sidecar > CP932-first detect
    chain (gdal.rs:337-356 parity).

    Output: (source stem, fid, <dbf columns>, geom WKB binary).
    """
    from ..codec import shp as shp_codec
    from ..geom import wkb

    probe = extracted.filter(_member_ext() == "dbf").select("content").limit(1).collect()
    if not probe:
        raise ValueError("shapefile_scan: no .dbf members in input")
    fields = shp_codec.parse_dbf_fields(bytes(probe[0]["content"]))
    # (name, dbf type, decimal count) signature every layer must match
    expected_fields = [(n, t, d) for n, t, _l, d in fields]
    attr_fields = []
    for name, ftype, _flen, fdec in fields:
        if ftype in ("N", "F"):
            t = T.DoubleType() if (ftype == "F" or fdec > 0) else T.LongType()
        elif ftype == "L":
            t = T.BooleanType()
        else:
            t = T.StringType()
        attr_fields.append(T.StructField(name, t))
    out_schema = T.StructType(
        [
            T.StructField("source", T.StringType()),
            T.StructField("fid", T.LongType()),
            *attr_fields,
            T.StructField("geom", T.BinaryType()),
        ]
    )
    out_cols = [f.name for f in out_schema.fields]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # the whole partition: a layer's members may span Arrow batches;
        # each layer is yielded as its own batch, so the worker holds the
        # features of one layer at a time
        pdfs = list(batches)
        if pdfs:
            layers = pd.concat(pdfs).groupby(["archive", "stem"], sort=False)
            for (_archive, stem), layer in layers:
                f = dict(zip(layer["ext"], layer["content"]))
                for ext in ("dbf", "shp"):
                    if ext not in f:
                        raise ValueError(f"shapefile_scan: layer {stem} has no .{ext} member")
                enc = encoding
                if enc is None and f.get("cpg"):
                    enc = bytes(f["cpg"]).decode("ascii", "replace").strip().lower() or None
                # every layer must match the probed schema exactly — a layer
                # with a different field set would otherwise be silently
                # reindexed (extra columns dropped, missing ones nulled)
                # instead of erroring (mirrors the .shp/.dbf record-count
                # check below); which .dbf the probe read does not matter
                layer_fields = [
                    (n, t, d) for n, t, _l, d in shp_codec.parse_dbf_fields(bytes(f["dbf"]))
                ]
                if layer_fields != expected_fields:
                    raise ValueError(
                        f"{stem}: .dbf schema {layer_fields} does not match the "
                        f"probed schema {expected_fields} — layers of "
                        "one scan must share a field set (split the scan, or map "
                        "schemas per layer before union)"
                    )
                attrs = shp_codec.parse_dbf(bytes(f["dbf"]), encoding=enc)
                geoms = shp_codec.parse_shp(bytes(f["shp"]))
                if len(attrs) != len(geoms):
                    raise ValueError(
                        f"{stem}: .dbf has {len(attrs)} records but .shp has {len(geoms)}"
                    )
                gdf = pd.DataFrame(
                    {
                        "fid": [int(r) for r, _ in geoms],
                        "geom": [wkb.promote_to_multi(b) if b is not None else None
                                 for _, b in geoms],
                    }
                )
                rec = pd.concat([attrs.reset_index(drop=True), gdf], axis=1)
                rec.insert(0, "source", stem)
                yield rec.reindex(columns=out_cols)

    members = (
        extracted.withColumn("ext", _member_ext())
        .filter(F.col("ext").isin("shp", "dbf", "cpg"))
        .select("archive", F.expr("substring(entry, 1, length(entry) - length(ext) - 1)")
                .alias("stem"), "ext", "content")
    )
    return members.mapInPandas(kernel, out_schema)


def crosswalk_from_xlsx(spark: SparkSession, buf: bytes) -> DataFrame:
    """S7: crosswalk scan from actual AdminiBoundary_CD.xlsx bytes — the
    engine-native replacement for the reference's calamine parse
    (/root/reference/src/loader/admini_boundary.rs:26-63): sheet
    行政区域コード, header-sentinel scan start (P9), NFKC (F1),
    empty->NULL + all-NULL-row drop (P8), then first-wins dedup on the
    code — ON CONFLICT DO NOTHING parity (S10, admini_boundary.rs:97-99).
    Parse is driver-side (the file is tiny, per SURVEY §2.1); the
    returned DataFrame is the distributed surface."""
    from ..catalog import CROSSWALK_COLUMNS
    from ..codec import xlsx as xlsx_codec

    rows = xlsx_codec.crosswalk_rows(buf)
    pdf = pd.DataFrame(rows, columns=CROSSWALK_COLUMNS)
    # ON CONFLICT (行政区域コード) DO NOTHING == first row in file order
    # wins; sequential-insert parity requires the file-order dedup here,
    # before the rows reach any distributed (unordered) stage
    pdf = pdf.drop_duplicates(subset=[CROSSWALK_COLUMNS[0]], keep="first")
    # Explicit all-varchar schema: the reference declares every crosswalk
    # column as varchar (/root/reference/data/schema.sql:3-15), and an
    # all-None object column (政令市・郡・支庁… is empty in many files)
    # breaks plain type inference under a non-Arrow createDataFrame path.
    schema = T.StructType(
        [T.StructField(c, T.StringType()) for c in CROSSWALK_COLUMNS]
    )
    return spark.createDataFrame(pdf, schema=schema)


# the characters that make Spark expand a load path as a Hadoop glob
_GLOB_CHARS = frozenset("{}[]*?\\")


def _glob_as_filter(spark: SparkSession, glob_path: str) -> tuple[str, str] | None:
    """``(parent, last component)`` when ``glob_path`` can be loaded as its
    parent directory with ``pathGlobFilter`` = last component and give the
    same files: the wildcard is only in the last component, and one
    driver-side ``listStatus`` of the parent finds no subdirectory (a
    directory load would descend into it) and at least one matching file
    (an empty glob keeps Spark's own error). ``None`` otherwise."""
    parent, _, last = glob_path.rpartition("/")
    if not parent or _GLOB_CHARS.isdisjoint(last) or not _GLOB_CHARS.isdisjoint(parent):
        return None
    jvm = spark.sparkContext._jvm
    try:
        path = jvm.org.apache.hadoop.fs.Path(parent)
        fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        listed = fs.listStatus(path)
        accept = jvm.org.apache.hadoop.fs.GlobFilter(last).accept
    except Py4JJavaError:  # a missing parent or a bad pattern: Spark's error
        return None
    if any(st.isDirectory() for st in listed) or not any(accept(st.getPath()) for st in listed):
        return None
    return parent, last


def read_archives(spark: SparkSession, glob_path: str, n_slots: int = 15) -> DataFrame:
    """S2 analog: archive manifest scan, ``(path, content)`` per archive.

    ``binaryFile`` packs whole files into about ``defaultParallelism``
    scan partitions (a file is never split); ``coalesce(n_slots)`` caps
    the concurrent archive tasks at the reference's download-slot count
    without a shuffle, so the archive bytes are read once and cross no
    exchange. Past 32 matched paths (``parallelPartitionDiscovery.
    threshold``) Spark lists a glob's matches in a Spark job, one task
    per path; a glob whose wildcard is in the last component only is
    therefore loaded as its parent directory with a ``pathGlobFilter``
    (see :func:`_glob_as_filter`), which the driver lists itself. Any
    other path loads as given."""
    reader = spark.read.format("binaryFile")
    as_filter = _glob_as_filter(spark, glob_path)
    if as_filter is None:
        df = reader.load(glob_path)
    else:
        parent, pattern = as_filter
        df = reader.option("pathGlobFilter", pattern).load(parent)
    return df.select("path", "content").coalesce(n_slots)
