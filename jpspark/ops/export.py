"""File-export sinks (SURVEY S9): GeoParquet-minimal, GeoJSON, FlatGeobuf.

The reference shells ``ogr2ogr -f GeoParquet|GeoJSON|FlatGeobuf``
(/root/reference/src/loader/gdal.rs:143-167) and deletes pre-existing
output first (gdal.rs:144-148 -> mode("overwrite")). Spark-first:

- GeoParquet-minimal: a plain parquet write with the WKB geometry column
  plus the ``geo`` file-level metadata sidecar (version/primary_column/
  crs), which is what "GeoParquet" is at rest. Readers that understand
  full GeoParquet metadata embedding can be layered on; the data layout
  is already columnar WKB.
- GeoJSON: newline-delimited Feature objects (RFC 7946 geometries decoded
  from WKB in an Arrow-batched kernel), one string per row for the text
  sink (``to_geojson_features(df).write.text(path)``).
- FlatGeobuf: single-file Hilbert-ordered export (codec/fgb.py, written
  from the public spec). Inherently a BOUNDED sink — one file, one
  writer — so features are gathered to the driver; the distributed
  sinks above are the 100-TB path, this one closes format parity for
  the bounded exports the reference produces per dataset.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geom import cell as cell_mod
from ..geom import wkb
from ..geom.cell import LAT0, LON0


def write_geoparquet(
    df: DataFrame, path: str, geom_col: str = "geom", srid: int = 6668, mode: str = "overwrite"
) -> None:
    """Overwrite-semantics parquet export + `_geo.json` sidecar carrying
    the geometry metadata the reference records in its catalog
    (geometry column name, type, srid)."""
    df.write.mode(mode).parquet(path)
    sidecar = {
        "version": "jpspark-geoparquet-minimal",
        "primary_column": geom_col,
        "columns": {geom_col: {"encoding": "WKB", "crs": f"EPSG:{srid}"}},
    }
    with open(os.path.join(path, "_geo.json"), "w") as f:
        json.dump(sidecar, f)


def _wkb_to_geojson_geometry(buf: bytes) -> dict:
    gtype, payload = wkb.parse(bytes(buf))
    if gtype == wkb.POINT:
        return {"type": "Point", "coordinates": payload.tolist()}
    if gtype == wkb.MULTIPOINT:
        return {"type": "MultiPoint", "coordinates": payload.tolist()}
    if gtype == wkb.LINESTRING:
        return {"type": "LineString", "coordinates": payload.tolist()}
    if gtype == wkb.MULTILINESTRING:
        return {"type": "MultiLineString", "coordinates": [p.tolist() for p in payload]}
    if gtype == wkb.POLYGON:
        return {"type": "Polygon", "coordinates": [r.tolist() for r in payload]}
    if gtype == wkb.MULTIPOLYGON:
        return {
            "type": "MultiPolygon",
            "coordinates": [[r.tolist() for r in rings] for rings in payload],
        }
    raise ValueError(f"unsupported geometry type {gtype}")


def to_geojson_features(df: DataFrame, geom_col: str = "geom") -> DataFrame:
    """One GeoJSON Feature string per row (distributed kernel); write with
    ``.write.text(path)`` for newline-delimited GeoJSON."""
    props = [c for c in df.columns if c != geom_col]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            geoms = pdf[geom_col].to_numpy()
            prop_cols = [pdf[c].to_numpy() for c in props]
            for i, g in enumerate(geoms):
                feats.append(
                    json.dumps(
                        {
                            "type": "Feature",
                            "geometry": _wkb_to_geojson_geometry(g),
                            "properties": {
                                c: (None if (isinstance(v, float) and np.isnan(v)) else v)
                                for c, v in zip(props, (col[i] for col in prop_cols))
                            },
                        },
                        ensure_ascii=False,
                        default=str,
                    )
                )
            yield pd.DataFrame({"feature": feats})

    return df.mapInPandas(kernel, "feature string")


# ----------------------------------------------------------------- FlatGeobuf

_SPARK_TO_FGB = {
    "boolean": "bool",
    "integer": "int",
    "long": "long",
    "float": "double",
    "double": "double",
    "string": "string",
}


def _wkb_points(buf: bytes) -> np.ndarray:
    gtype, payload = wkb.parse(bytes(buf))
    if gtype == wkb.POINT:
        return np.asarray(payload).reshape(1, 2)
    if gtype in (wkb.MULTIPOINT, wkb.LINESTRING):
        return np.asarray(payload)
    if gtype in (wkb.POLYGON, wkb.MULTILINESTRING):
        return np.vstack(payload)
    if gtype == wkb.MULTIPOLYGON:
        return np.vstack([r for rings in payload for r in rings])
    raise ValueError(f"unsupported geometry type {gtype}")


def write_flatgeobuf(
    df: DataFrame, path: str, geom_col: str = "geom", layer_name: str = "layer",
    srid: int = 6668, max_features: int = 1_000_000,
) -> dict:
    """Single-file FlatGeobuf export (reference format list,
    gdal.rs:143-167). Features are gathered to the driver (single file =
    single writer: a bounded export by design), Hilbert-sorted by bbox
    center (the spatial-streaming order canonical writers produce), and
    written with index_node_size=0 (no R-tree block; readers stream).

    ``max_features`` makes the bounded-by-design contract mechanical
    (round-3 VERDICT item): the row count is checked BEFORE toPandas(),
    so a careless caller gets a clear error instead of a driver OOM.
    Raise the budget explicitly for exports you know fit driver memory.
    Returns {path, features_count}."""
    from ..codec import fgb

    n = df.count()
    if n > max_features:
        raise ValueError(
            f"write_flatgeobuf: {n} features exceed max_features={max_features}; "
            "FlatGeobuf is a single-file driver-side export — filter/sample the "
            "frame, export per-partition parquet/GeoJSON instead, or raise "
            "max_features if the driver really has the memory"
        )
    pdf = df.toPandas()
    ctypes = {
        fgb.CT_BOOL: "bool", fgb.CT_INT: "int", fgb.CT_LONG: "long",
        fgb.CT_DOUBLE: "double", fgb.CT_STRING: "string",
    }
    name_to_ct = {v: k for k, v in ctypes.items()}
    columns: list[tuple[str, int]] = []
    for f in df.schema.fields:
        if f.name == geom_col:
            continue
        t = _SPARK_TO_FGB.get(f.dataType.typeName())
        if t is None:
            raise ValueError(
                f"column {f.name}: type {f.dataType.typeName()} not supported by the "
                "FlatGeobuf sink (drop or cast it first)"
            )
        columns.append((f.name, name_to_ct[t]))

    geoms = pdf[geom_col].to_numpy()
    if len(geoms) == 0:
        raise ValueError("empty DataFrame: FlatGeobuf requires features_count >= 1 here")
    pts = [_wkb_points(g) for g in geoms]
    bboxes = np.array(
        [[p[:, 0].min(), p[:, 1].min(), p[:, 0].max(), p[:, 1].max()] for p in pts]
    )
    order = fgb.hilbert_order(bboxes)
    gtypes = {wkb.parse(bytes(g))[0] for g in geoms}
    geom_type = fgb._WKB_TO_GT[next(iter(gtypes))] if len(gtypes) == 1 else fgb.GT_UNKNOWN
    envelope = [
        float(bboxes[:, 0].min()), float(bboxes[:, 1].min()),
        float(bboxes[:, 2].max()), float(bboxes[:, 3].max()),
    ]
    header = fgb.encode_header(
        layer_name, geom_type, len(pdf), columns, envelope=envelope, srid=srid
    )
    prop_cols = [c for c, _ in columns]
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(fgb.MAGIC)
        f.write(header)
        for i in order:
            row = {c: pdf.iloc[int(i)][c] for c in prop_cols}
            props = fgb.encode_properties(row, columns)
            f.write(fgb.encode_feature(bytes(geoms[int(i)]), props))
    os.replace(tmp, path)  # commit-marker-after-data idiom (downloader.rs:104)
    return {"path": path, "features_count": len(pdf)}


def read_flatgeobuf(path: str) -> dict:
    """Parse a FlatGeobuf file back (round-trip verification reader)."""
    from ..codec import fgb

    with open(path, "rb") as f:
        return fgb.decode_file(f.read())


# ------------------------------------------------------ Mapbox Vector Tiles

def _tile_frame(z: int, tx: int, ty: int, pad_px: int = 0, extent: int = 4096):
    """Tile (z, tx, ty) in degrees: its west edge ``lon0``, its north edge
    ``lat_top`` (MVT y runs down from there) and its box padded by
    ``pad_px`` pixels of ``extent`` — the clip box of the polygon and line
    sinks, as ``(x0, y0, x1, y1)``."""
    sx, sy = cell_mod.cell_size_deg(z)
    lon0 = LON0 + tx * sx
    lat_top = LAT0 + (ty + 1) * sy
    bx, by = pad_px * sx / extent, pad_px * sy / extent
    return lon0, lat_top, (lon0 - bx, lat_top - sy - by, lon0 + sx + bx, lat_top + by)


def _tile_stream(src: DataFrame, z: int, build, schema: str) -> DataFrame:
    """The per-tile execution of every MVT sink: ONE hash exchange on
    (tile_x, tile_y), a sort within each partition on the same key, and
    a ``mapInPandas`` stream that cuts the sorted Arrow batches where the
    key changes. A tile whose rows span several batches is concatenated
    before ``build`` sees it, so kernel memory stays one tile's rows.

    Not a grouped-map pandas UDF: that plan has the same exchange and
    sort, but moves one tiny Arrow batch per tile across the Python
    boundary (thousands of tiles x ~1 ms of per-group conversion at
    z=10); this stream moves full-size batches.

    ``build(pdf, tx, ty)`` returns the tile's result columns after the
    key as a dict; ``schema`` is the full output schema, key first."""
    def build_stream(batches):
        buf: list[pd.DataFrame] = []
        cur = None
        rows: list[dict] = []

        def flush():
            if buf:
                pdf = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
                tx, ty = cur
                rows.append({"tile_z": z, "tile_x": tx, "tile_y": ty, **build(pdf, tx, ty)})
                buf.clear()

        for pdf in batches:
            if not len(pdf):
                continue
            txa = pdf["tile_x"].to_numpy()
            tya = pdf["tile_y"].to_numpy()
            change = np.flatnonzero((txa[1:] != txa[:-1]) | (tya[1:] != tya[:-1])) + 1
            for s, e in zip(np.r_[0, change], np.r_[change, len(pdf)]):
                key = (int(txa[s]), int(tya[s]))
                if key != cur:
                    flush()
                    cur = key
                buf.append(pdf.iloc[int(s):int(e)])
            if len(rows) >= 256:
                yield pd.DataFrame(rows)
                rows.clear()
        flush()
        if rows:
            yield pd.DataFrame(rows)

    return (
        src.repartition("tile_x", "tile_y")
        .sortWithinPartitions("tile_x", "tile_y")
        .mapInPandas(build_stream, schema=schema)
    )


def mvt_tiles_points(
    df: DataFrame,
    z: int,
    *,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str | None = None,
    attr_cols: tuple[str, ...] = (),
    extent: int = 4096,
    layer_name: str = "points",
) -> DataFrame:
    """Distributed vector-tile sink, point features: one MVT 2.1 blob per
    (z, x, y) tile (codec/mvt.py, encoded from the public spec — the
    engine-native replacement for the reference's FlatGeobuf→tippecanoe
    shell-out, NOTES.md:118-133).

    100-TB shape: tile assignment is pure codegen column math, then ONE
    hash exchange on the tile key and every tile serializes independently
    in the shared tile stream (:func:`_tile_stream`) — no driver gather,
    no cross-tile state, so the sink parallelizes to however many tiles
    exist (quadtree keys are uniform; a genuinely hot tile is capped by
    its own point count, and callers shed it by raising ``z``). Contrast
    write_flatgeobuf, which is a bounded single-writer export by design.
    Feature order inside a tile is shuffle-arrival order (consumers
    aggregate after decode).

    Quantization (y DOWN, MVT screen axes): qx = floor((lon-lon0)/sx*extent),
    qy = floor((lat_top-lat)/sy*extent), both clamped to extent-1 — exact
    double arithmetic any SQL engine replays bit-for-bit.

    Returns (tile_z, tile_x, tile_y, n_features, bytes).
    """
    from ..codec import mvt
    from . import tiles as tile_ops

    sx, sy = cell_mod.cell_size_deg(z)
    cols = [lon, lat, *([id_col] if id_col else []), *attr_cols]
    tx, ty = tile_ops.tile_xy_cols(lon, lat, z)
    src = df.select(*cols).withColumn("tile_x", tx).withColumn("tile_y", ty)

    def build(pdf: pd.DataFrame, txv: int, tyv: int) -> dict:
        lon0, lat_top, _ = _tile_frame(z, txv, tyv)
        qx = np.minimum(
            np.floor((pdf[lon].to_numpy(np.float64) - lon0) / sx * extent),
            extent - 1,
        ).astype(np.int64)
        qy = np.minimum(
            np.floor((lat_top - pdf[lat].to_numpy(np.float64)) / sy * extent),
            extent - 1,
        ).astype(np.int64)
        ids = pdf[id_col].to_numpy(np.int64) if id_col else None
        if ids is not None and not attr_cols and (ids >= 0).all():
            # vectorized fast path (codec/mvt.py encode_point_features):
            # all features serialized in one NumPy pass, wire-identical
            # to the scalar path (differential-tested)
            feats_blob = mvt.encode_point_features(qx, qy, ids)
            layer_body = (
                mvt._vi(15, 2)
                + mvt._ld(1, layer_name.encode("utf-8"))
                + feats_blob
                + mvt._vi(5, extent)
            )
            return {"n_features": len(pdf), "bytes": mvt.encode_tile([layer_body])}
        keys = list(attr_cols)
        values: list = []
        vindex: dict = {}
        feats = []
        attr_arrays = [pdf[c].to_numpy() for c in attr_cols]
        for i in range(len(pdf)):
            tags = []
            for ki, arr in enumerate(attr_arrays):
                v = arr[i]
                v = v.item() if isinstance(v, np.generic) else v
                if v not in vindex:
                    vindex[v] = len(values)
                    values.append(v)
                tags += [ki, vindex[v]]
            feats.append(
                mvt.encode_feature(
                    mvt.point_geometry(qx[i : i + 1], qy[i : i + 1]),
                    mvt.POINT,
                    feature_id=int(ids[i]) if ids is not None else None,
                    tags=tags,
                )
            )
        blob = mvt.encode_tile(
            [mvt.encode_layer(layer_name, feats, keys, values, extent=extent)]
        )
        return {"n_features": len(feats), "bytes": blob}

    return _tile_stream(
        src, z, build, "tile_z int, tile_x long, tile_y long, n_features long, bytes binary"
    )


def mvt_tiles_polygons(
    polys: DataFrame,
    z: int,
    *,
    id_col: str,
    geom_col: str = "geom",
    extent: int = 4096,
    buffer_px: int = 8,
    simplify_px: float = 0.0,
    layer_name: str = "polygons",
    drop_empty: bool = True,
) -> DataFrame:
    """Distributed vector-tile sink, polygon features: polygons explode
    onto their covering tiles (tiles.polygon_tiles — bbox cover, one row
    per (polygon, tile)), then each tile clips its polygons to the
    buffered tile bbox (Sutherland–Hodgman, geom/clip.py), quantizes to
    tile coords (y down), and encodes one MVT blob. Winding is normalized
    by codec/mvt.py (exterior positive screen area per §4.3.3.3).

    Same scale shape as the point sink, through the same tile stream
    (:func:`_tile_stream`): one exchange on the tile key, per-tile
    independent serialization. Holes that survive clipping are
    emitted as interior rings; a hole partially cut by the tile edge is
    clipped per-ring (the standard tiling approximation — ``buffer_px``
    pushes the artifact outside the rendered area).

    ``simplify_px``: Douglas–Peucker tolerance in tile PIXELS (of
    ``extent``) applied to each clipped ring before quantization — the
    generalization tippecanoe performs; detail below one pixel cannot
    render anyway. 0 disables.
    """
    from ..codec import mvt
    from ..geom import clip as gclip
    from ..geom import simplify as simp
    from . import tiles as tile_ops

    sx, sy = cell_mod.cell_size_deg(z)
    # no build reads cell_id or tile_z: keep them off the tile-key exchange
    cover = tile_ops.polygon_tiles(
        polys.select(id_col, geom_col), z, geom_col=geom_col
    ).drop("cell_id", "tile_z")

    def build(pdf: pd.DataFrame, txv: int, tyv: int) -> dict:
        lon0, lat_top, box = _tile_frame(z, txv, tyv, buffer_px, extent)
        feats = []
        n_rings = 0
        for fid, g in zip(pdf[id_col].to_numpy(), pdf[geom_col].to_numpy()):
            rings_signed = []
            for rings in wkb.parse_multipolygon(bytes(g)):
                for ri, ring in enumerate(rings):
                    c = gclip.clip_ring_bbox(ring, *box)
                    if len(c) < 3:
                        continue
                    if simplify_px > 0:
                        # tolerance in degrees ~ anisotropic px: use the
                        # finer axis so deviation never exceeds the budget
                        tol = simplify_px * min(sx, sy) / extent
                        c = simp.simplify_ring(np.vstack([c, c[:1]]), tol)
                        if len(c) == 0:
                            continue
                        c = c[:-1]
                    q = np.empty_like(c)
                    q[:, 0] = np.rint((c[:, 0] - lon0) / sx * extent)
                    q[:, 1] = np.rint((lat_top - c[:, 1]) / sy * extent)
                    # drop consecutive duplicates the quantization created
                    keep = np.ones(len(q), dtype=bool)
                    keep[1:] = (q[1:] != q[:-1]).any(axis=1)
                    q = q[keep]
                    if len(q) < 3 or abs(mvt._screen_area2(q.astype(np.int64))) == 0:
                        continue
                    rings_signed.append((q.astype(np.int64), ri == 0))
            if rings_signed:
                n_rings += len(rings_signed)
                feats.append(
                    mvt.encode_feature(
                        mvt.polygon_geometry(rings_signed), mvt.POLYGON,
                        feature_id=int(fid),
                    )
                )
        blob = mvt.encode_tile([mvt.encode_layer(layer_name, feats, extent=extent)])
        return {"n_features": len(feats), "n_rings": n_rings, "bytes": blob}

    out = _tile_stream(
        cover, z, build,
        "tile_z int, tile_x long, tile_y long, n_features long, n_rings long, bytes binary",
    )
    # bbox cover is conservative: a tile can cover a polygon's bbox yet
    # clip to nothing — drop those empties (tippecanoe behavior) unless
    # the caller wants placeholder tiles
    return out.filter(F.col("n_features") > 0) if drop_empty else out


def _multilinestring_parts(buf: bytes) -> list[np.ndarray]:
    gtype, payload = wkb.parse(bytes(buf))
    if gtype == wkb.LINESTRING:
        return [np.asarray(payload)]
    if gtype == wkb.MULTILINESTRING:
        return [np.asarray(p) for p in payload]
    raise ValueError(f"expected (multi)linestring, got geometry type {gtype}")


def _multilinestring_bbox(buf: bytes) -> tuple[float, float, float, float]:
    pts = np.vstack(_multilinestring_parts(buf))
    return (
        float(pts[:, 0].min()), float(pts[:, 1].min()),
        float(pts[:, 0].max()), float(pts[:, 1].max()),
    )


def mvt_tiles_lines(
    lines: DataFrame,
    z: int,
    *,
    id_col: str,
    geom_col: str = "geom",
    extent: int = 4096,
    buffer_px: int = 8,
    simplify_px: float = 0.0,
    layer_name: str = "lines",
    drop_empty: bool = True,
) -> DataFrame:
    """Distributed vector-tile sink, LINESTRING features (roads, routes —
    the reference's N07-style line layers): lines explode onto covering
    tiles by bbox (the polygon sink's cover, tiles.bbox_tiles), each tile
    clips its lines to the buffered tile bbox (Liang–Barsky with run
    reassembly, so a line that leaves and re-enters yields multiple paths
    of ONE MultiLineString feature), quantizes (floor, the point-sink
    convention) and encodes. Same scale shape as the other sinks, through
    the same tile stream: one exchange on the tile key, per-tile
    independent serialization, bytes born post-exchange.

    Returns (tile_z, tile_x, tile_y, n_features, n_paths, bytes)."""
    from ..codec import mvt
    from ..geom import clip as gclip
    from ..geom import simplify as simp
    from . import tiles as tile_ops

    sx, sy = cell_mod.cell_size_deg(z)
    cover = tile_ops.bbox_tiles(
        lines.select(id_col, geom_col), z, geom_col, _multilinestring_bbox
    ).drop("cell_id", "tile_z")

    def build(pdf: pd.DataFrame, txv: int, tyv: int) -> dict:
        lon0, lat_top, box = _tile_frame(z, txv, tyv, buffer_px, extent)
        feats, n_paths = [], 0
        for fid, g in zip(pdf[id_col].to_numpy(), pdf[geom_col].to_numpy()):
            paths = []
            for part in _multilinestring_parts(g):
                for c in gclip.clip_polyline_bbox(part, *box):
                    if simplify_px > 0:
                        tol = simplify_px * min(sx, sy) / extent
                        c = simp.simplify_polyline(c, tol)
                    q = np.empty_like(c)
                    q[:, 0] = np.floor((c[:, 0] - lon0) / sx * extent)
                    q[:, 1] = np.floor((lat_top - c[:, 1]) / sy * extent)
                    keep = np.ones(len(q), dtype=bool)
                    keep[1:] = (q[1:] != q[:-1]).any(axis=1)
                    q = q[keep]
                    if len(q) >= 2:
                        paths.append(q.astype(np.int64))
            if paths:
                n_paths += len(paths)
                feats.append(
                    mvt.encode_feature(
                        mvt.linestring_geometry(paths), mvt.LINESTRING,
                        feature_id=int(fid),
                    )
                )
        blob = mvt.encode_tile([mvt.encode_layer(layer_name, feats, extent=extent)])
        return {"n_features": len(feats), "n_paths": n_paths, "bytes": blob}

    out = _tile_stream(
        cover, z, build,
        "tile_z int, tile_x long, tile_y long, n_features long, n_paths long, bytes binary",
    )
    return out.filter(F.col("n_features") > 0) if drop_empty else out


def write_mvt_directory(
    tiles: DataFrame,
    path: str,
    storage=None,
    name: str = "jpspark",
) -> dict:
    """Materialize a tile-sink DataFrame (``tile_z, tile_x, tile_y,
    bytes`` — output of mvt_tiles_points/polygons/lines) as the
    ``{z}/{x}/{y}.mvt`` object layout tile servers read, plus a
    TileJSON-3.0-shaped ``metadata.json`` (tilejson/name/tiles/minzoom/
    maxzoom/bounds, from the public spec at
    https://github.com/mapbox/tilejson-spec).

    Distributed: each task PUTs its own tiles through the object-store
    ``Storage`` seam (atomic per-object, no rename/mkdir in the
    protocol — the same contract the checkpoint manifest is proven on),
    and the driver writes metadata LAST, the commit-marker-after-data
    idiom: a crash leaves tiles without metadata, never metadata naming
    missing tiles. Y is flipped to the XYZ convention (origin top-left)
    so standard viewers address tiles directly."""
    from ..manifest import LocalStorage

    store = storage or LocalStorage()

    def sink(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 0
        total = 0
        zs: set[int] = set()
        xmin = ymin = float("inf")
        xmax = ymax = float("-inf")
        for pdf in batches:
            for z, x, y, blob in zip(
                pdf["tile_z"].to_numpy(), pdf["tile_x"].to_numpy(),
                pdf["tile_y"].to_numpy(), pdf["bytes"].to_numpy(),
            ):
                z, x, y = int(z), int(x), int(y)
                y_xyz = (1 << z) - 1 - y  # engine y is northward; XYZ is top-down
                store.put_bytes(path, f"{z}/{x}/{y_xyz}.mvt", bytes(blob))
                n += 1
                total += len(blob)
                zs.add(z)
                sx, sy = cell_mod.cell_size_deg(z)
                xmin = min(xmin, LON0 + x * sx); xmax = max(xmax, LON0 + (x + 1) * sx)
                ymin = min(ymin, LAT0 + y * sy); ymax = max(ymax, LAT0 + (y + 1) * sy)
        yield pd.DataFrame(
            {
                "n_tiles": [n], "bytes": [total],
                "minz": [min(zs) if zs else None], "maxz": [max(zs) if zs else None],
                "xmin": [None if n == 0 else xmin], "ymin": [None if n == 0 else ymin],
                "xmax": [None if n == 0 else xmax], "ymax": [None if n == 0 else ymax],
            }
        )

    stats = tiles.select("tile_z", "tile_x", "tile_y", "bytes").mapInPandas(
        sink,
        "n_tiles long, bytes long, minz int, maxz int, "
        "xmin double, ymin double, xmax double, ymax double",
    ).collect()
    n_tiles = sum(r.n_tiles for r in stats)
    if n_tiles == 0:
        raise ValueError("write_mvt_directory: no tiles to write")
    meta = {
        "tilejson": "3.0.0",
        "name": name,
        "tiles": ["{z}/{x}/{y}.mvt"],
        "minzoom": min(r.minz for r in stats if r.minz is not None),
        "maxzoom": max(r.maxz for r in stats if r.maxz is not None),
        "bounds": [
            min(r.xmin for r in stats if r.xmin is not None),
            min(r.ymin for r in stats if r.ymin is not None),
            max(r.xmax for r in stats if r.xmax is not None),
            max(r.ymax for r in stats if r.ymax is not None),
        ],
        "tile_count": n_tiles,
        "total_bytes": int(sum(r.bytes for r in stats)),
    }
    store.put_text(path, "metadata.json", json.dumps(meta))
    return meta


def read_mvt_directory(spark, path: str) -> DataFrame:
    """Distributed reader for a ``{z}/{x}/{y}.mvt`` directory (the
    layout :func:`write_mvt_directory` produces and tile servers serve):
    ``binaryFile`` scan → per-task wire decode → one row per feature
    with the geometry lifted back to lon/lat WKB (tile-local integer
    coords × pixel size; XYZ y un-flipped). Closes the sink↔source
    symmetry: tiles produced by this engine — or any spec-2.1 writer —
    become an ordinary geometry DataFrame again.

    Output: (tile_z, tile_x, tile_y, layer, feature_id, geom_type, geom).
    Coordinates carry quantization error ≤ one pixel of the tile extent
    by construction."""
    import re

    from ..codec import mvt

    files = spark.read.format("binaryFile").load(f"{path}/*/*/*.mvt")
    rx = re.compile(r"/(\d+)/(\d+)/(\d+)\.mvt$")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "tile_z": [], "tile_x": [], "tile_y": [], "layer": [],
                "feature_id": [], "geom_type": [], "geom": [],
            }
            for p, blob in zip(pdf["path"].to_numpy(), pdf["content"].to_numpy()):
                m = rx.search(str(p))
                if not m:
                    raise ValueError(f"not a z/x/y.mvt path: {p}")
                z, x, y_xyz = int(m.group(1)), int(m.group(2)), int(m.group(3))
                y = (1 << z) - 1 - y_xyz  # back to northward tile_y
                sx, sy = cell_mod.cell_size_deg(z)
                lon0, lat_top, _ = _tile_frame(z, x, y)
                for layer in mvt.decode_tile(bytes(blob)):
                    ext = layer["extent"]

                    def to_lonlat(q):
                        pts = np.asarray(q, dtype=np.float64)
                        out = np.empty_like(pts)
                        out[:, 0] = lon0 + pts[:, 0] / ext * sx
                        out[:, 1] = lat_top - pts[:, 1] / ext * sy
                        return out

                    for f in layer["features"]:
                        if f["type"] == mvt.POINT:
                            g = wkb.encode_multipoint(to_lonlat(f["geometry"][0]))
                        elif f["type"] == mvt.LINESTRING:
                            g = wkb.encode_multilinestring(
                                [to_lonlat(p) for p in f["geometry"]]
                            )
                        else:  # POLYGON: positive screen area starts a new part
                            polys: list[list[np.ndarray]] = []
                            for ring, a2 in f["geometry"]:
                                r = to_lonlat(np.vstack([ring, ring[:1]]))
                                if a2 > 0 or not polys:
                                    polys.append([r])
                                else:
                                    polys[-1].append(r)
                            g = wkb.encode_multipolygon(polys)
                        rows["tile_z"].append(z)
                        rows["tile_x"].append(x)
                        rows["tile_y"].append(y)
                        rows["layer"].append(layer["name"])
                        rows["feature_id"].append(
                            -1 if f["id"] is None else int(f["id"])
                        )
                        rows["geom_type"].append(int(f["type"]))
                        rows["geom"].append(g)
            yield pd.DataFrame(rows)

    return files.select("path", "content").mapInPandas(
        kernel,
        "tile_z int, tile_x long, tile_y long, layer string, "
        "feature_id long, geom_type int, geom binary",
    )
