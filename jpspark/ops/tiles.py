"""Raster-tile ↔ vector-cell assignment (SURVEY §3.3 step 3, north_rule).

The reference's tiling stage exports FlatGeobuf and shells out to
tippecanoe (/root/reference/NOTES.md:118-133). Our engine replaces it with
distributed tile math over the image table.

Tile scheme: equirectangular z/x/y over the full lon/lat plane —
tile (z, x, y) covers lon ∈ [-180 + x·360/2^z, ...), lat likewise,
half-open, y increasing northward. Chosen over web-mercator deliberately:
no transcendental functions, so tile ids are reproducible bit-for-bit by
any SQL engine (the DuckDB oracle) and consistent with the cell index —
tile (z, x, y) IS cell ``from_xy(x, y, z)``. A web-mercator scheme would
make equality-of-floor comparisons depend on libm rounding.

Operators:
  tile_assign        — (image row, zoom) -> (tile_z, tile_x, tile_y, cell_id)
                       pure built-in column math (whole-stage codegen, no UDF)
  with_cell_id       — lon/lat -> cell id: cell.encode as column math; the
                       point side of the shuffle PIP and kNN joins and of
                       the cell-clustered write
  tile_rollup        — per-tile aggregates with parent-tile rollup to a
                       coarser zoom (two-phase partial agg)
  tile_render_manifest — per-tile row groups for a renderer: tile id,
                       row count, byte budget (the tiles/sec bench unit)
  explode_bbox_cover / bbox_tiles / polygon_tiles — the one bbox → cell
                       (→ tile) cover explode behind the shuffle PIP join
                       and the polygon and line MVT sinks
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geom import cell as cell_mod
from ..geom import wkb
from ..geom.cell import LAT0, LAT1, LON0, LON1, _RES_SHIFT


def tile_xy_cols(lon_col: str, lat_col: str, z: int):
    """Pure Column expressions (codegen'd, UDF-free) for tile x/y at zoom z."""
    n = F.lit(float(1 << z))
    tx = F.floor((F.col(lon_col) - F.lit(LON0)) / F.lit(LON1 - LON0) * n)
    ty = F.floor((F.col(lat_col) - F.lit(LAT0)) / F.lit(LAT1 - LAT0) * n)
    tx = F.least(F.greatest(tx, F.lit(0)), F.lit((1 << z) - 1)).cast("long")
    ty = F.least(F.greatest(ty, F.lit(0)), F.lit((1 << z) - 1)).cast("long")
    return tx, ty


def cell_id_from_tile(tx_col, ty_col, z: int):
    """Column expr: Morton-interleave tile x/y into the cell id — the SQL
    translation of geom.cell.from_xy, staying fully JVM-side."""
    def spread(c):
        v = c.cast("long")
        v = v.bitwiseOR(F.shiftleft(v, 16)).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
        v = v.bitwiseOR(F.shiftleft(v, 8)).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
        v = v.bitwiseOR(F.shiftleft(v, 4)).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
        v = v.bitwiseOR(F.shiftleft(v, 2)).bitwiseAND(F.lit(0x3333333333333333))
        v = v.bitwiseOR(F.shiftleft(v, 1)).bitwiseAND(F.lit(0x5555555555555555))
        return v

    return (
        spread(tx_col)
        .bitwiseOR(F.shiftleft(spread(ty_col), 1))
        .bitwiseOR(F.lit(z << _RES_SHIFT))
        .cast("long")
    )


def with_cell_id(df: DataFrame, lon_col: str, lat_col: str, res: int) -> DataFrame:
    """``df`` plus ``cell_id``: the cell id at ``res`` of each lon/lat
    point, bit-equal to geom.cell.encode, fully JVM-side. A null
    coordinate lands in grid column/row 0, where encode puts NaN
    (``greatest`` skips nulls). The tile x/y are computed once in a
    projection of their own (``cell_id_from_tile`` reads each input 32
    times, and Catalyst keeps a projection whose output would be
    duplicated) and dropped after."""
    tx, ty = tile_xy_cols(lon_col, lat_col, res)
    return (
        df.withColumns({"__cell_tx": tx, "__cell_ty": ty})
        .withColumn("cell_id", cell_id_from_tile(F.col("__cell_tx"), F.col("__cell_ty"), res))
        .drop("__cell_tx", "__cell_ty")
    )


def tile_xy_from_cell(cell_col):
    """Column exprs: tile x/y of a Morton cell id — the SQL translation of
    geom.cell.to_xy, the inverse of :func:`cell_id_from_tile`."""
    def unspread(c):
        v = c
        v = v.bitwiseAND(F.lit(0x5555555555555555))
        v = v.bitwiseOR(F.shiftrightunsigned(v, 1)).bitwiseAND(F.lit(0x3333333333333333))
        v = v.bitwiseOR(F.shiftrightunsigned(v, 2)).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
        v = v.bitwiseOR(F.shiftrightunsigned(v, 4)).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
        v = v.bitwiseOR(F.shiftrightunsigned(v, 8)).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
        v = v.bitwiseOR(F.shiftrightunsigned(v, 16)).bitwiseAND(F.lit(0x00000000FFFFFFFF))
        return v

    m = cell_col.bitwiseAND(F.lit((1 << _RES_SHIFT) - 1))
    return unspread(m), unspread(F.shiftrightunsigned(m, 1))


def tile_assign(images: DataFrame, z: int, lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Assign each image row to its raster tile and matching vector cell."""
    tx, ty = tile_xy_cols(lon, lat, z)
    df = images.withColumns({"tile_x": tx, "tile_y": ty, "tile_z": F.lit(z)})
    return df.withColumn("cell_id", cell_id_from_tile(F.col("tile_x"), F.col("tile_y"), z))


def tile_rollup(assigned: DataFrame, parent_z: int, z: int) -> DataFrame:
    """Roll per-tile counts up to a coarser zoom. Catalyst plans this as
    partial (map-side) + final aggregation — the two-phase agg the
    north_star asks for; no custom code needed."""
    shift = z - parent_z
    return (
        assigned.groupBy(
            F.lit(parent_z).alias("tile_z"),
            F.shiftrightunsigned(F.col("tile_x"), shift).alias("tile_x"),
            F.shiftrightunsigned(F.col("tile_y"), shift).alias("tile_y"),
        )
        .agg(
            F.count("*").alias("n_images"),
            F.approx_count_distinct("phash").alias("approx_distinct_phash"),
        )
    )


def explode_bbox_cover(df: DataFrame, geom_col: str, res: int, bbox) -> DataFrame:
    """One row per (row, cell at ``res`` intersecting the row's geometry
    bbox), in a new ``cell_id`` column. ``bbox(wkb_bytes)`` returns
    (xmin, ymin, xmax, ymax). Conservative: exact refinement (PIP, tile
    clipping) removes the cells the geometry only grazes by bbox."""
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def cover_udf(geom: pd.Series) -> pd.Series:
        return pd.Series(
            [cell_mod.cover_bbox(*bbox(bytes(g)), res).tolist() for g in geom]
        )

    return df.withColumn("cell_id", F.explode(cover_udf(F.col(geom_col))))


def bbox_tiles(df: DataFrame, z: int, geom_col: str, bbox) -> DataFrame:
    """:func:`explode_bbox_cover` at zoom ``z`` plus the covering tile's
    (tile_z, tile_x, tile_y), decoded JVM-side from the cell id."""
    tx, ty = tile_xy_from_cell(F.col("cell_id"))
    return (
        explode_bbox_cover(df, geom_col, z, bbox)
        .withColumn("tile_z", F.lit(z))
        .withColumn("tile_x", tx)
        .withColumn("tile_y", ty)
    )


def polygon_tiles(polys: DataFrame, z: int, geom_col: str = "geom") -> DataFrame:
    """Vector-cell side of raster↔vector assignment: one row per (polygon,
    tile) whose tile square intersects the polygon bbox at zoom z —
    the explode that lets raster tiles equi-join vector layers on
    (tile_z, tile_x, tile_y). Conservative bbox cover (exact refinement
    is the PIP join's job)."""
    return bbox_tiles(polys, z, geom_col, wkb.multipolygon_bbox)


def tile_pyramid(
    tiles: DataFrame,
    levels: int,
    *,
    out_fmt: str = "png",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
) -> DataFrame:
    """Build overview levels (the raster pyramid a tile server needs): each
    parent tile at z-1 is the 2×2 mosaic of its children downsampled with
    an EXACT integer 2×2 box mean (``(a+b+c+d) // 4`` per channel) — exact
    so any SQL engine can replay the arithmetic bit-for-bit, and so
    repeated rollups stay deterministic across platforms.

    Scale shape: one hash exchange per level on the parent key
    ``(x >> 1, y >> 1)`` — tile counts shrink 4× per level, so total work
    is a geometric series dominated by the first rollup; quadtree keys are
    uniform (no hot key). Children of one parent (≤ 4 rows) meet in a
    single ``applyInPandas`` group. Missing children leave zero-filled
    quadrants (recorded in ``n_children``).

    Returns the union of all generated levels (not the input leaves):
    ``(tile_z, tile_x, tile_y, w, h, fmt, bytes, n_children)``.
    """
    from functools import reduce

    from ..codec import image as img

    out_schema = (
        "tile_z int, tile_x long, tile_y long, w int, h int, "
        "fmt string, bytes binary, n_children int"
    )

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        first = img.decode(bytes(pdf[bytes_col].iloc[0]), str(pdf[fmt_col].iloc[0]))
        h, w = first.shape[:2]
        canvas = np.zeros((2 * h, 2 * w, 3), dtype=np.uint16)
        px_, py_ = int(pdf["tile_x"].iloc[0]) >> 1, int(pdf["tile_y"].iloc[0]) >> 1
        for cx, cy, buf, fmt in zip(
            pdf["tile_x"].to_numpy(), pdf["tile_y"].to_numpy(),
            pdf[bytes_col].to_numpy(), pdf[fmt_col].to_numpy(),
        ):
            child = img.decode(bytes(buf), str(fmt))
            if child.shape[:2] != (h, w):
                raise ValueError(
                    f"tile_pyramid: mixed tile sizes {child.shape[:2]} vs {(h, w)}"
                )
            # north half of the parent = children with odd tile_y (y northward)
            r0 = (1 - (int(cy) & 1)) * h
            c0 = (int(cx) & 1) * w
            canvas[r0 : r0 + h, c0 : c0 + w] = child
        down = (
            canvas.reshape(h, 2, w, 2, 3).sum(axis=(1, 3), dtype=np.uint32) // 4
        ).astype(np.uint8)
        return pd.DataFrame(
            {
                "tile_z": [int(pdf["tile_z"].iloc[0]) - 1],
                "tile_x": [px_],
                "tile_y": [py_],
                "w": [w],
                "h": [h],
                "fmt": [out_fmt],
                "bytes": [img.encode(down, out_fmt)],
                "n_children": [len(pdf)],
            }
        )

    cur = tiles.select("tile_z", "tile_x", "tile_y", F.col(bytes_col), F.col(fmt_col))
    outs = []
    for _ in range(levels):
        nxt = (
            cur.groupBy(
                F.shiftrightunsigned(F.col("tile_x"), 1).alias("_px"),
                F.shiftrightunsigned(F.col("tile_y"), 1).alias("_py"),
            )
            .applyInPandas(lambda pdf: assemble(pdf), schema=out_schema)
        )
        outs.append(nxt)
        cur = nxt.select("tile_z", "tile_x", "tile_y", "bytes", "fmt")
    return reduce(DataFrame.unionByName, outs)


def tile_render_manifest(assigned: DataFrame, byte_col: str = "bytes") -> DataFrame:
    """Per-tile manifest: row count + payload bytes — the unit of the
    tiles/sec throughput metric in BENCH."""
    return assigned.groupBy("tile_z", "tile_x", "tile_y").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.length(F.col(byte_col))).alias("payload_bytes"),
        F.min("cell_id").alias("cell_id"),
    )
