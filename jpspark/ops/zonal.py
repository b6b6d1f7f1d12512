"""Zonal statistics — aggregate decoded raster pixels per vector polygon.

The raster→vector half of the north_rule's "raster↔vector" surface that
``ops/tiles.py`` doesn't cover: tiles.py assigns *rows* to tiles and rolls
tile counts up; this module reads the pixels *inside* the tiles and
aggregates them over arbitrary vector zones (the classic GIS zonal-stats
operator — per-polygon mean/min/max of an imagery band). The reference
pipeline stops at loading vectors into PostGIS and has no raster analysis
at all (README.md:1-40 scope: "converts JPKSJ data ... into PostGIS");
this is the extension a 100 TB image+caption table needs.

Data model: each row of the raster table is one tile image — georeferenced
purely by its (tile_z, tile_x, tile_y) coordinates in the engine's
equirectangular scheme (ops/tiles.py:7-13) — with pixels in a ``binary``
column + ``fmt`` discriminator (BASELINE input_hint). Pixel (row i, col j)
of a W×H tile covers a half-open ground square; its CENTER is

    lon = LON0 + (gx + 0.5) · (LON1-LON0) / (2^z · W),  gx = tile_x·W + j
    lat = LAT0 + (gy + 0.5) · (LAT1-LAT0) / (2^z · H),  gy = tile_y·H + (H-1-i)

(row 0 is the tile's north edge, as in every image format; gy counts
northward like tile_y). A pixel belongs to a zone iff its center is inside
the polygon — the same convention GDAL's rasterize/zonal tools default to,
and the one that makes zone stats additive across tiles.

100-TB shape: the zones are the SMALL side (a vector layer — thousands of
polygons, not 10^12 rows) and are broadcast as parsed rings; the tile
table NEVER shuffles. One ``mapInArrow`` pass decodes each tile once,
bbox-prunes candidate zones, ray-casts pixel centers with the shared
``geom.pip`` kernel, and emits ONE partial row per zone per batch (not per
pixel, not per tile) — the only exchange carries O(n_zones × n_partitions)
partial-aggregate rows into a final groupBy. Mirrors the aggregate-pushdown
trick that made the PIP count query scale (ops/spatial_join.py).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..codec import image as img
from ..geom import wkb
from ..geom.cell import LAT0, LON0, cell_size_deg
from ..geom.pip import PreparedPolygon

#: broadcast budget: zones ride to every executor as parsed float64 rings.
#: ~100k simple polygons ≈ 100 MB — the same order as the PIP join's
#: polygon index budget (DESIGN.md §10 item 2). Raise explicitly if you
#: really mean it.
MAX_ZONES = 100_000


def _collect_zones(zones: DataFrame, zone_id: str, geom_col: str, max_zones: int):
    rows = zones.select(zone_id, geom_col).limit(max_zones + 1).collect()
    if len(rows) > max_zones:
        raise ValueError(
            f"zonal_stats zones side exceeds the broadcast budget "
            f"({max_zones} polygons); pass max_zones= explicitly to raise it "
            f"or pre-dissolve the zone layer"
        )
    out = []
    for r in rows:
        polys = wkb.parse_multipolygon(bytes(r[geom_col]))
        xs = np.concatenate([ring[:, 0] for rings in polys for ring in rings])
        ys = np.concatenate([ring[:, 1] for rings in polys for ring in rings])
        out.append(
            (
                r[zone_id],
                polys,
                (float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max())),
            )
        )
    return out


def zonal_stats(
    tiles: DataFrame,
    zones: DataFrame,
    *,
    z: int,
    band: int = 0,
    zone_id: str = "zone_id",
    geom_col: str = "geom",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    max_zones: int = MAX_ZONES,
) -> DataFrame:
    """Per-zone pixel statistics of ``band`` over the raster tile table.

    Returns one row per zone that covers at least one pixel center:
    ``(zone_id, n_px, sum_v, mean_v, min_v, max_v)``. Zones are collected
    and broadcast (bounded by ``max_zones``); tiles stream through a
    single mapInArrow pass with no shuffle — only per-(zone, partition)
    partial aggregates cross the exchange.
    """
    # zones ride as an explicit Spark broadcast (one copy per executor,
    # torrent-distributed), not a task-closure capture
    bc_zones = tiles.sparkSession.sparkContext.broadcast(
        _collect_zones(zones, zone_id, geom_col, max_zones)
    )
    id_dtype = dict(zip(zones.columns, zones.schema))[zone_id].dataType.simpleString()
    sx, sy = cell_size_deg(z)  # tile width/height in degrees

    src = tiles.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col(bytes_col).alias("bytes"),
        F.col(fmt_col).alias("fmt"),
    )

    out_schema = pa.schema(
        [
            ("zone_id", pa.from_numpy_dtype(np.int64) if id_dtype == "bigint" else pa.string()),
            ("n_px", pa.int64()),
            ("sum_v", pa.int64()),
            ("min_v", pa.int32()),
            ("max_v", pa.int32()),
        ]
    )

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        prepared = bc_zones.value
        prep_cache: dict = {}  # zone ordinal -> PreparedPolygon (built lazily per worker)
        acc: dict = {}  # zone_id -> [n, sum, min, max]
        for rb in batches:
            txs = rb.column("tile_x").to_numpy()
            tys = rb.column("tile_y").to_numpy()
            bufs = rb.column("bytes")
            fmts = rb.column("fmt")
            for r in range(rb.num_rows):
                tx, ty = int(txs[r]), int(tys[r])
                lon0, lat0 = LON0 + tx * sx, LAT0 + ty * sy
                plane = img.decode(bufs[r].as_py(), fmts[r].as_py())[:, :, band]
                h, w = plane.shape
                # pixel-center grids (row 0 = north ⇒ descending lat)
                lon_c = lon0 + (np.arange(w, dtype=np.float64) + 0.5) * (sx / w)
                lat_c = lat0 + (np.arange(h - 1, -1, -1, dtype=np.float64) + 0.5) * (sy / h)
                flat = None  # lazily flattened mesh, shared across zones
                vals = None
                for zi, (zid, polys, (bx0, by0, bx1, by1)) in enumerate(prepared):
                    if bx1 < lon0 or bx0 >= lon0 + sx or by1 < lat0 or by0 >= lat0 + sy:
                        continue  # bbox prune: zone can't touch this tile
                    if zi not in prep_cache:
                        prep_cache[zi] = PreparedPolygon(polys)
                    if flat is None:
                        gx, gy = np.meshgrid(lon_c, lat_c)
                        flat = (gx.ravel(), gy.ravel())
                        vals = plane.ravel()
                    mask = prep_cache[zi].contains(flat[0], flat[1])
                    n = int(mask.sum())
                    if n == 0:
                        continue
                    sel = vals[mask]
                    s = acc.get(zid)
                    if s is None:
                        acc[zid] = [n, int(sel.sum()), int(sel.min()), int(sel.max())]
                    else:
                        s[0] += n
                        s[1] += int(sel.sum())
                        s[2] = min(s[2], int(sel.min()))
                        s[3] = max(s[3], int(sel.max()))
        if acc:
            zids = list(acc)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(zids, type=out_schema.field("zone_id").type),
                    pa.array([acc[k][0] for k in zids], type=pa.int64()),
                    pa.array([acc[k][1] for k in zids], type=pa.int64()),
                    pa.array([acc[k][2] for k in zids], type=pa.int32()),
                    pa.array([acc[k][3] for k in zids], type=pa.int32()),
                ],
                schema=out_schema,
            )

    partials = src.mapInArrow(
        kernel,
        schema=f"zone_id {'bigint' if id_dtype == 'bigint' else 'string'}, "
        "n_px bigint, sum_v bigint, min_v int, max_v int",
    )
    return (
        partials.groupBy("zone_id")
        .agg(
            F.sum("n_px").alias("n_px"),
            F.sum("sum_v").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
        )
        .withColumn(
            "mean_v", F.col("sum_v").cast("double") / F.col("n_px").cast("double")
        )
        .select("zone_id", "n_px", "sum_v", "mean_v", "min_v", "max_v")
    )


def rasterize(
    tile_grid: DataFrame,
    zones: DataFrame,
    *,
    z: int,
    w: int,
    h: int,
    burn_col: str = "burn",
    background: int = 0,
    out_fmt: str = "png",
    zone_id: str = "zone_id",
    geom_col: str = "geom",
    max_zones: int = MAX_ZONES,
) -> DataFrame:
    """Vector→raster burn-in (the inverse of :func:`zonal_stats`): render
    each tile of ``tile_grid`` (rows of ``tile_x, tile_y`` at zoom ``z``)
    as a W×H image whose band-0 pixel value is the ``burn_col`` attribute
    of the zone containing the pixel center, or ``background``. Where
    zones overlap, the MAXIMUM burn value wins — an order-independent rule
    any SQL engine can replay (``GREATEST`` over the zone predicates).
    Bands 1 and 2 are zero.

    Same 100-TB shape as zonal_stats mirrored: zones broadcast, the tile
    grid streams through one mapInArrow pass and never shuffles — at
    10^12 pixels the grid rows are just (x, y) longs fanned out of a
    ``spark.range``, and each task renders its tiles independently.
    """
    rows = zones.select(zone_id, geom_col, burn_col).limit(max_zones + 1).collect()
    if len(rows) > max_zones:
        raise ValueError(
            f"rasterize zones side exceeds the broadcast budget ({max_zones}); "
            f"pass max_zones= explicitly to raise it"
        )
    parsed = []
    for r in rows:
        polys = wkb.parse_multipolygon(bytes(r[geom_col]))
        xs = np.concatenate([ring[:, 0] for rings in polys for ring in rings])
        ys = np.concatenate([ring[:, 1] for rings in polys for ring in rings])
        parsed.append(
            (
                int(r[burn_col]),
                polys,
                (float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max())),
            )
        )
    bc = tile_grid.sparkSession.sparkContext.broadcast(parsed)
    sx, sy = cell_size_deg(z)
    src = tile_grid.select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
    )

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        zones_p = bc.value
        prep: dict = {}
        for rb in batches:
            txs = rb.column("tile_x").to_numpy()
            tys = rb.column("tile_y").to_numpy()
            bufs = []
            for r in range(rb.num_rows):
                tx, ty = int(txs[r]), int(tys[r])
                lon0, lat0 = LON0 + tx * sx, LAT0 + ty * sy
                lon_c = lon0 + (np.arange(w, dtype=np.float64) + 0.5) * (sx / w)
                lat_c = lat0 + (np.arange(h - 1, -1, -1, dtype=np.float64) + 0.5) * (sy / h)
                band = np.full((h, w), background, dtype=np.uint8)
                flat = None
                for zi, (burn, polys, (bx0, by0, bx1, by1)) in enumerate(zones_p):
                    if bx1 < lon0 or bx0 >= lon0 + sx or by1 < lat0 or by0 >= lat0 + sy:
                        continue
                    if zi not in prep:
                        prep[zi] = PreparedPolygon(polys)
                    if flat is None:
                        gx, gy = np.meshgrid(lon_c, lat_c)
                        flat = (gx.ravel(), gy.ravel())
                    mask = prep[zi].contains(flat[0], flat[1]).reshape(h, w)
                    np.maximum(band, np.uint8(burn) * mask, out=band, where=mask)
                px = np.zeros((h, w, 3), dtype=np.uint8)
                px[:, :, 0] = band
                bufs.append(img.encode(px, out_fmt))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(txs, type=pa.int64()),
                    pa.array(tys, type=pa.int64()),
                    pa.array([z] * rb.num_rows, type=pa.int32()),
                    pa.array([w] * rb.num_rows, type=pa.int32()),
                    pa.array([h] * rb.num_rows, type=pa.int32()),
                    pa.array([out_fmt] * rb.num_rows, type=pa.string()),
                    pa.array(bufs, type=pa.binary()),
                ],
                names=["tile_x", "tile_y", "tile_z", "w", "h", "fmt", "bytes"],
            )

    return src.mapInArrow(
        kernel,
        schema="tile_x long, tile_y long, tile_z int, w int, h int, fmt string, bytes binary",
    )


def _trace_mask(mask: np.ndarray, lon_c: np.ndarray, lat_c: np.ndarray, collapse: bool):
    """Trace the boundary of a pixel mask into geo-space rings.

    ``lon_c``/``lat_c`` are the CORNER coordinate arrays (w+1 / h+1 values;
    lat_c[0] = the tile's north edge, matching decoded-image row order).
    Emits directed unit-pixel edges with the interior on the LEFT (so
    exterior rings come out CCW in geo axes, holes CW), cancels nothing —
    every mask pixel contributes its exposed sides — then chains edges
    into closed rings. With ``collapse`` the collinear runs are merged for
    compact output; without it, rings keep unit-pixel vertices so shared
    tile-border segments are bit-identical across adjacent tiles and
    cancel under wkb.dissolve_boundary (the cross-tile merge path).

    Returns (polys, n_edges): polys as [[exterior, holes...], ...] in geo
    coords, n_edges the count of boundary unit segments (= the perimeter
    in pixel units — the SQL-replayable invariant).
    """
    h, w = mask.shape
    pad = np.zeros((h + 2, w + 2), dtype=bool)
    pad[1:-1, 1:-1] = mask
    top = mask & ~pad[:-2, 1:-1]     # exposed north side (row above)
    bot = mask & ~pad[2:, 1:-1]      # exposed south side
    left = mask & ~pad[1:-1, :-2]
    right = mask & ~pad[1:-1, 2:]
    n_edges = int(top.sum() + bot.sum() + left.sum() + right.sum())

    # directed edges in corner-index space (ci, ri): interior on the left.
    # row r's north corners are ri=r, south corners ri=r+1 (lat decreasing
    # with ri). CCW-in-geo: south side heads east, north side west, west
    # side heads south(ri+), east side heads north(ri-).
    succ: dict[tuple[int, int], list[tuple[int, int]]] = {}

    def add(frm, to):
        succ.setdefault(frm, []).append(to)

    for r, c in zip(*np.nonzero(bot)):
        add((c, r + 1), (c + 1, r + 1))
    for r, c in zip(*np.nonzero(top)):
        add((c + 1, r), (c, r))
    for r, c in zip(*np.nonzero(left)):
        add((c, r), (c, r + 1))
    for r, c in zip(*np.nonzero(right)):
        add((c + 1, r + 1), (c + 1, r))

    rings: list[np.ndarray] = []
    while succ:
        start = next(iter(succ))
        path = [start]
        cur = start
        while True:
            nxts = succ[cur]
            nxt = nxts.pop()
            if not nxts:
                del succ[cur]
            if nxt == start:
                break
            path.append(nxt)
            cur = nxt
        idx = np.array(path + [start], dtype=np.int64)
        ring = np.empty((len(idx), 2), dtype=np.float64)
        ring[:, 0] = lon_c[idx[:, 0]]
        ring[:, 1] = lat_c[idx[:, 1]]
        if collapse:
            d = np.diff(ring, axis=0)
            keep = np.ones(len(ring), dtype=bool)
            # drop interior vertices whose in/out directions are collinear
            keep[1:-1] = (d[1:, 0] * d[:-1, 1]) != (d[1:, 1] * d[:-1, 0])
            ring = ring[keep]
        rings.append(ring)

    # group holes under the exterior that contains them (rectilinear exact
    # nesting: a hole's first vertex is strictly inside its parent)
    exts = [(r, wkb.ring_area(r)) for r in rings if wkb.ring_area(r) > 0]
    holes = [r for r in rings if wkb.ring_area(r) <= 0]
    polys: list[list[np.ndarray]] = [[r] for r, _ in exts]
    if holes:
        from ..geom import pip as _pip

        px_w = float(lon_c[1] - lon_c[0])
        px_h = float(lat_c[0] - lat_c[1])
        for hole in holes:
            # witness strictly inside the enclosed region: midpoint of the
            # first edge, offset half a pixel to the RIGHT of travel (the
            # value interior is on the left, so the hole's inside is right)
            mx, my = (hole[0] + hole[1]) / 2.0
            dx, dy = hole[1] - hole[0]
            if dy == 0:  # horizontal edge: right normal is (0, -sign(dx))
                wx, wy = mx, my - np.sign(dx) * 0.5 * px_h
            else:  # vertical edge: right normal is (sign(dy), 0)
                wx, wy = mx + np.sign(dy) * 0.5 * px_w, my
            best, best_area = None, None
            for i, (ext, area) in enumerate(exts):
                if _pip.points_in_polygon(np.array([wx]), np.array([wy]), [ext])[0] and (
                    best_area is None or area < best_area
                ):
                    best, best_area = i, area
            if best is None:
                raise ValueError("polygonize: hole ring not contained by any exterior")
            polys[best].append(hole)
    return polys, n_edges


def polygonize(
    tiles: DataFrame,
    *,
    z: int,
    background: int = 0,
    collapse: bool = True,
) -> DataFrame:
    """Raster→vector: extract, per tile and per distinct band-0 value, the
    boundary multipolygon of that value's pixel region — the inverse of
    :func:`rasterize` (GDAL's polygonize). Pixel squares with equal values
    merge via shared-edge cancellation; holes become interior rings.

    100-TB shape: pure ``mapInArrow`` over the tile table — zero shuffle,
    every tile traces independently (work O(pixels) per tile). The output
    composes with ``ops.dissolve.dissolve(..., boundary=True)`` for the
    cross-tile merge: with ``collapse=False`` ring vertices stay on the
    unit pixel grid, whose coordinates are bit-identical across adjacent
    tiles (binary-exact corner math), so shared tile-border edges cancel
    exactly and the merged layer has no tile seams.

    Output: (tile_x, tile_y, zone_value, n_px, n_edges, n_rings, geom).
    """
    from typing import Iterator as _It

    sx, sy = cell_size_deg(z)
    src = tiles.select(
        F.col("tile_x").cast("long"), F.col("tile_y").cast("long"), "w", "h", "fmt", "bytes"
    )

    def kernel(batches: _It[pa.RecordBatch]) -> _It[pa.RecordBatch]:
        for rb in batches:
            txs = rb.column("tile_x").to_numpy()
            tys = rb.column("tile_y").to_numpy()
            ws = rb.column("w").to_numpy()
            hs = rb.column("h").to_numpy()
            o_tx, o_ty, o_val, o_npx, o_ne, o_nr, o_geom = [], [], [], [], [], [], []
            for r in range(rb.num_rows):
                band = img.decode(
                    rb.column("bytes")[r].as_py(), rb.column("fmt")[r].as_py()
                )[:, :, 0]
                w, h = int(ws[r]), int(hs[r])
                tx, ty = int(txs[r]), int(tys[r])
                lon0 = LON0 + tx * sx
                lat_top = LAT0 + (ty + 1) * sy
                lon_c = lon0 + np.arange(w + 1, dtype=np.float64) * (sx / w)
                lat_c = lat_top - np.arange(h + 1, dtype=np.float64) * (sy / h)
                for v in np.unique(band):
                    if int(v) == background:
                        continue
                    mask = band == v
                    polys, n_edges = _trace_mask(mask, lon_c, lat_c, collapse)
                    o_tx.append(tx); o_ty.append(ty); o_val.append(int(v))
                    o_npx.append(int(mask.sum())); o_ne.append(n_edges)
                    o_nr.append(sum(len(p) for p in polys))
                    o_geom.append(wkb.encode_multipolygon(polys))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(o_tx, type=pa.int64()),
                    pa.array(o_ty, type=pa.int64()),
                    pa.array(o_val, type=pa.int64()),
                    pa.array(o_npx, type=pa.int64()),
                    pa.array(o_ne, type=pa.int64()),
                    pa.array(o_nr, type=pa.int32()),
                    pa.array(o_geom, type=pa.binary()),
                ],
                names=["tile_x", "tile_y", "zone_value", "n_px", "n_edges", "n_rings", "geom"],
            )

    return src.mapInArrow(
        kernel,
        schema=(
            "tile_x long, tile_y long, zone_value long, n_px long, "
            "n_edges long, n_rings int, geom binary"
        ),
    )


def raster_histogram(tiles: DataFrame, band: int = 0) -> DataFrame:
    """Global value histogram of one raster band: (value, n_px). The
    classic first-look statistic over an imagery table. Shape: mapInArrow
    emits ONE partial (value, count) row per distinct value per batch
    (≤256 rows, not per pixel), then a single tiny exchange sums
    partials — map-side combine for rasters."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            counts = np.zeros(256, dtype=np.int64)
            for r in range(rb.num_rows):
                px = img.decode(
                    rb.column("bytes")[r].as_py(), rb.column("fmt")[r].as_py()
                )[:, :, band]
                counts += np.bincount(px.ravel(), minlength=256)
            nz = np.nonzero(counts)[0]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(nz.astype(np.int64)),
                    pa.array(counts[nz]),
                ],
                names=["value", "n_px"],
            )

    return (
        tiles.select("bytes", "fmt")
        .mapInArrow(kernel, schema="value long, n_px long")
        .groupBy("value")
        .agg(F.sum("n_px").alias("n_px"))
    )


def raster_band_math(
    tiles: DataFrame,
    fn,
    *,
    quantize: int = 1000,
) -> DataFrame:
    """Per-tile band algebra (the NDVI-shaped reduction): apply
    ``fn(b0, b1, b2) -> float array`` to each tile's decoded bands,
    QUANTIZE per-pixel values to integers (``floor(quantize · v)``) and
    emit their exact integer sum per tile. Quantizing before the
    reduction makes the aggregate order-independent and bit-replayable
    by any engine — float sums of the same multiset would differ across
    summation orders at the last ulp. Output: (tile_x, tile_y, n_px,
    qsum)."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            txs = rb.column("tile_x").to_numpy()
            tys = rb.column("tile_y").to_numpy()
            npx, qs = [], []
            for r in range(rb.num_rows):
                px = img.decode(
                    rb.column("bytes")[r].as_py(), rb.column("fmt")[r].as_py()
                )
                v = fn(
                    px[:, :, 0].astype(np.float64),
                    px[:, :, 1].astype(np.float64),
                    px[:, :, 2].astype(np.float64),
                )
                q = np.floor(np.float64(quantize) * v).astype(np.int64)
                npx.append(int(v.size))
                qs.append(int(q.sum()))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(txs.astype(np.int64)),
                    pa.array(tys.astype(np.int64)),
                    pa.array(npx, type=pa.int64()),
                    pa.array(qs, type=pa.int64()),
                ],
                names=["tile_x", "tile_y", "n_px", "qsum"],
            )

    return tiles.select(
        F.col("tile_x").cast("long"), F.col("tile_y").cast("long"), "bytes", "fmt"
    ).mapInArrow(kernel, schema="tile_x long, tile_y long, n_px long, qsum long")
