"""Deterministic synthetic fixtures (FIXTURES.md) — seed=42, PCG64.

Generates the reference-shaped tables as pandas DataFrames (converted to
Spark DataFrames by callers): ``images`` (the BASELINE.json input_hint
payload table), ``admin_polygons`` (N03-like), ``landuse_mesh`` (L03-like),
``facilities`` (P05-like), ``admini_boundary_cd`` (crosswalk,
/root/reference/data/schema.sql:3-15), ``w09_raw`` (encoding micro-fixture
mirroring test_data/shp/cp932.shp fields W09_001..W09_004).

Geometry construction: a G×G grid over the Japan bbox with deterministically
jittered interior vertices — atoms are irregular quads that tile the bbox
exactly (non-overlapping interiors, no gaps), the analog of the reference's
exactly-tiling admin layers. Municipalities own 1-3 atoms (multi-part
"islands", mirroring -nlt PROMOTE_TO_MULTI semantics). One municipality
("東京特区") owns the atom containing (139.7, 35.7); 40% of image points
concentrate there (the hot-key skew cell from the north_star).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .catalog import CROSSWALK_COLUMNS
from .codec import image as img
from .codec.phash import phash64
from .geom import pip, wkb

SEED = 42
BBOX = (122.0, 20.0, 154.0, 46.0)  # lon0, lat0, lon1, lat1 (Japan extent)
HOT_LON, HOT_LAT = 139.7, 35.7

PREFS = [
    "北海道", "青森県", "岩手県", "宮城県", "秋田県", "山形県", "福島県",
    "茨城県", "栃木県", "群馬県", "埼玉県", "千葉県", "東京都", "神奈川県",
    "新潟県", "富山県", "石川県", "福井県", "山梨県", "長野県", "岐阜県",
    "静岡県", "愛知県", "三重県", "滋賀県", "京都府", "大阪府", "兵庫県",
    "奈良県", "和歌山県", "鳥取県", "島根県", "岡山県", "広島県", "山口県",
    "徳島県", "香川県", "愛媛県", "高知県", "福岡県", "佐賀県", "長崎県",
    "熊本県", "大分県", "宮崎県", "鹿児島県", "沖縄県",
]
COLORS = ["赤い", "青い", "緑の", "白い", "黒い", "金色の", "小さな", "大きな"]
PLACES = ["神社", "城", "公園", "駅", "市場", "橋", "灯台", "温泉"]


def _rng(salt: int = 0) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64(SEED + salt))


# ------------------------------------------------------------------ polygons

def _jittered_vertices(g: int, jitter: float = 0.30, salt: int = 1):
    """(g+1)x(g+1) vertex grid; interior vertices jittered by <= jitter*cell."""
    lon0, lat0, lon1, lat1 = BBOX
    w, h = (lon1 - lon0) / g, (lat1 - lat0) / g
    vx = lon0 + np.arange(g + 1)[None, :] * w * np.ones((g + 1, 1))
    vy = lat0 + np.arange(g + 1)[:, None] * h * np.ones((1, g + 1))
    rng = _rng(salt)
    dx = rng.uniform(-jitter, jitter, (g + 1, g + 1)) * w
    dy = rng.uniform(-jitter, jitter, (g + 1, g + 1)) * h
    dx[0, :] = dx[-1, :] = 0.0
    dx[:, 0] = dx[:, -1] = 0.0
    dy[0, :] = dy[-1, :] = 0.0
    dy[:, 0] = dy[:, -1] = 0.0
    return vx + dx, vy + dy


def _edge_polyline(p0: np.ndarray, p1: np.ndarray, subdiv: int) -> np.ndarray:
    """Deterministic jittered polyline from p0 to p1 (exclusive of p1).

    The jitter is a function of the undirected edge identity (its two
    endpoints), so the two atoms sharing this edge generate the SAME
    boundary — the tiling stays exact, like real adjacent admin polygons
    sharing a coastline-detail border."""
    if subdiv <= 1:
        return p0[None, :]
    # canonicalize the edge so both traversal directions generate the
    # exact same interior vertex positions
    forward = (p0[0], p0[1]) <= (p1[0], p1[1])
    a, b = (p0, p1) if forward else (p1, p0)
    t = np.arange(1, subdiv)[:, None] / subdiv
    base = a[None, :] * (1 - t) + b[None, :] * t
    key = np.uint64(
        (int(round(float(a[0] + b[0]) * 1e6)) * 31 + int(round(float(a[1] + b[1]) * 1e6)))
        & 0xFFFFFFFFFFFFFFFF
    )
    mixed = np.uint64((int(key) * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
    idx = np.arange(1, subdiv, dtype=np.uint64) + mixed
    jit = ((_hash_u64(idx) % np.uint64(2001)).astype(np.float64) - 1000.0) / 1000.0
    d = b - a
    perp = np.array([-d[1], d[0]])
    lon0, lat0, lon1, lat1 = BBOX
    on_border = (
        (a[0] == b[0] and a[0] in (lon0, lon1))
        or (a[1] == b[1] and a[1] in (lat0, lat1))
    )
    if on_border:
        jit = np.zeros_like(jit)  # bbox border stays straight (no gaps/pokes)
    # sine taper: wiggle vanishes at the corners, so edges meeting at sharp
    # jittered-quad angles cannot cross near their shared vertex
    jit = jit * np.sin(np.pi * t[:, 0]) * 0.08
    interior = base + perp[None, :] * jit[:, None]
    if not forward:
        interior = interior[::-1]
    return np.vstack([p0[None, :], interior])


def _atom_ring(vx, vy, i: int, j: int, subdiv: int = 1) -> np.ndarray:
    """CCW ring of grid atom (col i, row j). Closed (first == last).
    ``subdiv`` > 1 produces detailed shared-edge boundaries (coastline
    analog) while preserving the exact tiling."""
    corners = [
        np.array([vx[j, i], vy[j, i]]),
        np.array([vx[j, i + 1], vy[j, i + 1]]),
        np.array([vx[j + 1, i + 1], vy[j + 1, i + 1]]),
        np.array([vx[j + 1, i], vy[j + 1, i]]),
    ]
    if subdiv <= 1:
        return np.array([*corners, corners[0]])
    parts = [
        _edge_polyline(corners[k], corners[(k + 1) % 4], subdiv) for k in range(4)
    ]
    return np.vstack([*parts, corners[0][None, :]])


def admin_polygons(n_munis: int = 50, grid: int | None = None, subdiv: int = 1) -> pd.DataFrame:
    """N03-like municipalities as WKB MULTIPOLYGONs that exactly tile BBOX.

    ``subdiv`` > 1 subdivides every shared boundary into a deterministic
    jittered polyline (4*subdiv+1 vertices/ring) — the coastline-detail
    analog of real N03 data, used by the bench for realistic PIP cost."""
    g = grid or int(np.ceil(np.sqrt(n_munis * 1.3)))
    vx, vy = _jittered_vertices(g)
    n_atoms = g * g
    rng = _rng(2)
    # the atom containing the hot point must belong to municipality 0
    lon0, lat0, lon1, lat1 = BBOX
    hot_i = int((HOT_LON - lon0) / (lon1 - lon0) * g)
    hot_j = int((HOT_LAT - lat0) / (lat1 - lat0) * g)
    hot_atom = hot_j * g + hot_i
    order = rng.permutation(n_atoms)
    order = np.concatenate([[hot_atom], order[order != hot_atom]])
    owner = np.empty(n_atoms, dtype=np.int64)
    owner[order[:n_munis]] = np.arange(n_munis)  # each muni gets one atom
    extra = order[n_munis:]
    owner[extra] = rng.integers(0, n_munis, len(extra))  # islands
    rows = []
    for m in range(n_munis):
        atoms = np.nonzero(owner == m)[0]
        polys = [[_atom_ring(vx, vy, int(a % g), int(a // g), subdiv)] for a in atoms]
        pref = PREFS[m * len(PREFS) // n_munis]
        name = "東京特区" if m == 0 else f"{pref[:-1]}市{m}"
        code = f"{(m + 1) * 20 + 101:05d}"
        rows.append(
            {
                "ogc_fid": m + 1,
                "都道府県名": pref,
                "市区町村名": name,
                "全国地方公共団体コード": code,
                "geom": wkb.encode_multipolygon(polys),
            }
        )
    return pd.DataFrame(rows)


def landuse_mesh(grid: int = 16) -> pd.DataFrame:
    """L03-like regular mesh squares covering BBOX."""
    lon0, lat0, lon1, lat1 = BBOX
    w, h = (lon1 - lon0) / grid, (lat1 - lat0) / grid
    kinds = ["0100", "0200", "0500", "0700"]
    rng = _rng(3)
    rows = []
    fid = 1
    for j in range(grid):
        for i in range(grid):
            x0, y0 = lon0 + i * w, lat0 + j * h
            ring = np.array([[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h], [x0, y0]])
            rows.append(
                {
                    "ogc_fid": fid,
                    "3次メッシュコード": f"{j:02d}{i:02d}0000",
                    "土地利用種別": kinds[int(rng.integers(0, len(kinds)))],
                    "geom": wkb.encode_multipolygon([[ring]]),
                }
            )
            fid += 1
    return pd.DataFrame(rows)


# ------------------------------------------------------------------ points

def _skewed_points(n: int, polys: pd.DataFrame, hot_frac: float = 0.4, salt: int = 4):
    """n (lon, lat) points: hot_frac inside municipality 0's first atom
    (inscribed box, guaranteed interior), rest uniform over BBOX."""
    rng = _rng(salt)
    lon0, lat0, lon1, lat1 = BBOX
    hot_rings = wkb.parse_multipolygon(polys.iloc[0]["geom"])[0]
    ext = hot_rings[0]
    cx, cy = ext[:-1, 0].mean(), ext[:-1, 1].mean()
    rx = (ext[:-1, 0].max() - ext[:-1, 0].min()) * 0.18
    ry = (ext[:-1, 1].max() - ext[:-1, 1].min()) * 0.18
    n_hot = int(n * hot_frac)
    lon = np.empty(n)
    lat = np.empty(n)
    lon[:n_hot] = rng.uniform(cx - rx, cx + rx, n_hot)
    lat[:n_hot] = rng.uniform(cy - ry, cy + ry, n_hot)
    lon[n_hot:] = rng.uniform(lon0, lon1, n - n_hot)
    lat[n_hot:] = rng.uniform(lat0, lat1, n - n_hot)
    perm = rng.permutation(n)
    return lon[perm], lat[perm]


def _mesh_code(lon: np.ndarray, lat: np.ndarray, grid: int = 64) -> np.ndarray:
    lon0, lat0, lon1, lat1 = BBOX
    gx = np.clip(((lon - lon0) / (lon1 - lon0) * grid).astype(int), 0, grid - 1)
    gy = np.clip(((lat - lat0) / (lat1 - lat0) * grid).astype(int), 0, grid - 1)
    return np.array([f"{y:04d}{x:04d}" for x, y in zip(gx, gy)])


def _hash_u64(a: np.ndarray) -> np.ndarray:
    """SplitMix64 — vectorized deterministic integer hash."""
    z = a.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def pixel_pattern(i: int, w: int, h: int) -> np.ndarray:
    """Deterministic per-row image: channel gradients + hashed noise."""
    x = np.arange(w, dtype=np.float64)[None, :]
    y = np.arange(h, dtype=np.float64)[:, None]
    r = x / max(w - 1, 1) * 255.0 * np.ones((h, 1))
    g = y / max(h - 1, 1) * 255.0 * np.ones((1, w))
    b = np.full((h, w), (i * 37) % 256, dtype=np.float64)
    idx = (np.arange(h * w, dtype=np.uint64) + np.uint64(i) * np.uint64(0x100000001))
    noise = (_hash_u64(idx) % np.uint64(33)).astype(np.float64).reshape(h, w) - 16.0
    px = np.stack([r, g, b], axis=-1) + noise[..., None]
    return np.clip(px, 0, 255).astype(np.uint8)


def raster_pixel(gx, gy):
    """Closed-form raster band values at GLOBAL pixel (gx, gy) — chosen so a
    SQL engine can recompute every pixel independently of our codecs:
    band0 = (3·gx + 7·gy) mod 256 (the stats band), band1 = gx mod 256,
    band2 = gy mod 256. Accepts scalars or arrays."""
    gx = np.asarray(gx, dtype=np.int64)
    gy = np.asarray(gy, dtype=np.int64)
    return (
        ((3 * gx + 7 * gy) % 256).astype(np.uint8),
        (gx % 256).astype(np.uint8),
        (gy % 256).astype(np.uint8),
    )


def raster_tiles(
    z: int, tx0: int, ty0: int, nx: int, ny: int, w: int = 32, h: int = 32,
    fmt: str = "png",
) -> pd.DataFrame:
    """Deterministic georeferenced raster tile table: an nx×ny block of
    tiles starting at (tx0, ty0) at zoom ``z`` in the engine's
    equirectangular scheme (ops/tiles.py). Pixel (row i, col j) of tile
    (tx, ty) carries ``raster_pixel(tx·w + j, ty·h + (h-1-i))`` — row 0 is
    the tile's north edge. Encoded with the real codecs (``fmt``)."""
    rows = []
    jj = np.arange(w, dtype=np.int64)[None, :]
    ii = np.arange(h, dtype=np.int64)[:, None]
    for ty in range(ty0, ty0 + ny):
        for tx in range(tx0, tx0 + nx):
            gx = tx * w + jj + np.zeros((h, 1), dtype=np.int64)
            gy = ty * h + (h - 1 - ii) + np.zeros((1, w), dtype=np.int64)
            px = np.stack(raster_pixel(gx, gy), axis=-1)
            rows.append(
                {
                    "tile_id": f"t{z}_{tx}_{ty}",
                    "tile_z": z,
                    "tile_x": tx,
                    "tile_y": ty,
                    "w": np.int32(w),
                    "h": np.int32(h),
                    "fmt": fmt,
                    "bytes": img.encode(px, fmt),
                }
            )
    return pd.DataFrame(rows)


def zonal_zones() -> pd.DataFrame:
    """Three vector zones over the raster_tiles(z=4, 8..11, 8..11) block
    (lon ∈ [0, 90), lat ∈ [0, 45)), each SQL-expressible as half-plane
    inequalities on the pixel-center coordinates so DuckDB can replay the
    membership test exactly:

      box   — rectangle [10, 40) × [5, 30)
      tri   — triangle (0,0) (45,0) (0,45):  lon≥0 ∧ lat≥0 ∧ lon+lat≤45
      twin  — multipolygon of two disjoint rectangles, one sticking out
              past the raster's edge (tests bbox pruning + partial cover):
              [50, 70)×[40, 60) ∪ [80, 100)×[0, 20)

    Integer vertices + half-integer-of-binary-fraction pixel centers ⇒ no
    pixel center ever lies exactly on a zone edge (the membership test is
    rounding-robust on both engines)."""

    def rect(x0, y0, x1, y1):
        return [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float)]

    zones = [
        ("box", [rect(10, 5, 40, 30)]),
        ("tri", [[np.array([[0, 0], [45, 0], [0, 45], [0, 0]], float)]]),
        ("twin", [rect(50, 40, 70, 60), rect(80, 0, 100, 20)]),
    ]
    return pd.DataFrame(
        {
            "zone_id": [z[0] for z in zones],
            "geom": [wkb.encode_multipolygon(z[1]) for z in zones],
        }
    )


def images(n: int = 1000, polys: pd.DataFrame | None = None) -> pd.DataFrame:
    """The payload table — exact input_hint schema + geotag columns."""
    if polys is None:
        polys = admin_polygons()
    rng = _rng(5)
    sizes = np.array([16, 32, 64])
    ws = sizes[rng.integers(0, 3, n)]
    hs = sizes[rng.integers(0, 3, n)]
    fmts = np.array(img.FORMATS)[rng.integers(0, 4, n)]
    lon, lat = _skewed_points(n, polys)
    munis = polys["市区町村名"].to_numpy()
    cap_idx = rng.integers(0, len(COLORS), n), rng.integers(0, len(PLACES), n), rng.integers(0, len(munis), n)
    rows = []
    for i in range(n):
        px = pixel_pattern(i, int(ws[i]), int(hs[i]))
        buf = img.encode(px, str(fmts[i]))
        ph = int(phash64(img.decode(buf, str(fmts[i]))))
        caption = f"{COLORS[cap_idx[0][i]]} {PLACES[cap_idx[1][i]]} in {munis[cap_idx[2][i]]} ＃{i}"
        rows.append(
            {
                "image_id": f"img{i:012d}",
                "bytes": buf,
                "w": int(ws[i]),
                "h": int(hs[i]),
                "fmt": str(fmts[i]),
                "caption": caption,
                "phash": ph,
                "mesh_code": None,  # filled vectorized below
                "lon": float(lon[i]),
                "lat": float(lat[i]),
            }
        )
    df = pd.DataFrame(rows)
    df["mesh_code"] = _mesh_code(lon, lat)
    df["w"] = df["w"].astype(np.int32)
    df["h"] = df["h"].astype(np.int32)
    df["phash"] = df["phash"].astype(np.int64)
    return df


def facilities(n: int = 300, polys: pd.DataFrame | None = None) -> pd.DataFrame:
    """P05-like point layer; each point inside an owning polygon (FK)."""
    if polys is None:
        polys = admin_polygons()
    rng = _rng(6)
    owner = rng.integers(0, len(polys), n)
    rows = []
    for i in range(n):
        p = polys.iloc[int(owner[i])]
        ext = wkb.parse_multipolygon(p["geom"])[0][0]
        cx, cy = ext[:-1, 0].mean(), ext[:-1, 1].mean()
        rx = (ext[:-1, 0].max() - ext[:-1, 0].min()) * 0.2
        ry = (ext[:-1, 1].max() - ext[:-1, 1].min()) * 0.2
        x = float(rng.uniform(cx - rx, cx + rx))
        y = float(rng.uniform(cy - ry, cy + ry))
        rows.append(
            {
                "ogc_fid": i + 1,
                "行政区域コード": p["全国地方公共団体コード"],
                "施設分類": str(rng.integers(1, 6)),
                "名称": f"施設{i:04d}",
                "所在地": f"{p['都道府県名']}{p['市区町村名']}{i}番地",
                "lon": x,
                "lat": y,
                "geom": wkb.encode_multipoint(np.array([[x, y]])),
            }
        )
    return pd.DataFrame(rows)


def admini_boundary_cd(polys: pd.DataFrame | None = None) -> pd.DataFrame:
    """Crosswalk table — exact 11 columns of
    /root/reference/data/schema.sql:3-15 in schema order; first row pinned
    to the reference's golden assert (row[0]=01000, row[1]=北海道,
    row[2]=NULL, row[3]=ホッカイドウ,
    /root/reference/src/loader/admini_boundary.rs:233-237). Cells include
    pre-NFKC full-width digits/punctuation to exercise normalization F1."""
    if polys is None:
        polys = admin_polygons()
    cols = CROSSWALK_COLUMNS
    rows = [
        dict(zip(cols, ["01000", "北海道", None, "ホッカイドウ", None,
                        None, None, "01000", "北海道", "ホッカイドウ", None]))
    ]
    for _, p in polys.iterrows():
        code = str(p["全国地方公共団体コード"])
        fullwidth_code = code.translate(str.maketrans("0123456789", "０１２３４５６７８９"))
        rows.append(
            dict(
                zip(
                    cols,
                    [
                        code,
                        p["都道府県名"],
                        p["市区町村名"],
                        "トドウフケン",
                        "シクチョウソン",
                        "編入",
                        "２０１４．４．５",  # full-width date, NFKC target
                        fullwidth_code,  # full-width digits, NFKC target
                        p["市区町村名"],
                        "シクチョウソン",
                        None,
                    ],
                )
            )
        )
    return pd.DataFrame(rows)


def admini_boundary_xlsx(polys: pd.DataFrame | None = None) -> bytes:
    """The crosswalk as ACTUAL .xlsx bytes (codec/xlsx writer): title junk
    rows before the 行政区域コード header sentinel (P9), a blank row (P8),
    and a duplicate-code row (exercises ON CONFLICT DO NOTHING / S10)."""
    from .codec import xlsx as xlsx_codec

    pdf = admini_boundary_cd(polys)
    rows: list[list] = [
        ["行政区域コードの改正履歴", None],  # pre-header junk
        [None, "この表は行政区域コードの新旧対応を示す"],
        list(CROSSWALK_COLUMNS),  # header row: first cell IS the sentinel
    ]
    for _, r in pdf.iterrows():
        rows.append([None if pd.isna(v) else v for v in r.tolist()])
    rows.append([None] * len(CROSSWALK_COLUMNS))  # blank row (dropped)
    dup = rows[3][:]  # duplicate of the golden first data row
    dup[1] = "重複した北海道"  # different payload, same code: must lose
    rows.append(dup)
    return xlsx_codec.write_xlsx(rows, sheet_name="行政区域コード")


def w09_raw() -> tuple[pd.DataFrame, pd.DataFrame]:
    """Encoding micro-fixture: two 'source files' with W09_* columns as
    encoded binary + declared encodings, overlapping but unequal column
    sets (exercises F2 try-chain, P6 rename, U1 union-with-nulls)."""
    a = pd.DataFrame(
        {
            "W09_001": ["湖沼A", "湖沼B"],
            "W09_002": ["北海道", "青森県"],
            "W09_003": ["１２３", "４５６"],
        }
    )
    b = pd.DataFrame(
        {
            "W09_001": ["湖沼C"],
            "W09_002": ["岩手県"],
            "W09_004": ["追加属性"],
        }
    )
    enc_a = a.map(lambda s: s.encode("cp932") if isinstance(s, str) else s)
    enc_b = b.map(lambda s: s.encode("utf-8") if isinstance(s, str) else s)
    # source a: no sidecar -> the CP932-first decode try-chain must detect it
    # (mirrors gdal.rs:337-356); source b: declared encoding (the reference's
    # primary SOURCE_ENCODING path) — its UTF-8 bytes are also valid CP932,
    # the exact ambiguity the sidecar exists to resolve.
    enc_a.attrs["declared_encoding"] = None
    enc_b.attrs["declared_encoding"] = "utf-8"
    return enc_a, enc_b


# ------------------------------------------------------------------ oracles

def pip_assign_oracle(
    lon: np.ndarray, lat: np.ndarray, polys: pd.DataFrame, id_col: str = "全国地方公共団体コード"
) -> np.ndarray:
    """Pure-NumPy O(P*M) oracle: containing polygon id per point ('' if
    none). Independent of the cell/PIP index machinery under test."""
    out = np.full(len(lon), "", dtype=object)
    unassigned = np.ones(len(lon), dtype=bool)
    for _, row in polys.iterrows():
        if not unassigned.any():
            break
        geo = wkb.parse_multipolygon(row["geom"])
        idx = np.nonzero(unassigned)[0]
        hit = pip.points_in_multipolygon(lon[idx], lat[idx], geo)
        out[idx[hit]] = row[id_col]
        unassigned[idx[hit]] = False
    return out


def knn_oracle(
    qlon: np.ndarray, qlat: np.ndarray, tlon: np.ndarray, tlat: np.ndarray, tids: np.ndarray, k: int
) -> pd.DataFrame:
    """Brute-force kNN: (query_idx, rank, target_id, dist). Euclidean in
    degrees; ties broken by target id (pinned convention)."""
    rows = []
    for qi in range(len(qlon)):
        dx = tlon - qlon[qi]
        dy = tlat - qlat[qi]
        d = np.sqrt(dx * dx + dy * dy)
        order = np.lexsort((tids, d))[:k]
        for r, t in enumerate(order):
            rows.append((qi, r + 1, int(tids[t]), float(d[t])))
    return pd.DataFrame(rows, columns=["query_idx", "rank", "target_id", "dist"])


def palette_pattern(i: int, w: int, h: int, n_colors: int = 16) -> np.ndarray:
    """Deterministic palette-limited image (for the GIF fidelity rows):
    ≤ ``n_colors`` distinct colors, indices from modular math, palette
    from the shared integer hash — reconstructible from (i, w, h) alone."""
    # the product is masked in Python ints: NumPy scalar products warn on wrap
    mixed = np.uint64((int(i) * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
    pal_raw = _hash_u64(np.arange(n_colors, dtype=np.uint64) + mixed)
    pal = np.stack(
        [
            (pal_raw % np.uint64(256)).astype(np.uint8),
            ((pal_raw >> np.uint64(8)) % np.uint64(256)).astype(np.uint8),
            ((pal_raw >> np.uint64(16)) % np.uint64(256)).astype(np.uint8),
        ],
        axis=-1,
    )
    x = np.arange(w, dtype=np.int64)[None, :]
    y = np.arange(h, dtype=np.int64)[:, None]
    idx = (3 * x + 5 * y + i) % n_colors
    return pal[idx]
