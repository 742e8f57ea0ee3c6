"""Expected outputs, computed without the engine's operators.

Doc geometry comes from the repo's oracle arithmetic
(``datagen.geom_cols_sql``, ``queries._zone_match_sql``) evaluated in
DuckDB; exact geometry tests use integer arithmetic written here, and
nothing in this module imports ``gdal_spark.geom`` or
``gdal_spark.operators``.
"""

from __future__ import annotations

import duckdb
import numpy as np

from gdal_spark.datagen import geom_cols_sql
from gdal_spark.queries import TILE_N, TILE_TLX, TILE_TLY, TILE_W, _zone_match_sql, docs_g_cte

TILE_EPSILON = 1e-3  # the tile-matrix index nudge of GetTileIndices
CHECKSUM_PRIMES = np.array([7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43], dtype=np.int64)


def _con(id_sql: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with a `documents(doc_id, n_chars)` view over
    the doc ids selected by `id_sql` (one BIGINT column `doc_id`)."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT doc_id::BIGINT AS doc_id, 0::BIGINT AS n_chars FROM ({id_sql})")
    return con


def range_ids_sql(lo: int, hi: int) -> str:
    return f"SELECT range AS doc_id FROM range({lo}, {hi})"


def zone_counts(id_sql: str) -> dict[int, int]:
    """Per-zone match counts of the 10 fixture zones (exact intersects)."""
    con = _con(id_sql)
    rows = con.execute(
        f"WITH g AS ({docs_g_cte()}) SELECT zone_fid, count(*) FROM ({_zone_match_sql()}) GROUP BY zone_fid"
    ).fetchall()
    return {int(z): int(c) for z, c in rows}


def tile_key_counts(id_sql: str) -> dict[tuple[int, int], int]:
    """(tx, ty) -> number of valid docs whose envelope covers the tile
    of the bench tile matrix."""
    con = _con(id_sql)
    n1 = TILE_N - 1

    def idx(expr: str) -> str:
        return f"least(greatest(CAST(floor({expr}) AS INTEGER), 0), {n1})"

    tw = float(TILE_W)
    rows = con.execute(
        f"""
        WITH g AS ({docs_g_cte()}),
        k AS (
          SELECT {idx(f"(gx - half - {TILE_TLX}) / {tw} + {TILE_EPSILON}")} AS tx0,
                 {idx(f"(gx + half - {TILE_TLX}) / {tw} + {TILE_EPSILON}")} AS tx1,
                 {idx(f"({TILE_TLY} - (gy + half)) / {tw} + {TILE_EPSILON}")} AS ty0,
                 {idx(f"({TILE_TLY} - (gy - half)) / {tw} + {TILE_EPSILON}")} AS ty1
          FROM g WHERE valid
        ),
        x AS (SELECT unnest(generate_series(tx0, tx1)) AS tx, ty0, ty1 FROM k),
        xy AS (SELECT tx, unnest(generate_series(ty0, ty1)) AS ty FROM x)
        SELECT tx, ty, count(*) FROM xy GROUP BY tx, ty
        """
    ).fetchall()
    return {(int(tx), int(ty)): int(c) for tx, ty, c in rows}


def doc_geometry(id_sql: str) -> dict[str, np.ndarray]:
    """Integer geometry of each doc: id, center (gx, gy), half size
    (0 for points), valid flag — ordered by id."""
    con = _con(id_sql)
    c = geom_cols_sql("doc_id")
    arr = con.execute(
        f"SELECT doc_id, {c['gx']}, {c['gy']}, {c['half']}, {c['valid']} FROM documents ORDER BY doc_id"
    ).fetchnumpy()
    keys = list(arr)
    return {
        "id": arr[keys[0]].astype(np.int64),
        "gx": arr[keys[1]].astype(np.int64),
        "gy": arr[keys[2]].astype(np.int64),
        "half": arr[keys[3]].astype(np.int64),
        "valid": arr[keys[4]].astype(bool),
    }


# -- raster ----------------------------------------------------------------


def burn_points(gx: np.ndarray, gy: np.ndarray, x0: int, y_top: int, world: int, size: int) -> np.ndarray:
    """ADD-burn of value 1 per point into a size x size grid whose pixels
    are world/size units wide, origin (x0, y_top), north up. Pixel index
    = floor of the exact rational pixel coordinate; points on the far
    edges fall outside."""
    px = ((gx - x0) * size) // world
    py = ((y_top - gy) * size) // world
    ok = (px >= 0) & (px < size) & (py >= 0) & (py < size)
    arr = np.zeros((size, size), dtype=np.int64)
    np.add.at(arr, (py[ok], px[ok]), 1)
    return arr


def checksum(arr: np.ndarray) -> int:
    """GDAL image checksum: sum of value mod prime[(row*W + col) % 11],
    mod 65536."""
    v = arr.astype(np.int64).ravel()
    primes = CHECKSUM_PRIMES[np.arange(v.size, dtype=np.int64) % 11]
    return int((v % primes).sum() % 65536)


def average_2x2(arr: np.ndarray) -> np.ndarray:
    """Integer AVERAGE overview of one level: (sum of 2x2 + 2) // 4."""
    a = arr.astype(np.int64)
    return (a[0::2, 0::2] + a[1::2, 0::2] + a[0::2, 1::2] + a[1::2, 1::2] + 2) // 4


# -- exact polygon x rectangle intersects ------------------------------------


def _orient(ax, ay, bx, by, cx, cy) -> int:
    v = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
    return (v > 0) - (v < 0)


def _on_segment(ax, ay, bx, by, px, py) -> bool:
    return (
        _orient(ax, ay, bx, by, px, py) == 0
        and min(ax, bx) <= px <= max(ax, bx)
        and min(ay, by) <= py <= max(ay, by)
    )


def _segments_meet(p1, p2, q1, q2) -> bool:
    d1 = _orient(*q1, *q2, *p1)
    d2 = _orient(*q1, *q2, *p2)
    d3 = _orient(*p1, *p2, *q1)
    d4 = _orient(*p1, *p2, *q2)
    if d1 * d2 < 0 and d3 * d4 < 0:
        return True
    return (
        _on_segment(*q1, *q2, *p1)
        or _on_segment(*q1, *q2, *p2)
        or _on_segment(*p1, *p2, *q1)
        or _on_segment(*p1, *p2, *q2)
    )


def _inside_even_odd(rings, px2, py2) -> bool:
    """Even-odd test of a point given in doubled coordinates (so a
    rectangle center stays an integer) against rings of integer
    vertices; the point is known not to lie on any edge."""
    inside = False
    for ring in rings:
        for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
            ax, ay, bx, by = 2 * ax, 2 * ay, 2 * bx, 2 * by
            if (ay > py2) != (by > py2):
                # px2 < x-intercept, cross-multiplied by (by - ay)
                lhs = (px2 - ax) * (by - ay)
                rhs = (py2 - ay) * (bx - ax)
                if (lhs < rhs) if by > ay else (lhs > rhs):
                    inside = not inside
    return inside


def rect_intersects_polygon(minx, miny, maxx, maxy, rings) -> bool:
    """Closed-set intersects of an axis-parallel rectangle (a point when
    degenerate) and a polygon given as closed integer rings (first is
    the shell, the rest holes)."""
    corners = [(minx, miny), (maxx, miny), (maxx, maxy), (minx, maxy), (minx, miny)]
    for ring in rings:
        for a, b in zip(ring[:-1], ring[1:]):
            if minx <= a[0] <= maxx and miny <= a[1] <= maxy:
                return True
            for c, d in zip(corners[:-1], corners[1:]):
                if _segments_meet(a, b, c, d):
                    return True
    # no boundary contact: the rectangle lies wholly inside the
    # polygon's interior or wholly outside it (holes included)
    return _inside_even_odd(rings, minx + maxx, miny + maxy)


def brute_force_pairs(geom: dict[str, np.ndarray], zones: list[tuple[int, list]]) -> set[tuple[int, int]]:
    """All (doc id, zone fid) pairs that intersect, by testing every
    valid doc against every zone whose bounding box it touches."""
    out = set()
    boxes = []
    for fid, rings in zones:
        xs = [x for x, _ in rings[0]]
        ys = [y for _, y in rings[0]]
        boxes.append((fid, min(xs), min(ys), max(xs), max(ys), rings))
    for i in range(geom["id"].size):
        if not geom["valid"][i]:
            continue
        h = int(geom["half"][i])
        gx, gy = int(geom["gx"][i]), int(geom["gy"][i])
        r = (gx - h, gy - h, gx + h, gy + h)
        for fid, zx0, zy0, zx1, zy1, rings in boxes:
            if r[2] < zx0 or r[0] > zx1 or r[3] < zy0 or r[1] > zy1:
                continue
            if rect_intersects_polygon(*r, rings):
                out.add((int(geom["id"][i]), fid))
    return out


# -- S2 cell ids -----------------------------------------------------------

# Hilbert-curve tables of the S2 cell numbering (orientation bits:
# swap = 1, invert = 2). IJ_TO_POS[orientation][2*i_bit + j_bit] is the
# child position; the orientation is xor-ed with POS_TO_ORIENT[pos].
S2_IJ_TO_POS = np.array([[0, 1, 3, 2], [0, 3, 1, 2], [2, 3, 1, 0], [2, 1, 3, 0]], dtype=np.int64)
S2_POS_TO_ORIENT = np.array([1, 0, 0, 3], dtype=np.int64)
S2_MAX_LEVEL = 30


def s2_cells(x: np.ndarray, y: np.ndarray, z: np.ndarray, level: int) -> np.ndarray:
    """S2 cell ids (as uint64) of unit vectors at `level`: cube face,
    face (u, v), the quadratic u -> s transform, the leaf (i, j), then
    the Hilbert position of the level's top bits and its marker bit."""
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    axis = np.where((ax >= ay) & (ax >= az), 0, np.where(ay >= az, 1, 2))
    comp = np.choose(axis, [x, y, z])
    face = axis + 3 * (comp < 0)
    # (u, v) per face, the S2 face frames
    u = np.select([face == 0, face == 1, face == 2, face == 3, face == 4], [y / x, -x / y, -x / z, z / x, z / y], -y / z)
    v = np.select([face == 0, face == 1, face == 2, face == 3, face == 4], [z / x, z / y, -y / z, y / x, -x / y], -x / z)

    def st_ij(w):
        h = 0.5 * np.sqrt(1 + 3 * np.abs(w))
        s = np.where(w >= 0, h, 1 - h)
        return np.clip(np.floor(s * (1 << S2_MAX_LEVEL)), 0, (1 << S2_MAX_LEVEL) - 1).astype(np.int64)

    i, j = st_ij(u), st_ij(v)
    orient = face & 1
    pos = np.zeros_like(face)
    for k in range(S2_MAX_LEVEL - 1, S2_MAX_LEVEL - 1 - level, -1):
        p = S2_IJ_TO_POS[orient, ((i >> k) & 1) * 2 + ((j >> k) & 1)]
        pos = pos * 4 + p
        orient = orient ^ S2_POS_TO_ORIENT[p]
    shift = 2 * (S2_MAX_LEVEL - level)
    return (face.astype(np.uint64) << np.uint64(61)) | (pos.astype(np.uint64) << np.uint64(shift + 1)) | np.uint64(1 << shift)
