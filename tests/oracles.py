"""Implementations the engine replaced, kept as test oracles.

- Loops the vectorized serve path replaced: the dict-walking tile
  filter, the point-by-point bundle projection, the per-pixel square
  and hex binners, the dot-by-dot PNG renderers, the vertex-by-vertex
  polygon-layer encoder and the per-cell hexagon ring. The tile filter
  and the renderers read :func:`maps_spark.functions.mvt.decode_tile`'s
  dict form and must agree exactly with
  :func:`maps_spark.operators.serving.filter_decoded_tile` and
  :mod:`maps_spark.functions.png`'s renderers; the point loop reads
  the bundle's rows (:func:`point_rows`) and must agree with
  :func:`maps_spark.operators.serving.points_to_tile`; the binners
  read a ``{(px, py): total}`` dict and must agree with
  :func:`maps_spark.operators.binning.square_bin_dict` and
  :func:`~maps_spark.operators.binning.hex_bin_dict`; the encoder must
  write the bytes :func:`maps_spark.functions.mvt.encode_polygon_layer`
  writes, and the rounded rings must equal
  :func:`maps_spark.operators.binning.hex_rings`.
- The two-scan trend texts the one-scan SQL replaced: one aggregate per
  view, joined on (cell, year)."""

import math
from collections import defaultdict

import numpy as np

from maps_spark.functions import mvt
from maps_spark.functions import projections as P
from maps_spark.functions import tiles as T
from maps_spark.functions.mvt import _encode_value, _tag, _varint, _zigzag
from maps_spark.functions.png import STYLES, write_png
from maps_spark.operators.binning import DEFAULT_HEX_PER_TILE, hex_params
from maps_spark.functions.pointpb import PB_BOR_REVERSE
from maps_spark.operators.serving import TOTAL_KEY, _contains


def _in_range(year: int, lo, hi) -> bool:
    return (lo is None or year >= lo) and (hi is None or year <= hi)


def _is_year(k) -> bool:
    try:
        int(k)
        return True
    except (TypeError, ValueError):
        return False


def filter_dict_tile(layers: dict, srs: str, z: int, x: int, y: int,
                     source=None, year_range=(None, None), bors=None,
                     verbose: bool = False, tile_size: int = P.TILE_SIZE,
                     buffer: int = T.DEFAULT_BUFFER):
    """Reference collectInVectorTile over one decoded MVT
    {layer: [(x, y, {year: cnt})]}."""
    sch = P.schema_for(srs)
    sx, sy = source if source else (x, y)
    lo, hi = year_range
    out_verbose: dict = defaultdict(lambda: defaultdict(int))
    out_simple: dict = defaultdict(int)
    world = sch.num_x_tiles(z) * tile_size
    for layer, feats in layers.items():
        if bors and layer not in bors:
            continue
        for fx, fy, attrs in feats:
            gx = sx * tile_size + fx
            gy = sy * tile_size + fy
            if not _contains(sch, z, x, y, gx, gy, tile_size, buffer):
                continue
            counts = {k: v for k, v in attrs.items()
                      if _is_year(k) and _in_range(int(k), lo, hi)}
            if (lo is not None or hi is not None) and not counts:
                continue
            lx = gx - x * tile_size
            if sch.wrap_x and (sch.zz_tiles_horizontal > 1 or z > 0):
                if x == 0 and gx >= world - buffer:
                    lx = gx - world
                elif x == sch.num_x_tiles(z) - 1 and gx < buffer:
                    lx = gx + world - x * tile_size
            ly = gy - y * tile_size
            if verbose:
                for k, v in counts.items():
                    out_verbose[(lx, ly)][k] += v
            else:
                out_simple[(lx, ly)] += sum(counts.values())
    if verbose:
        final = {}
        for pix, counts in out_verbose.items():
            d = dict(counts)
            d[TOTAL_KEY] = sum(counts.values())
            final[pix] = d
        return final
    return dict(out_simple)


def point_rows(cols) -> list[tuple[float, float, str, int, int]]:
    """A bundle's :class:`~maps_spark.functions.pointpb.PointColumns`
    as (lat, lng, basis-of-record name, year, count) rows."""
    return list(zip(cols.lat.tolist(), cols.lng.tolist(),
                    [PB_BOR_REVERSE[c] for c in cols.bor.tolist()],
                    cols.year.tolist(), cols.count.tolist()))


def points_to_tile_loop(features, srs: str, z: int, x: int, y: int,
                        year_range=(None, None), bors=None,
                        verbose: bool = False, tile_size: int = P.TILE_SIZE,
                        buffer: int = T.DEFAULT_BUFFER):
    """:func:`maps_spark.operators.serving.points_to_tile` one point at
    a time over (lat, lng, bor, year, count) rows; returns
    {(px, py): total} or the verbose dict."""
    sch = P.schema_for(srs)
    lo, hi = year_range
    world = sch.num_x_tiles(z) * tile_size
    world_y = sch.num_y_tiles(z) * tile_size
    polar = P._norm(srs) in ("EPSG:3575", "EPSG:3031")
    bors = {b.upper() for b in bors} if bors else None
    out_verbose: dict = defaultdict(lambda: defaultdict(int))
    out_simple: dict = defaultdict(int)
    for lat, lng, bor, year, cnt in features:
        if bors and bor.upper() not in bors:
            continue
        if year and not _in_range(year, lo, hi):
            continue
        if (lo is not None or hi is not None) and not year:
            continue
        if not bool(P.is_plottable(srs, lat, lng)):
            continue
        fgx, fgy = P.global_xy(srs, lat, lng, z, tile_size)
        if polar and not (0 <= fgx < world and 0 <= fgy < world_y):
            continue
        gx, gy = int(math.floor(fgx)), int(math.floor(fgy))
        if not _contains(sch, z, x, y, gx, gy, tile_size, buffer):
            continue
        lx = gx - x * tile_size
        if sch.wrap_x and (sch.zz_tiles_horizontal > 1 or z > 0):
            if x == 0 and gx >= world - buffer:
                lx = gx - world
            elif x == sch.num_x_tiles(z) - 1 and gx < buffer:
                lx = gx + world - x * tile_size
        ly = gy - y * tile_size
        if verbose:
            out_verbose[(lx, ly)][str(year)] += cnt
        else:
            out_simple[(lx, ly)] += cnt
    if verbose:
        return {pix: {**dict(c), TOTAL_KEY: sum(c.values())}
                for pix, c in out_verbose.items()}
    return dict(out_simple)


def square_bin_loop(tile: dict, square_size: int = 16,
                    tile_size: int = 512) -> dict:
    """:func:`maps_spark.operators.binning.square_bin_dict` over a
    {(px, py): total} dict, one pixel at a time."""
    out: dict[tuple[int, int], int] = {}
    for (px, py), total in tile.items():
        if 0 <= px < tile_size and 0 <= py < tile_size:
            cell = (px // square_size, py // square_size)
            out[cell] = out.get(cell, 0) + total
    return out


def hex_bin_loop(tile: dict, z: int, x: int, y: int, tile_size: int = 512,
                 min_hex_per_tile: int = DEFAULT_HEX_PER_TILE) -> dict:
    """:func:`maps_spark.operators.binning.hex_bin_dict` over a
    {(px, py): total} dict, one pixel at a time."""
    p = hex_params(tile_size, min_hex_per_tile)
    radius = p["radius"]
    off_x = (x * tile_size) % (1.5 * p["hex_width"])
    off_y = (y * tile_size) % p["hex_height"]
    out: dict[tuple[int, int], int] = {}
    for (px, py), total in tile.items():
        xs = px + off_x
        ys = py + off_y
        qf = (2.0 / 3.0) * xs / radius
        rf = ((-1.0 / 3.0) * xs + (math.sqrt(3.0) / 3.0) * ys) / radius
        sf = -qf - rf
        # half-away-from-zero, matching SQL round() (python round is
        # banker's and would diverge on .5 ties)
        rnd = lambda v: math.copysign(math.floor(abs(v) + 0.5), v)
        rq, rr, rs = rnd(qf), rnd(rf), rnd(sf)
        dq, dr, ds = abs(rq - qf), abs(rr - rf), abs(rs - sf)
        if dq > dr and dq > ds:
            rq = -rr - rs
        elif dr > ds:
            rr = -rq - rs
        cell = (int(rq), int(rr))
        out[cell] = out.get(cell, 0) + total
    return out


def _tile_totals(tile_bytes: bytes, tile_size: int) -> dict:
    totals: dict[tuple[int, int], int] = {}
    for _, feats in mvt.decode_tile(tile_bytes).items():
        for x, y, attrs in feats:
            if 0 <= x < tile_size and 0 <= y < tile_size:
                t = sum(v for k, v in attrs.items()
                        if isinstance(v, int) and k not in ("total",))
                t = attrs.get("total", t)
                totals[(x, y)] = totals.get((x, y), 0) + t
    return totals


def render_density_png_loop(tile_bytes, style: str = "classic.point",
                            tile_size: int = 512, dot_width: int = 2,
                            scale: float = 1.0) -> bytes:
    size = int(tile_size * scale)
    canvas = np.zeros((size, size, 4), dtype=np.uint8)
    ramp = STYLES[style]
    if tile_bytes:
        d = max(1, int(round(dot_width * scale)))
        for (x, y), total in _tile_totals(tile_bytes, tile_size).items():
            for hi, rgb in ramp:
                if total <= hi:
                    break
            sx, sy = int(x * scale), int(y * scale)
            x0, x1 = max(0, sx), min(size, sx + d)
            y0, y1 = max(0, sy), min(size, sy + d)
            if x0 < x1 and y0 < y1:
                canvas[y0:y1, x0:x1, 0] = rgb[0]
                canvas[y0:y1, x0:x1, 1] = rgb[1]
                canvas[y0:y1, x0:x1, 2] = rgb[2]
                canvas[y0:y1, x0:x1, 3] = 255
    return write_png(canvas)


def render_heat_png_loop(children: list, style: str = "purpleHeat.point",
                         tile_size: int = 512, dot_width: int = 2,
                         scale: float = 1.0) -> bytes:
    size = int(tile_size * scale)
    half = size // 2
    acc = np.zeros((size, size, 3), dtype=np.float64)
    ramp = STYLES[style]
    d = max(1, int(round(dot_width * scale)))
    for qi, tile_bytes in enumerate(children[:4]):
        if not tile_bytes:
            continue
        dx, dy = (qi % 2) * half, (qi // 2) * half
        for (x, y), total in _tile_totals(tile_bytes, tile_size).items():
            for hi, rgb in ramp:
                if total <= hi:
                    break
            sx = dx + int(x * half / tile_size)
            sy = dy + int(y * half / tile_size)
            x0, x1 = max(0, sx), min(size, sx + d)
            y0, y1 = max(0, sy), min(size, sy + d)
            if x0 < x1 and y0 < y1:
                a = acc[y0:y1, x0:x1]
                b = np.array(rgb, dtype=np.float64)
                acc[y0:y1, x0:x1] = 255.0 - (255.0 - a) * (255.0 - b) / 255.0
    canvas = np.zeros((size, size, 4), dtype=np.uint8)
    canvas[:, :, :3] = np.clip(np.rint(acc), 0, 255).astype(np.uint8)
    canvas[:, :, 3] = np.where(acc.sum(axis=2) > 0, 255, 0).astype(np.uint8)
    return write_png(canvas)


def _len_delim(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(payload)) + payload


def encode_polygon_layer_loop(name: str,
                              features: list, extent: int = 512) -> bytes:
    """:func:`maps_spark.functions.mvt.encode_polygon_layer`, one
    varint at a time."""
    keys: list[str] = []
    key_idx: dict[str, int] = {}
    vals: list[bytes] = []
    val_idx: dict[bytes, int] = {}

    body = bytearray()
    body += _tag(15, 0) + _varint(2)
    nm = name.encode("utf-8")
    body += _tag(1, 2) + _varint(len(nm)) + nm
    for ring, attrs in features:
        pts = list(ring)
        if len(pts) > 1 and pts[0] == pts[-1]:
            pts = pts[:-1]  # ClosePath supplies the closing edge
        if len(pts) < 3:
            continue
        tags = bytearray()
        for k, v in attrs.items():
            if k not in key_idx:
                key_idx[k] = len(keys)
                keys.append(k)
            enc = _encode_value(v)
            if enc not in val_idx:
                val_idx[enc] = len(vals)
                vals.append(enc)
            tags += _varint(key_idx[k]) + _varint(val_idx[enc])
        geom = bytearray()
        x0, y0 = pts[0]
        geom += _varint((1 << 3) | 1)                      # MoveTo x1
        geom += _varint(_zigzag(x0)) + _varint(_zigzag(y0))
        geom += _varint((len(pts) - 1) << 3 | 2)           # LineTo n-1
        cx, cy = x0, y0
        for x, y in pts[1:]:
            geom += _varint(_zigzag(x - cx)) + _varint(_zigzag(y - cy))
            cx, cy = x, y
        geom += _varint((1 << 3) | 7)                      # ClosePath
        f = bytearray()
        f += _tag(2, 2) + _varint(len(tags)) + bytes(tags)
        f += _tag(3, 0) + _varint(3)                       # type = POLYGON
        f += _tag(4, 2) + _varint(len(geom)) + bytes(geom)
        body += _len_delim(2, bytes(f))
    for k in keys:
        kb = k.encode("utf-8")
        body += _tag(3, 2) + _varint(len(kb)) + kb
    for v in vals:
        body += _len_delim(4, v)
    body += _tag(5, 0) + _varint(extent)
    return _len_delim(3, bytes(body))


def hex_polygon(q: int, r: int, z: int, x: int, y: int, tile_size: int = 512,
                min_hex_per_tile: int = DEFAULT_HEX_PER_TILE
                ) -> list[tuple[float, float]]:
    """Tile-local vertex ring for a hex id, one vertex at a time."""
    p = hex_params(tile_size, min_hex_per_tile)
    radius, h = p["radius"], p["hex_height"]
    off_x = (x * tile_size) % (1.5 * p["hex_width"])
    off_y = (y * tile_size) % p["hex_height"]
    cx = radius * 1.5 * q - off_x
    cy = h * (r + q / 2.0) - off_y
    pts = [(cx + radius * math.cos(a), cy + radius * math.sin(a))
           for a in (math.radians(60 * i) for i in range(6))]
    pts.append(pts[0])
    return pts


def trend_sql_two_scan(species_pred: str, group_pred: str,
                       keyed_table: str) -> str:
    """:func:`maps_spark.operators.regression.trend_sql` with one
    per-year aggregate per predicate, joined on year."""
    from maps_spark.operators.regression import trend_sql
    tail = trend_sql(species_pred, group_pred, keyed_table) \
        .split("\nsums AS ", 1)[1]
    return f"""
WITH sc AS (SELECT CAST(year AS BIGINT) AS year, count(*) AS speciesCnt
            FROM {keyed_table} WHERE {species_pred} AND year IS NOT NULL
            GROUP BY 1),
gc AS (SELECT CAST(year AS BIGINT) AS year, count(*) AS groupCnt
       FROM {keyed_table} WHERE {group_pred} AND year IS NOT NULL
       GROUP BY 1),
pairs AS (SELECT sc.year,
                 CAST(floor(CAST(sc.speciesCnt AS DOUBLE) * 1000000000.0
                            / CAST(gc.groupCnt AS DOUBLE)) AS BIGINT) AS rs
          FROM sc JOIN gc ON sc.year = gc.year WHERE gc.groupCnt > 0),
sums AS {tail}"""


def hex_trend_body_two_scan(srs: str, z: int, x: int, y: int,
                            species_view: str, group_view: str,
                            **kw) -> str:
    """:func:`maps_spark.sql.oracle.hex_trend_body` with one tile scan
    and one hex aggregate per view, joined on (hexQ, hexR, year)."""
    from maps_spark.operators.binning import hex_assign_sql
    from maps_spark.sql.oracle import TILE, hex_trend_body, tile_ctes
    tail = hex_trend_body(srs, z, x, y, species_view, group_view, **kw) \
        .split("\nsums AS ", 1)[1]
    qe, re = hex_assign_sql("px", "py", z, x, y, TILE)
    s = tile_ctes(srs, z, x, y, species_view, prefix="s", **kw)
    g = tile_ctes(srs, z, x, y, group_view, prefix="g", **kw)
    return f"""WITH {s},
{g},
scp AS (SELECT px, py, CAST(floor(borYear / 100) AS BIGINT) AS year,
               count(*) AS c
        FROM sintile WHERE borYear >= 100 GROUP BY 1, 2, 3),
gcp AS (SELECT px, py, CAST(floor(borYear / 100) AS BIGINT) AS year,
               count(*) AS c
        FROM gintile WHERE borYear >= 100 GROUP BY 1, 2, 3),
sc AS (SELECT coalesce({qe}, 0) AS hexQ, coalesce({re}, 0) AS hexR, year,
              CAST(sum(c) AS BIGINT) AS speciesCnt
       FROM scp GROUP BY 1, 2, 3),
gc AS (SELECT coalesce({qe}, 0) AS hexQ, coalesce({re}, 0) AS hexR, year,
              CAST(sum(c) AS BIGINT) AS groupCnt
       FROM gcp GROUP BY 1, 2, 3),
pairs AS (SELECT sc.hexQ, sc.hexR, sc.year,
                 CAST(floor(CAST(sc.speciesCnt AS DOUBLE) * 1000000000.0
                            / CAST(gc.groupCnt AS DOUBLE)) AS BIGINT) AS rs
          FROM sc JOIN gc ON sc.hexQ = gc.hexQ AND sc.hexR = gc.hexR
                         AND sc.year = gc.year
          WHERE gc.groupCnt > 0),
sums AS {tail}"""
