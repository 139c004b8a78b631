"""Tile addressing: global pixel -> tile XY, tile-local XY, buffer fan-out.

Semantics mirror the reference (Tiles.java:55-127, TileXYUDF.java:69-181):

- ``tile_xy``: clamp(floor(p / T)) into the tile grid.
- ``local_xy``: p - tile*T, with dateline re-addressing for wrapX schemas
  (a pixel near the right world edge appears in tile x=0's left buffer at
  negative local x, and vice versa).
- ``collect_to_tiles``: a pixel is written to its primary tile plus up to
  3 adjacent tiles when it falls within ``buffer`` px of a tile edge
  (8-direction test, toroidal adjacent addressing). This write-time
  duplication is what lets the serving path render any tile without
  reading neighbours.

Deviation from the reference (deliberate, scale-motivated): the reference
appends polar-wrapped copies whose local pixel lands thousands of px
outside the target tile (TileXYUDF.java:180-196 appends unconditionally;
serving filters them out later). We guard each copy with the reference's
own ``tileContains`` test (Tiles.java:104-127) so those dead rows never
enter the shuffle. ``contained_only=False`` restores byte parity.

Everything here is integer Column arithmetic — whole-stage codegen, no
UDFs, no Python in the hot path.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Column

from maps_spark.functions.projections import TILE_SIZE, TileSchema, schema_for

DEFAULT_BUFFER = 64  # px at tileSize 512 (MapBuilder.java:106-108)


def _lit(v: int) -> Column:
    return F.lit(v).cast("long")


def tile_coord(p: Column, z: int, zz_tiles: int, tile_size: int = TILE_SIZE) -> Column:
    """Clamped tile address for one axis (Tiles.java:85-89)."""
    tiles = zz_tiles * (1 << z)
    t = F.floor(p / F.lit(tile_size)).cast("long")
    return F.greatest(_lit(0), F.least(_lit(tiles - 1), t))


def tile_xy(srs: str, z: int, px: Column, py: Column,
            tile_size: int = TILE_SIZE) -> tuple[Column, Column]:
    sch = schema_for(srs)
    return (tile_coord(px, z, sch.zz_tiles_horizontal, tile_size),
            tile_coord(py, z, sch.zz_tiles_vertical, tile_size))


def local_x(sch: TileSchema, z: int, tx: Column, px: Column,
            tile_size: int = TILE_SIZE, buffer: int = DEFAULT_BUFFER) -> Column:
    """Tile-local x with dateline wrap (Tiles.java:55-74)."""
    num_x = sch.num_x_tiles(z)
    max_global = num_x * tile_size
    plain = px - tx * F.lit(tile_size)
    if not (sch.wrap_x and (sch.zz_tiles_horizontal > 1 or z > 0)):
        return plain
    return (
        F.when((tx == 0) & (px >= max_global - buffer), px - F.lit(max_global))
        .when((tx == num_x - 1) & (px < buffer),
              px + F.lit(max_global) - tx * F.lit(tile_size))
        .otherwise(plain)
    )


def collect_to_tiles(srs: str, z: int, px: Column, py: Column,
                     tile_size: int = TILE_SIZE, buffer: int = DEFAULT_BUFFER,
                     contained_only: bool = True,
                     dedup: bool | None = None) -> Column:
    """Array of distinct ``struct<tileX,tileY,pixelX,pixelY>`` targets.

    Mirrors TileXYUDF.call: primary tile + 8-direction buffer test with
    toroidal adjacent addressing; duplicates removed per input row.
    Returned as an array Column to be ``explode``d — one expression tree,
    no UDF, no extra scan.

    ``dedup`` controls the per-row duplicate/null cleanup.
    ``array_distinct`` + ``F.filter`` are higher-order expressions that
    Spark evaluates INTERPRETED (outside whole-stage codegen), and at
    pyramid scale they dominated the fan-out stage (measured ~4x the
    cost of the arithmetic itself at sf0.1). Candidate duplicates can
    only arise from toroidal wrap collisions, which require a tile grid
    narrower than 3 on some axis — so by default the cleanup runs only
    at those tiny zooms, and larger zooms emit the raw 9-slot array
    (nulls included) for the consumer to drop post-``explode`` with a
    codegen-friendly ``IS NOT NULL`` filter.
    """
    sch = schema_for(srs)
    num_x, num_y = sch.num_x_tiles(z), sch.num_y_tiles(z)
    if dedup is None:
        dedup = min(num_x, num_y) < 3
    tx, ty = tile_xy(srs, z, px, py, tile_size)
    lx = local_x(sch, z, tx, px, tile_size, buffer)
    ly = py - ty * F.lit(tile_size)

    near_n = ly < buffer
    near_s = ly >= tile_size - buffer
    near_w = lx < buffer
    near_e = lx >= tile_size - buffer

    def wrap(c: Column, n: int) -> Column:
        # toroidal wrap (TileXYUDF.adjacentTileAddress)
        return F.when(c < 0, F.lit(n - 1).cast("long")) \
                .when(c >= n, _lit(0)).otherwise(c)

    def candidate(cond: Column, dx: int, dy: int) -> Column:
        atx = wrap(tx + dx, num_x) if dx else tx
        aty = wrap(ty + dy, num_y) if dy else ty
        alx = local_x(sch, z, atx, px, tile_size, buffer)
        aly = py - aty * F.lit(tile_size)
        if contained_only:
            cond = cond & (alx >= -buffer) & (alx <= tile_size + buffer) \
                        & (aly >= -buffer) & (aly <= tile_size + buffer)
        st = F.struct(atx.alias("tileX"), aty.alias("tileY"),
                      alx.alias("pixelX"), aly.alias("pixelY"))
        return F.when(cond, st)

    cands = [
        candidate(F.lit(True), 0, 0),                    # primary
        candidate(near_n, 0, -1),
        candidate(near_n & near_w, -1, -1),
        candidate(near_n & near_e, +1, -1),
        candidate(near_e, +1, 0),
        candidate(near_s, 0, +1),
        candidate(near_s & near_w, -1, +1),
        candidate(near_s & near_e, +1, +1),
        candidate(near_w, -1, 0),
    ]
    if dedup:
        return F.array_distinct(
            F.filter(F.array(*cands), lambda c: c.isNotNull()))
    return F.array(*cands)


def explode_to_tiles(pixels, srs: str, z: int,
                     tile_size: int = TILE_SIZE,
                     buffer: int = DEFAULT_BUFFER,
                     carry: tuple[str, ...] = ("mapKey", "borYear", "cnt")):
    """Pixel rows -> one row per (<=4) target tile, staged for speed.

    Same semantics as ``explode(collect_to_tiles(...))`` but built in
    two projections: tile addresses and local coords are computed ONCE
    as real columns (``tx``/``ty``/``lx``/``ly``) below the explode, so
    each of the 9 candidate slots references plain attributes. Inlining
    ``collect_to_tiles`` directly re-expands the
    ``greatest(least(floor(px/size)))`` tree dozens of times inside the
    generator expression — Catalyst does not eliminate common
    subexpressions there, and the measured fan-out stage cost was ~5x
    the arithmetic. Duplicate candidates are impossible when both tile
    axes have >= 3 tiles; at smaller zooms this delegates to the
    dedup'ing array form (row counts there are trivial).

    Output: ``carry`` columns + (tileX, tileY, pixelX, pixelY).
    """
    sch = schema_for(srs)
    num_x, num_y = sch.num_x_tiles(z), sch.num_y_tiles(z)
    tcols = [F.col("t.tileX").alias("tileX"),
             F.col("t.tileY").alias("tileY"),
             F.col("t.pixelX").alias("pixelX"),
             F.col("t.pixelY").alias("pixelY")]
    if min(num_x, num_y) < 3:
        targets = collect_to_tiles(srs, z, F.col("px"), F.col("py"),
                                   tile_size, buffer, dedup=True)
        return (pixels
                .select(*carry, F.explode(targets).alias("t"))
                .select(*carry, *tcols))

    tx, ty = tile_xy(srs, z, F.col("px"), F.col("py"), tile_size)
    staged = pixels.select(*carry, "px", "py",
                           tx.alias("tx"), ty.alias("ty"))

    def wrap(c: Column, n: int) -> Column:
        return F.when(c < 0, F.lit(n - 1).cast("long")) \
                .when(c >= n, _lit(0)).otherwise(c)

    # stage every neighbour address and local coordinate ONCE; the
    # candidate slots below are then pure attribute references
    lx = local_x(sch, z, F.col("tx"), F.col("px"), tile_size, buffer)
    staged = staged.select(
        *carry, "px", "py", "tx", "ty", lx.alias("lx"),
        (F.col("py") - F.col("ty") * F.lit(tile_size)).alias("ly"),
        wrap(F.col("tx") - 1, num_x).alias("axw"),
        wrap(F.col("tx") + 1, num_x).alias("axe"),
        wrap(F.col("ty") - 1, num_y).alias("ayn"),
        wrap(F.col("ty") + 1, num_y).alias("ays"))
    staged = staged.select(
        *carry, "tx", "ty", "lx", "ly", "axw", "axe", "ayn", "ays",
        local_x(sch, z, F.col("axw"), F.col("px"), tile_size, buffer)
        .alias("lxw"),
        local_x(sch, z, F.col("axe"), F.col("px"), tile_size, buffer)
        .alias("lxe"),
        (F.col("py") - F.col("ayn") * F.lit(tile_size)).alias("lyn"),
        (F.col("py") - F.col("ays") * F.lit(tile_size)).alias("lys"))

    lxc, lyc = F.col("lx"), F.col("ly")
    near_n = lyc < buffer
    near_s = lyc >= tile_size - buffer
    near_w = lxc < buffer
    near_e = lxc >= tile_size - buffer
    ax = {-1: F.col("axw"), 0: F.col("tx"), 1: F.col("axe")}
    ay = {-1: F.col("ayn"), 0: F.col("ty"), 1: F.col("ays")}
    alx_by = {-1: F.col("lxw"), 0: lxc, 1: F.col("lxe")}
    aly_by = {-1: F.col("lyn"), 0: lyc, 1: F.col("lys")}

    def candidate(cond: Column, dx: int, dy: int) -> Column:
        alx, aly = alx_by[dx], aly_by[dy]
        cond = cond & (alx >= -buffer) & (alx <= tile_size + buffer) \
                    & (aly >= -buffer) & (aly <= tile_size + buffer)
        st = F.struct(ax[dx].alias("tileX"), ay[dy].alias("tileY"),
                      alx.alias("pixelX"), aly.alias("pixelY"))
        return F.when(cond, st)

    cands = [
        candidate(F.lit(True), 0, 0),
        candidate(near_n, 0, -1),
        candidate(near_n & near_w, -1, -1),
        candidate(near_n & near_e, +1, -1),
        candidate(near_e, +1, 0),
        candidate(near_s, 0, +1),
        candidate(near_s & near_w, -1, +1),
        candidate(near_s & near_e, +1, +1),
        candidate(near_w, -1, 0),
    ]
    # interior pixels (no edge within `buffer`, ~56% of rows at tile
    # 512 / buffer 64) generate a 1-slot array — the 9-slot form made
    # the Generate emit 9x the input rows before the null filter, and
    # it was the single hottest stage of the z16 build
    near_any = near_n | near_s | near_w | near_e
    arr = F.when(near_any, F.array(*cands)).otherwise(F.array(cands[0]))
    return (staged
            .select(*carry, F.explode(arr).alias("t"))
            .where(F.col("t").isNotNull())
            .select(*carry, *tcols))


def explode_to_tiles_multi(pixels_z, srs: str,
                           tile_size: int = TILE_SIZE,
                           buffer: int = DEFAULT_BUFFER,
                           carry: tuple[str, ...] = ("mapKey", "borYear",
                                                     "cnt")):
    """Multi-zoom fan-out: same semantics as :func:`explode_to_tiles`
    but ``z`` is a DATA COLUMN, so one scan fans out every zoom of a
    span table at once (the span build concatenates 6-7 pixel levels
    into one persisted parent; a per-zoom fan-out re-scans that parent
    once per level — 11 scans for a z10 pyramid vs 2 with this form).

    Valid for rows with ``z >= 2`` only (asserted by the caller): at
    z >= 2 every schema's tile grid is at least 4 wide on both axes, so
    toroidal wrap collisions (the only duplicate source —
    TileXYUDF.java:104-181) are impossible and the dateline-wrap
    precondition ``zz_h > 1 or z > 0`` (Tiles.java:55-74) is constant
    true. Grid sizes become per-row expressions
    (``zz << z`` via shiftleft) — still pure integer codegen.

    Output: ``carry`` + z + (tileX, tileY, pixelX, pixelY).
    """
    sch = schema_for(srs)
    zz_h, zz_v = sch.zz_tiles_horizontal, sch.zz_tiles_vertical
    nx = F.expr(f"shiftleft(CAST({zz_h} AS BIGINT), z)")
    ny = F.expr(f"shiftleft(CAST({zz_v} AS BIGINT), z)")
    tsz = F.lit(tile_size)

    def tcoord(p: Column, n: Column) -> Column:
        return F.greatest(_lit(0),
                          F.least(n - 1, F.floor(p / tsz).cast("long")))

    staged = pixels_z.select(
        *carry, "z", "px", "py", nx.alias("nx"), ny.alias("ny"),
        tcoord(F.col("px"), nx).alias("tx"),
        tcoord(F.col("py"), ny).alias("ty"))

    def loc_x(tx: Column, px: Column, nx: Column) -> Column:
        plain = px - tx * tsz
        if not sch.wrap_x:
            return plain
        mgx = nx * tsz
        return (F.when((tx == 0) & (px >= mgx - buffer), px - mgx)
                .when((tx == nx - 1) & (px < buffer), px + mgx - tx * tsz)
                .otherwise(plain))

    def wrap(c: Column, n: Column) -> Column:
        return (F.when(c < 0, n - 1).when(c >= n, _lit(0)).otherwise(c))

    nxc, nyc = F.col("nx"), F.col("ny")
    staged = staged.select(
        *carry, "z", "px", "py", "nx", "tx", "ty",
        loc_x(F.col("tx"), F.col("px"), nxc).alias("lx"),
        (F.col("py") - F.col("ty") * tsz).alias("ly"),
        wrap(F.col("tx") - 1, nxc).alias("axw"),
        wrap(F.col("tx") + 1, nxc).alias("axe"),
        wrap(F.col("ty") - 1, nyc).alias("ayn"),
        wrap(F.col("ty") + 1, nyc).alias("ays"))
    staged = staged.select(
        *carry, "z", "tx", "ty", "lx", "ly", "axw", "axe", "ayn", "ays",
        loc_x(F.col("axw"), F.col("px"), nxc).alias("lxw"),
        loc_x(F.col("axe"), F.col("px"), nxc).alias("lxe"),
        (F.col("py") - F.col("ayn") * tsz).alias("lyn"),
        (F.col("py") - F.col("ays") * tsz).alias("lys"))

    lxc, lyc = F.col("lx"), F.col("ly")
    near_n = lyc < buffer
    near_s = lyc >= tile_size - buffer
    near_w = lxc < buffer
    near_e = lxc >= tile_size - buffer
    ax = {-1: F.col("axw"), 0: F.col("tx"), 1: F.col("axe")}
    ay = {-1: F.col("ayn"), 0: F.col("ty"), 1: F.col("ays")}
    alx_by = {-1: F.col("lxw"), 0: lxc, 1: F.col("lxe")}
    aly_by = {-1: F.col("lyn"), 0: lyc, 1: F.col("lys")}

    def candidate(cond: Column, dx: int, dy: int) -> Column:
        alx, aly = alx_by[dx], aly_by[dy]
        cond = cond & (alx >= -buffer) & (alx <= tile_size + buffer) \
                    & (aly >= -buffer) & (aly <= tile_size + buffer)
        st = F.struct(ax[dx].alias("tileX"), ay[dy].alias("tileY"),
                      alx.alias("pixelX"), aly.alias("pixelY"))
        return F.when(cond, st)

    cands = [
        candidate(F.lit(True), 0, 0),
        candidate(near_n, 0, -1),
        candidate(near_n & near_w, -1, -1),
        candidate(near_n & near_e, +1, -1),
        candidate(near_e, +1, 0),
        candidate(near_s, 0, +1),
        candidate(near_s & near_w, -1, +1),
        candidate(near_s & near_e, +1, +1),
        candidate(near_w, -1, 0),
    ]
    tcols = [F.col("t.tileX").alias("tileX"),
             F.col("t.tileY").alias("tileY"),
             F.col("t.pixelX").alias("pixelX"),
             F.col("t.pixelY").alias("pixelY")]
    # 1-slot array for interior pixels — see explode_to_tiles
    near_any = near_n | near_s | near_w | near_e
    arr = F.when(near_any, F.array(*cands)).otherwise(F.array(cands[0]))
    return (staged
            .select(*carry, "z", F.explode(arr).alias("t"))
            .where(F.col("t").isNotNull())
            .select(*carry, "z", *tcols))


def to_180_degrees(lng: float) -> float:
    """Normalize any longitude to (-180, 180] (WGS84.java:80-87)."""
    lng = math.fmod(lng, 360.0)
    if lng > 180.0:
        lng -= 360.0
    elif lng < -180.0:
        lng += 360.0
    return lng


def tile_boundary(srs: str, z: int, x: int, y: int,
                  tile_buffer: float = 0.0
                  ) -> tuple[float, float, float, float]:
    """WGS84 bbox (minLng, minLat, maxLng, maxLat) of a tile + fractional
    buffer — the ad-hoc path's inverse projection (C12;
    SphericalMercator.java:56-77, WGS84.java:60-74). Polar projections
    are served by four sub-requests in the reference
    (AdHocMapsResource.java:156-170) and are out of the ad-hoc scope
    here.
    """
    sch = schema_for(srs)
    if srs in ("EPSG:3857", "EPSG_3857"):
        if z == 0:
            tile_buffer = 0.0
        max_lat = 85.0511287798066

        def tile_lat(yy: float) -> float:
            n = math.pi - (2.0 * math.pi * yy) / (1 << z)
            return math.fmod(math.degrees(math.atan(math.sinh(n))), 90.0)

        def tile_lng(xx: float) -> float:
            return xx / (1 << z) * 360.0 - 180.0

        north = min(max_lat, max(-max_lat, tile_lat(y - tile_buffer)))
        south = min(max_lat, max(-max_lat, tile_lat(y + tile_buffer + 1)))
        west = to_180_degrees(tile_lng(x - tile_buffer))
        east = to_180_degrees(tile_lng(x + 1 + tile_buffer))
        return (west, south, east, north)
    if srs in ("EPSG:4326", "EPSG_4326"):
        degrees_per_tile = 180.0 / (1 << z)
        buffer_degrees = tile_buffer * degrees_per_tile
        min_lng = to_180_degrees(degrees_per_tile * x - 180.0
                                 - buffer_degrees)
        max_lng = to_180_degrees(min_lng + degrees_per_tile
                                 + 2 * buffer_degrees)
        max_lat = min(90.0 - degrees_per_tile * y + buffer_degrees, 90.0)
        min_lat = max(max_lat - degrees_per_tile - 2 * buffer_degrees, -90.0)
        return (min_lng, min_lat, max_lng, max_lat)
    raise ValueError(f"tile_boundary unsupported for {srs}")


def tile_boundaries(srs: str, z: int, x: int, y: int,
                    tile_buffer: float = 0.0, tile_size: int = TILE_SIZE,
                    samples: int = 16
                    ) -> list[tuple[float, float, float, float]]:
    """WGS84 bbox(es) of a buffered tile, all projections (C12).

    3857/4326: the closed-form :func:`tile_boundary`, one bbox.
    3575/3031: the buffered tile rectangle is edge-sampled in global
    pixel space and inverse-projected; a tile containing the pole can't
    be a lat/lng bbox, so it expands to four quadrant requests exactly
    like the reference (AdHocMapsResource.java:156-170). A bbox whose
    minLng > maxLng crosses the antimeridian (callers OR the halves).
    """
    from maps_spark.functions import projections as P
    srs_n = srs.replace("_", ":")
    if srs_n in ("EPSG:3857", "EPSG:4326"):
        return [tile_boundary(srs_n, z, x, y, tile_buffer)]
    if srs_n not in ("EPSG:3575", "EPSG:3031"):
        raise ValueError(srs)
    north = srs_n == "EPSG:3575"
    n = tile_size * (1 << z)
    x0 = (x - tile_buffer) * tile_size
    x1 = (x + 1 + tile_buffer) * tile_size
    y0 = (y - tile_buffer) * tile_size
    y1 = (y + 1 + tile_buffer) * tile_size
    pole = n / 2.0  # both polar grids center the pole
    if x0 <= pole <= x1 and y0 <= pole <= y1:
        # pole inside: four quadrant requests, pole-side latitude open
        corners = [polar_pixel_to_latlng_clamped(srs_n, cx, cy, z, tile_size)
                   for cx in (x0, x1) for cy in (y0, y1)]
        lat_edge = (min if north else max)(lat for lat, _ in corners)
        lo, hi = (lat_edge, 90.0) if north else (-90.0, lat_edge)
        return [(-180.0, lo, -90.0, hi), (-90.0, lo, 0.0, hi),
                (0.0, lo, 90.0, hi), (90.0, lo, 180.0, hi)]
    pts = []
    for i in range(samples + 1):
        f = i / samples
        pts.append((x0 + f * (x1 - x0), y0))
        pts.append((x0 + f * (x1 - x0), y1))
        pts.append((x0, y0 + f * (y1 - y0)))
        pts.append((x1, y0 + f * (y1 - y0)))
    lls = [polar_pixel_to_latlng_clamped(srs_n, px, py, z, tile_size)
           for px, py in pts]
    lats = [lat for lat, _ in lls]
    lngs = [lng for _, lng in lls]
    # antimeridian-aware longitude extent: complement of the max gap
    from maps_spark.operators.capabilities import centred_spread
    got = centred_spread([int(round(v * 1e5)) for v in lngs], 360 * 100000)
    min_lng, max_lng = (got[0] / 1e5, got[1] / 1e5) if got else (-180.0,
                                                                 180.0)
    return [(min_lng, min(lats), max_lng, max(lats))]


def polar_pixel_to_latlng_clamped(srs: str, gx: float, gy: float, z: int,
                                  tile_size: int = TILE_SIZE
                                  ) -> tuple[float, float]:
    from maps_spark.functions import projections as P
    lat, lng = P.polar_pixel_to_latlng(srs, gx, gy, z, tile_size)
    return (max(-90.0, min(90.0, lat)), max(-180.0, min(180.0, lng)))
