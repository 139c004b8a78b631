"""Serving-time query semantics as batch DataFrame queries.

The reference's tile server filters/re-aggregates stored tiles in memory
per request (VectorTileFilters.java:102-242, PointFeatureFilters.java:
65-114). This module expresses the same semantics two ways:

- DataFrame builders over the occurrence table (``density_tile``): the
  engine path the correctness gate checks — for any (mapKey, srs, z, x,
  y, year-range, BOR-set) they produce exactly the feature set a served
  tile would contain (tile containment incl. dateline buffer, year/BOR
  filtering, per-pixel merge, total).
- ``filter_decoded_tile`` and ``points_to_tile``: the single-tile
  in-memory path over a tile decoded into numpy columns, or over a
  view's point bundle as columns (the point-lookup serve flow against
  the tile store), vectorized over the features. Both hand the binned
  endpoint ``(px, py, total)`` arrays.

Filter semantics (pinned to the reference):

- year range is inclusive, null-unbounded either side (Range.java:50-60);
  a feature is kept if ANY of its year attributes is in range, and only
  in-range year attributes contribute to its counts/total
  (VectorTileFilters.java:211-224, 255-268).
- basisOfRecord filters select source layers (VectorTileFilters.java:52-54);
  the response collapses everything into one layer with per-pixel merge.
- tile containment includes the buffer and wraps at the dateline for
  wrapX schemas (Tiles.java:104-127).
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from maps_spark.functions import projections as P
from maps_spark.functions import tiles as T
from maps_spark.operators import binning
from maps_spark.sql import dual

TOTAL_KEY = "total"


def year_in_range(year: Column, lo: int | None, hi: int | None) -> Column:
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (year >= lo)
    if hi is not None:
        cond = cond & (year <= hi)
    return cond


def tile_contains_cols(srs: str, z: int, x: int, y: int, px: Column,
                       py: Column, tile_size: int = P.TILE_SIZE,
                       buffer: int = T.DEFAULT_BUFFER) -> Column:
    """Reference Tiles.tileContains incl. dateline wrap (Tiles.java:104-127)."""
    sch = P.schema_for(srs)
    vert = (py >= y * tile_size - buffer) & (py <= y * tile_size + buffer + tile_size)
    horiz = (px >= x * tile_size - buffer) & (px <= x * tile_size + buffer + tile_size)
    contained = horiz & vert
    if sch.wrap_x:
        max_tile = sch.num_x_tiles(z) - 1
        world = sch.num_x_tiles(z) * tile_size
        if x == 0:
            contained = contained | (vert & (px >= world - buffer))
        if x == max_tile:
            contained = contained | (vert & (px < buffer))
    return contained


def local_px_cols(srs: str, z: int, x: int, y: int, px: Column, py: Column,
                  tile_size: int = P.TILE_SIZE,
                  buffer: int = T.DEFAULT_BUFFER) -> tuple[Column, Column]:
    """Tile-local coords incl. dateline re-addressing (Tiles.java:55-74)."""
    sch = P.schema_for(srs)
    lx = px - F.lit(x * tile_size)
    if sch.wrap_x and (sch.zz_tiles_horizontal > 1 or z > 0):
        world = sch.num_x_tiles(z) * tile_size
        if x == 0:
            lx = F.when(px >= world - buffer, px - world).otherwise(lx)
        if x == sch.num_x_tiles(z) - 1:
            lx = F.when(px < buffer, px + world - x * tile_size).otherwise(lx)
    return lx, py - F.lit(y * tile_size)


def _tile_rows(keyed: DataFrame, keys: Column, srs: str, z: int, x: int,
               y: int, year_range: tuple[int | None, int | None],
               bors: list[str] | None, tile_size: int,
               buffer: int) -> DataFrame:
    """The keyed rows matching ``keys`` that fall in the served tile:
    (mapKey, px, py, year), tile-local and ungrouped."""
    pxc, pyc = P.pixel_cols(srs, "lat", "lng", z, tile_size)
    df = (keyed.where(keys)
          .select("mapKey", F.col("borYear"),
                  pxc.alias("gpx"), pyc.alias("gpy"))
          .where(F.col("gpx").isNotNull()))
    if bors:
        codes = [dual.BOR_CODE[b] for b in bors]
        df = df.where((F.col("borYear") % 100).isin(codes))
    lo, hi = year_range
    df = df.where(year_in_range(F.floor(F.col("borYear") / 100), lo, hi))
    df = df.where(tile_contains_cols(srs, z, x, y, F.col("gpx"), F.col("gpy"),
                                     tile_size, buffer))
    lx, ly = local_px_cols(srs, z, x, y, F.col("gpx"), F.col("gpy"),
                           tile_size, buffer)
    return df.select("mapKey", lx.alias("px"), ly.alias("py"),
                     F.floor(F.col("borYear") / 100).cast("long")
                     .alias("year"))


def density_tile(keyed: DataFrame, map_key: str, srs: str, z: int, x: int,
                 y: int, year_range: tuple[int | None, int | None] = (None, None),
                 bors: list[str] | None = None, verbose: bool = False,
                 tile_size: int = P.TILE_SIZE,
                 buffer: int = T.DEFAULT_BUFFER) -> DataFrame:
    """Feature rows of the served tile, straight from the keyed
    occurrence table. Columns: (px, py, total) or verbose
    (px, py, year, cnt)."""
    df = _tile_rows(keyed, F.col("mapKey") == map_key, srs, z, x, y,
                    year_range, bors, tile_size, buffer)
    if verbose:
        return (df.groupBy("px", "py", "year")
                .agg(F.count("*").alias("cnt")))
    return (df.groupBy("px", "py")
            .agg(F.count("*").cast("long").alias("total")))


def country_masked_tile(keyed: DataFrame, map_key: str, mask_key: str,
                        srs: str, z: int, x: int, y: int,
                        tile_size: int = P.TILE_SIZE,
                        buffer: int = T.DEFAULT_BUFFER) -> DataFrame:
    """J1 country mask (VectorTileFilters.java:83-99,
    TileResource.java:576-583): keep the served tile's pixels that also
    carry features of the mask view (``4:<ISO>``).

    One scan of both views, grouped on the tile-local pixel with a
    conditional count per side; a pixel is kept when both counts are
    positive — the semi-join of the view's pixels on the mask's,
    without a second scan or the join."""
    rows = _tile_rows(keyed, F.col("mapKey").isin(map_key, mask_key), srs,
                      z, x, y, (None, None), None, tile_size, buffer)
    side = F.col("mapKey")
    return (rows.groupBy("px", "py")
            .agg(F.count(F.when(side == map_key, 1)).alias("total"),
                 F.count(F.when(side == mask_key, 1)).alias("mask"))
            .where((F.col("total") > 0) & (F.col("mask") > 0))
            .drop("mask"))


# -- single-tile in-memory path (tile-store serve flow) ----------------------


def filter_decoded_tile(cols, srs: str, z: int, x: int, y: int,
                        source: tuple[int, int] | None = None,
                        year_range=(None, None), bors=None,
                        verbose: bool = False, tile_size: int = P.TILE_SIZE,
                        buffer: int = T.DEFAULT_BUFFER):
    """Reference collectInVectorTile over one decoded tile
    (:class:`maps_spark.functions.mvt.TileColumns`), vectorized over its
    rows. ``source`` is the (x, y) address the tile was stored under
    when serving an adjacent/identical address.

    Returns the tile-local ``(px, py, total)`` int64 arrays, one entry
    per pixel sorted by (px, py) (:func:`pixel_dict` is their dict
    view), or, verbose, {(px, py): {year: cnt, 'total': n}}.
    """
    sch = P.schema_for(srs)
    sx, sy = source if source else (x, y)
    lo, hi = year_range
    gx = cols.x.astype(np.int64) + sx * tile_size
    gy = cols.y.astype(np.int64) + sy * tile_size
    keep = _contains(sch, z, x, y, gx, gy, tile_size, buffer)
    if bors:
        keep &= np.array([n in bors for n in cols.names], bool)[cols.layer]
    key_ok = cols.is_year.copy()
    if lo is not None:
        key_ok &= cols.year >= lo
    if hi is not None:
        key_ok &= cols.year <= hi
    ent_ok = key_ok[cols.key]
    if lo is not None or hi is not None:
        keep &= cols.row_sums(ent_ok) > 0
    lx, ly = _local_xy(sch, z, x, y, gx, gy, tile_size, buffer)
    if verbose:
        row = np.repeat(np.arange(len(keep)), np.diff(cols.offsets))
        sel = ent_ok & keep[row]
        return _verbose_pixels(lx[row[sel]], ly[row[sel]], cols.key[sel],
                               cols.keys, cols.count[sel])
    totals = cols.row_sums(np.where(ent_ok, cols.count, 0))
    return binning.cell_sums((lx[keep], ly[keep]), totals[keep])


def points_to_tile(cols, srs: str, z: int, x: int, y: int,
                   year_range=(None, None), bors=None,
                   verbose: bool = False, tile_size: int = P.TILE_SIZE,
                   buffer: int = T.DEFAULT_BUFFER):
    """A8 point-mode serving (PointFeatureFilters.java:65-114): project
    a view's bundle at request time, keep the points on the requested
    tile (+buffer, z0 dateline copy), aggregate per pixel.

    ``cols``: the bundle's
    :class:`~maps_spark.functions.pointpb.PointColumns`, as
    :func:`maps_spark.functions.pointpb.decode_features` returns them.
    In-memory, per request and vectorized over the bundle — the
    reference quotes sub-5 ms for this path. A point without a year
    (0) is kept only when no year bound is set.

    Returns the same shapes as :func:`filter_decoded_tile`.
    """
    from maps_spark.functions import pointpb
    sch = P.schema_for(srs)
    lo, hi = year_range
    keep = P.is_plottable(srs, cols.lat, cols.lng)
    if bors:
        keep &= np.isin(cols.bor, pointpb.bor_codes(bors))
    if lo is not None or hi is not None:
        keep &= cols.year != 0
        if lo is not None:
            keep &= cols.year >= lo
        if hi is not None:
            keep &= cols.year <= hi
    fgx, fgy = P.global_xy(srs, cols.lat[keep], cols.lng[keep], z,
                           tile_size)
    year, count = cols.year[keep], cols.count[keep]
    if P._norm(srs) in ("EPSG:3575", "EPSG:3031"):
        # polar SRS: the canvas-bounds filter is part of the pixel
        # semantics (dual._azimuthal_exprs NULLs overshooting
        # buffer-band rows) — the point path must drop the same records
        # or a view served pre-threshold (points) vs post-threshold
        # (tiles) would return different feature sets
        on = ((0 <= fgx) & (fgx < sch.num_x_tiles(z) * tile_size)
              & (0 <= fgy) & (fgy < sch.num_y_tiles(z) * tile_size))
        fgx, fgy, year, count = fgx[on], fgy[on], year[on], count[on]
    gx = np.floor(fgx).astype(np.int64)
    gy = np.floor(fgy).astype(np.int64)
    on = _contains(sch, z, x, y, gx, gy, tile_size, buffer)
    lx, ly = _local_xy(sch, z, x, y, gx[on], gy[on], tile_size, buffer)
    if verbose:
        years, key = np.unique(year[on], return_inverse=True)
        return _verbose_pixels(lx, ly, key, [str(v) for v in years.tolist()],
                               count[on])
    return binning.cell_sums((lx, ly), count[on])


def pixel_dict(tile) -> dict:
    """{(px, py): total} of a ``(px, py, total)`` tile."""
    px, py, total = tile
    return dict(zip(zip(px.tolist(), py.tolist()), total.tolist()))


def _local_xy(sch, z, x, y, gx, gy, tile_size, buffer):
    """Tile-local coordinates, dateline re-addressed (Tiles.java:55-74),
    of global pixels ``gx``/``gy`` that lie within the buffered tile."""
    lx = gx - x * tile_size
    if sch.wrap_x and (sch.zz_tiles_horizontal > 1 or z > 0):
        world = sch.num_x_tiles(z) * tile_size
        if x == 0:
            lx = np.where(gx >= world - buffer, gx - world, lx)
        elif x == sch.num_x_tiles(z) - 1:
            lx = np.where(gx < buffer, gx + world - x * tile_size, lx)
    return lx, gy - y * tile_size


def _verbose_pixels(lx, ly, key, names, counts) -> dict:
    """{(px, py): {names[key]: cnt, ..., 'total': n}} of ``counts``
    summed per pixel and key code."""
    out: dict = {}
    px, py, k, sums = binning.cell_sums((lx, ly, key), counts)
    for pixel, ki, n in zip(zip(px.tolist(), py.tolist()), k.tolist(),
                            sums.tolist()):
        out.setdefault(pixel, {})[names[ki]] = n
    for c in out.values():
        c[TOTAL_KEY] = sum(c.values())
    return out


def apply_country_mask(tile: dict, mask: dict) -> dict:
    """J1 at serve time (VectorTileFilters.java:83-99 maskTileByTile):
    keep the served tile's pixels present in the mask view's pixel set.
    Works on either dict shape of :func:`serve_tile`."""
    return {pix: v for pix, v in tile.items() if pix in mask}


def serve_tile(spark, root: str, map_key: str, srs: str, z: int, x: int,
               y: int, year_range=(None, None), bors=None,
               verbose: bool = False, tile_size: int = P.TILE_SIZE,
               buffer: int = T.DEFAULT_BUFFER, reader=None):
    """The getTile router (TileResource.java:552-610): pre-built tile
    hit -> decode + re-filter; miss -> point-bundle fallback projected
    at request time. Returns the filtered per-pixel dict,
    {(px, py): total} (see :func:`pixel_dict`) or the verbose shape of
    :func:`filter_decoded_tile`, or None when the view has no data.

    Pass a :class:`maps_spark.sources.tile_store.TileReader` as
    ``reader`` for cached serving: warm lookups skip Spark entirely and
    reuse the tile's decoded columns and the view's point-bundle
    columns. Without one, each lookup is a partition-pruned Spark job
    and its bytes are decoded per request."""
    tile = _served_pixels(spark, root, map_key, srs, z, x, y, year_range,
                          bors, verbose, tile_size, buffer, reader)
    return pixel_dict(tile) if tile is not None and not verbose else tile


def _served_pixels(spark, root, map_key, srs, z, x, y, year_range, bors,
                   verbose, tile_size, buffer, reader):
    """:func:`serve_tile`'s answer in the shapes of
    :func:`filter_decoded_tile`, or None."""
    from maps_spark.functions import mvt, pointpb
    from maps_spark.sources import tile_store
    if reader is not None:
        cols = reader.get_tile_columns(map_key, srs, z, x, y)
    else:
        data = tile_store.get_tile_bytes(spark, root, map_key, srs, z, x, y)
        cols = None if data is None else mvt.decode_columns(data)
    if cols is not None:
        return filter_decoded_tile(cols, srs, z, x, y,
                                   year_range=year_range, bors=bors,
                                   verbose=verbose, tile_size=tile_size,
                                   buffer=buffer)
    if reader is not None:
        points = reader.get_point_columns(map_key)
    else:
        blob = tile_store.get_point_bytes(spark, root, map_key)
        points = None if blob is None else pointpb.decode_features(blob)
    if points is None:
        return None
    return points_to_tile(points, srs, z, x, y,
                          year_range=year_range, bors=bors, verbose=verbose,
                          tile_size=tile_size, buffer=buffer)


def serve_binned_tile(spark, root: str, map_key: str, srs: str, z: int,
                      x: int, y: int, bin: str = "hex",
                      hex_per_tile: int | None = None,
                      square_size: int | None = None,
                      year_range=(None, None), bors=None,
                      tile_size: int = P.TILE_SIZE,
                      buffer: int = T.DEFAULT_BUFFER,
                      reader=None) -> bytes | None:
    """The ``bin=hex|square`` density endpoint
    (TileResource.java:552-610 -> HexBin/SquareBin.bin): serve the
    filtered tile, re-bin it at request time, and return ONE MVT
    POLYGON layer "occurrence" with a ``total`` attribute per cell —
    hexagon rings from the aligned grid (HexBin.java:154-161), square
    cell footprints for ``bin="square"`` (SquareBin.java:97-121), cells
    in (q, r) / (cellX, cellY) order. Returns None when the view has no
    data on this tile."""
    from maps_spark.functions import mvt
    tile = _served_pixels(spark, root, map_key, srs, z, x, y, year_range,
                          bors, False, tile_size, buffer, reader)
    if tile is None:
        return None
    if bin == "square":
        size = square_size or binning.DEFAULT_SQUARE_SIZE
        cx, cy, totals = binning.square_bin_dict(*tile, size, tile_size)
        rings = binning.square_rings(cx, cy, size)
    elif bin == "hex":
        per_tile = hex_per_tile or binning.DEFAULT_HEX_PER_TILE
        q, r, totals = binning.hex_bin_dict(*tile, z, x, y, tile_size,
                                            per_tile)
        rings = binning.hex_rings(q, r, z, x, y, tile_size, per_tile)
    else:
        raise ValueError(f"unknown bin mode: {bin}")
    return mvt.encode_polygon_layer("occurrence", rings, totals,
                                    extent=tile_size)


def serve_binned_png(spark, root: str, map_key: str, srs: str, z: int,
                     x: int, y: int, style: str = "classic.poly",
                     bin: str = "hex", scale: float = 1.0,
                     **kwargs) -> bytes | None:
    """Binned tile -> styled polygon PNG (the poly-style raster path:
    mapnik-server renderer.js over a binned MVT). ``kwargs`` pass
    through to :func:`serve_binned_tile`."""
    from maps_spark.functions import mvt, png
    data = serve_binned_tile(spark, root, map_key, srs, z, x, y,
                             bin=bin, **kwargs)
    if data is None:
        return None
    cells = [(ring, attrs.get(TOTAL_KEY, 0))
             for ring, attrs in mvt.decode_polygon_tile(data)
             .get("occurrence", [])]
    if style not in png.POLY_STYLES:
        style = "classic.poly"  # poly endpoint default (styles.js fallback)
    return png.render_poly_png(cells, style, scale=scale)


def _contains(sch, z, x, y, gx, gy, tile_size, buffer):
    """Reference Tiles.tileContains (Tiles.java:104-127) for a global
    pixel or, elementwise, for arrays of them."""
    vert = (gy >= y * tile_size - buffer) & \
        (gy <= y * tile_size + tile_size + buffer)
    inside = vert & (gx >= x * tile_size - buffer) & \
        (gx <= x * tile_size + tile_size + buffer)
    if sch.wrap_x:
        world = sch.num_x_tiles(z) * tile_size
        if x == 0:
            inside = inside | (vert & (gx >= world - buffer))
        if x == sch.num_x_tiles(z) - 1:
            inside = inside | (vert & (gx < buffer))
    return inside
