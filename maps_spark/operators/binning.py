"""Hexagon and square binning of tile features (HexBin.java, SquareBin.java).

Both bin a tile's point features into cells and sum per-cell totals:

- square: ``cell = (x / cellSize, y / cellSize)`` over the visible
  region only — squares tessellate so no buffer is needed
  (SquareBin.java:67-141).
- hex: flat-top hexagon grid sized so ~hexPerTile hexagons span the
  tile, with a per-tile grid offset so hexagons align across tile
  boundaries (HexBin.java:85-118). Assignment is the standard axial
  coordinate + cube-rounding math (re-derived from public redblobgames
  notes rather than the reference's Hexameter library; SURVEY §7 risk 3).

Hex math as dual-dialect SQL so the oracle can replay it exactly.
"""

from __future__ import annotations

import math

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

DEFAULT_HEX_PER_TILE = 51   # TileResource defaults
DEFAULT_SQUARE_SIZE = 16


def square_bin(features: DataFrame, square_size: int = DEFAULT_SQUARE_SIZE,
               tile_size: int = 512) -> DataFrame:
    """(px, py, total) -> (cellX, cellY, total); buffer excluded
    (SquareBin.java:86-109)."""
    vis = features.where((F.col("px") >= 0) & (F.col("px") < tile_size) &
                         (F.col("py") >= 0) & (F.col("py") < tile_size))
    return (vis.groupBy(
                F.floor(F.col("px") / square_size).cast("long").alias("cellX"),
                F.floor(F.col("py") / square_size).cast("long").alias("cellY"))
            .agg(F.sum("total").alias("total")))


def hex_params(tile_size: int = 512,
               min_hex_per_tile: int = DEFAULT_HEX_PER_TILE) -> dict:
    """Grid geometry (HexBin.java:85-98)."""
    w = 1.5 * ((min_hex_per_tile + 1) / 2.0)
    hex_width = tile_size / w
    radius = hex_width / 2.0
    hex_height = math.sqrt(3.0) / 2.0 * hex_width
    return {"hex_width": hex_width, "radius": radius,
            "hex_height": hex_height}


def hex_assign_sql(px: str, py: str, z: int, x: int, y: int,
                   tile_size: int = 512,
                   min_hex_per_tile: int = DEFAULT_HEX_PER_TILE
                   ) -> tuple[str, str]:
    """Dual-dialect (q, r) axial hex ids for a tile-local pixel.

    Alignment: offset the pixel by the per-tile grid offset
    (HexBin.java:113-118) so ids are consistent across tiles; then
    flat-top axial conversion + cube rounding.

    Every operand is cast to DOUBLE, so both engines evaluate the text
    in IEEE double with :func:`hex_bin_dict`'s operation order. Spark
    reads a literal such as ``2.0`` as a DECIMAL and would otherwise
    run ``qf`` in ``decimal(38,6)``, which breaks the cube-rounding
    ties on hexagon edges differently from DuckDB.
    """
    p = hex_params(tile_size, min_hex_per_tile)
    r = f"CAST({p['radius']!r} AS DOUBLE)"
    # per-tile grid offsets use the global tile address
    off_x = (x * tile_size) % (1.5 * p["hex_width"])
    off_y = (y * tile_size) % p["hex_height"]
    xs = f"(CAST({px} AS DOUBLE) + CAST({off_x!r} AS DOUBLE))"
    ys = f"(CAST({py} AS DOUBLE) + CAST({off_y!r} AS DOUBLE))"
    qf = f"((CAST(2 AS DOUBLE) / 3) * {xs} / {r})"
    rf = (f"((CAST(-1 AS DOUBLE) / 3) * {xs}"
          f" + (sqrt(CAST(3 AS DOUBLE)) / 3) * {ys}) / {r}")
    return cube_round_sql(qf, rf)


def cube_round_sql(qf: str, rf: str) -> tuple[str, str]:
    """Cube rounding (public hex-grid algorithm) as portable SQL."""
    sf = f"(-({qf}) - ({rf}))"
    rq, rr, rs = f"round({qf})", f"round({rf})", f"round({sf})"
    dq = f"abs({rq} - ({qf}))"
    dr = f"abs({rr} - ({rf}))"
    ds = f"abs({rs} - ({sf}))"
    q_final = (f"CAST(CASE WHEN {dq} > {dr} AND {dq} > {ds} "
               f"THEN -({rr}) - ({rs}) ELSE {rq} END AS BIGINT)")
    r_final = (f"CAST(CASE WHEN NOT ({dq} > {dr} AND {dq} > {ds}) "
               f"AND {dr} > {ds} THEN -({rq}) - ({rs}) ELSE {rr} END AS BIGINT)")
    return q_final, r_final


def hex_bin(features: DataFrame, z: int, x: int, y: int,
            tile_size: int = 512,
            min_hex_per_tile: int = DEFAULT_HEX_PER_TILE) -> DataFrame:
    """(px, py, total) -> (hexQ, hexR, total). Buffer pixels included
    (hexagons straddle tile edges; duplication across neighbouring tiles
    yields the same hex ids thanks to the grid offset)."""
    q, r = hex_assign_sql("px", "py", z, x, y, tile_size, min_hex_per_tile)
    return (features
            .groupBy(F.expr(q).alias("hexQ"), F.expr(r).alias("hexR"))
            .agg(F.sum("total").alias("total")))


def square_bin_dict(px: np.ndarray, py: np.ndarray, total: np.ndarray,
                    square_size: int = DEFAULT_SQUARE_SIZE,
                    tile_size: int = 512
                    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Serve-time square binning of a filtered tile's ``(px, py,
    total)`` arrays — TileResource.java:586-609's re-aggregation
    without going back to Spark (per-request, in-memory): the visible
    pixels' totals summed per ``px // square_size, py // square_size``
    cell. Returns (cellX, cellY, total) sorted by cell."""
    vis = (px >= 0) & (px < tile_size) & (py >= 0) & (py < tile_size)
    return cell_sums((px[vis] // square_size, py[vis] // square_size),
                     total[vis])


def hex_bin_dict(px: np.ndarray, py: np.ndarray, total: np.ndarray,
                 z: int, x: int, y: int, tile_size: int = 512,
                 min_hex_per_tile: int = DEFAULT_HEX_PER_TILE
                 ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Serve-time hex binning of a filtered tile's ``(px, py, total)``
    arrays (buffer pixels included — hexagons straddle edges). Numpy
    twin of the dual-dialect assignment SQL: same offsets, same cube
    rounding, each step in its scalar operation order in IEEE double.
    Returns (q, r, total) sorted by cell."""
    p = hex_params(tile_size, min_hex_per_tile)
    radius = p["radius"]
    off_x = (x * tile_size) % (1.5 * p["hex_width"])
    off_y = (y * tile_size) % p["hex_height"]
    xs = px + off_x
    ys = py + off_y
    qf = (2.0 / 3.0) * xs / radius
    rf = ((-1.0 / 3.0) * xs + (math.sqrt(3.0) / 3.0) * ys) / radius
    sf = -qf - rf
    # half-away-from-zero, matching SQL round() (np.round is banker's
    # and would diverge on .5 ties)
    rq, rr, rs = (np.copysign(np.floor(np.abs(v) + 0.5), v)
                  for v in (qf, rf, sf))
    dq, dr, ds = np.abs(rq - qf), np.abs(rr - rf), np.abs(rs - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = ~fix_q & (dr > ds)
    q = np.where(fix_q, -rr - rs, rq)
    r = np.where(fix_r, -rq - rs, rr)
    return cell_sums((q, r), total)


def cell_sums(keys, values: np.ndarray) -> tuple[np.ndarray, ...]:
    """Sums per distinct row of the integer ``keys`` columns: the
    distinct rows in sorted order, one int64 column per key, and the
    int64 sum of ``values`` per row. The product of the keys' spans must
    fit in int64, as it does for tile pixels, cells and attribute
    codes."""
    keys = [np.asarray(k, np.int64) for k in keys]
    values = np.asarray(values, np.int64)
    if not len(values):
        return (*keys, values)
    code = np.zeros(len(values), np.int64)
    for k in keys:
        lo = k.min()
        code = code * (k.max() - lo + 1) + (k - lo)
    order = np.argsort(code, kind="stable")
    code = code[order]
    at = np.flatnonzero(np.concatenate(([True], code[1:] != code[:-1])))
    rows = order[at]
    return (*(k[rows] for k in keys), np.add.reduceat(values[order], at))


def square_rings(cx: np.ndarray, cy: np.ndarray,
                 square_size: int) -> np.ndarray:
    """(n, 4, 2) int64 open rings of square cells (cellX, cellY): the
    cell's corners from its top-left, clockwise in tile pixels."""
    corners = np.array([[0, 0], [1, 0], [1, 1], [0, 1]], np.int64)
    cells = np.stack([cx, cy], axis=-1).astype(np.int64)
    return (cells[:, None, :] + corners) * square_size


def hex_rings(q: np.ndarray, r: np.ndarray, z: int, x: int, y: int,
              tile_size: int = 512,
              min_hex_per_tile: int = DEFAULT_HEX_PER_TILE) -> np.ndarray:
    """Tile-local closed vertex rings of hex ids (q, r), for MVT
    polygon output: an (n, 7, 2) int64 array, the first vertex
    repeated. One numpy pass over all cells: centre plus the six fixed
    vertex offsets, each computed with the scalar operation order of a
    per-vertex loop, then round half to even."""
    p = hex_params(tile_size, min_hex_per_tile)
    radius, h = p["radius"], p["hex_height"]
    off_x = (x * tile_size) % (1.5 * p["hex_width"])
    off_y = (y * tile_size) % p["hex_height"]
    angles = [math.radians(60 * i) for i in range(6)]
    dx = np.array([radius * math.cos(a) for a in angles])
    dy = np.array([radius * math.sin(a) for a in angles])
    q = np.asarray(q, np.float64)[:, None]
    r = np.asarray(r, np.float64)[:, None]
    cx = radius * 1.5 * q - off_x
    cy = h * (r + q / 2.0) - off_y
    ring = np.stack([np.round(cx + dx), np.round(cy + dy)], axis=2)
    return np.concatenate([ring, ring[:, :1]], axis=1).astype(np.int64)


def radius_pairs(points: DataFrame, radius_deg: float,
                 id_col: str = "id", lat_col: str = "lat",
                 lng_col: str = "lng",
                 scale: int = 1_000_000_000_000,
                 others: DataFrame | None = None) -> DataFrame:
    """Cartesian-free radius self-join — the 2-D sibling of
    ``sessions.range_join``, and the engine's coordinate-based
    record-dedup primitive (same specimen reported twice with
    near-identical GPS): every unordered pair of points within
    ``radius_deg`` in planar degree space.

    Banding: grid cell = ``floor(coord / radius)``; any pair within
    the radius differs by at most one cell per axis, so each point
    joins only its 3x3 cell neighborhood — an EXPLODE to 9 probe keys
    and one equi-join on (cell_x, cell_y). Shuffle volume is
    O(9 * points); candidate volume is O(points x local density),
    never all-pairs. The gate's oracle recomputes the pair set by
    BRUTE FORCE, so a hash match also proves the banding is lossless.

    Planar-degree caveat (documented, not hidden): degree space
    squashes longitudes toward the poles and does not wrap the
    antimeridian — right for the small radii of GPS-jitter dedup away
    from the dateline; great-circle exactness would need trig that
    breaks bitwise oracle parity.

    ``others`` switches to the two-table form (points probing a second
    point set — nearest-station / gazetteer joins): id_a comes from
    ``points``, id_b from ``others``, every cross pair within the
    radius, no id ordering constraint.

    Output: (id_a, id_b, dist2_scaled) with id_a < id_b (self-join
    form) and dist2 = floor(scale * ((dlat)^2 + (dlng)^2)) — a single
    IEEE expression, bitwise-reproducible across engines.
    """
    def prep(df):
        cell = [F.floor(F.col(c) / F.lit(float(radius_deg)))
                .cast("long") for c in (lat_col, lng_col)]
        return df.select(
            F.col(id_col).alias("id"),
            F.col(lat_col).cast("double").alias("lat"),
            F.col(lng_col).cast("double").alias("lng"),
            cell[0].alias("cx"), cell[1].alias("cy"))

    base = prep(points)
    other_base = base if others is None else prep(others)
    probes = base.select(
        F.col("id").alias("id_a"), F.col("lat").alias("lat_a"),
        F.col("lng").alias("lng_a"),
        F.explode(F.array(*[
            F.struct((F.col("cx") + dx).alias("cx"),
                     (F.col("cy") + dy).alias("cy"))
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)])).alias("p")
    ).select("id_a", "lat_a", "lng_a",
             F.col("p.cx").alias("cx"), F.col("p.cy").alias("cy"))
    targets = other_base.select(
        F.col("id").alias("id_b"), F.col("lat").alias("lat_b"),
        F.col("lng").alias("lng_b"), "cx", "cy")
    dlat = F.col("lat_a") - F.col("lat_b")
    dlng = F.col("lng_a") - F.col("lng_b")
    d2 = F.floor((dlat * dlat + dlng * dlng) * F.lit(float(scale))) \
        .cast("long")
    r2 = radius_deg * radius_deg
    j = probes.join(targets, ["cx", "cy"])
    if others is None:
        j = j.where(F.col("id_a") < F.col("id_b"))
    # no dedup needed: target B matches probe A in exactly ONE
    # (cx, cy) — B's own cell (the probe side explodes, the target
    # side does not) — so each qualifying pair is emitted once by
    # construction and a dropDuplicates here would only add a shuffle
    # of the result. The gate's brute-force oracle pins this.
    return (j.select("id_a", "id_b", d2.alias("dist2_scaled"),
                     (dlat * dlat + dlng * dlng).alias("_d2"))
            .where(F.col("_d2") <= F.lit(float(r2)))
            .drop("_d2"))


EARTH_RADIUS_KM = 6371.0088          # IUGG mean Earth radius (sphere)
KM_PER_DEG = EARTH_RADIUS_KM * 3.141592653589793 / 180.0  # ~111.195


def _haversine_km(lat_a, lng_a, lat_b, lng_b):
    """Great-circle distance (spherical Earth) as a Column expr."""
    la, lb = F.radians(lat_a), F.radians(lat_b)
    dlat = F.radians(lat_b) - F.radians(lat_a)
    dlng = F.radians(lng_b) - F.radians(lng_a)
    h = (F.sin(dlat / 2) ** 2
         + F.cos(la) * F.cos(lb) * F.sin(dlng / 2) ** 2)
    return 2 * EARTH_RADIUS_KM * F.asin(F.sqrt(h))


def radius_pairs_haversine(points: DataFrame, radius_km: float,
                           id_col: str = "id", lat_col: str = "lat",
                           lng_col: str = "lng",
                           others: DataFrame | None = None,
                           lat_cutoff: float = 84.0) -> DataFrame:
    """GREAT-CIRCLE radius join — the geodesic sibling of
    :func:`radius_pairs` (which stays planar-degree for bitwise
    oracle parity): every pair within ``radius_km`` on the spherical
    Earth, dateline-safe and pole-safe. Not oracle-hashable (trig
    differs across engines in the last ulp), so correctness pins via
    an in-engine brute-force twin in the tests.

    Banding, lossless by construction (spherical model: 1 deg lat =
    ~111.195 km everywhere; 1 deg lng = that times cos(lat)):

    - |lat| <= cutoff: fixed 2-D grid. Lat cell = radius in lat
      degrees; lng cell = radius in lng degrees AT THE CUTOFF (the
      widest needed anywhere in the band), probed 3x3 with the lng
      cell index taken MODULO the ring size so antimeridian
      neighbours share cells.
    - |lat| > cutoff - lat_band (the polar caps plus one band of
      overlap): lat-band-only cells (longitude compression makes lng
      banding useless there; the caps are tiny). The two paths emit
      DISJOINT pair sets — the grid keeps pairs with both |lat| <=
      cutoff, the caps keep pairs with at least one beyond — so no
      dedup shuffle is needed.

    Output: (id_a, id_b, dist_m) — great-circle metres, floored to
    integers; id_a < id_b in the self-join form.
    """
    import math
    lat_band = radius_km / KM_PER_DEG
    lng_cell = radius_km / (KM_PER_DEG *
                            math.cos(math.radians(lat_cutoff)))
    n_ring = max(int(math.ceil(360.0 / lng_cell)), 1)
    # recompute the cell so the ring divides 360 evenly (cells only
    # get wider -> still >= the needed extent; adjacency stays valid)
    lng_cell = 360.0 / n_ring

    def prep(df):
        return df.select(
            F.col(id_col).alias("id"),
            F.col(lat_col).cast("double").alias("lat"),
            F.col(lng_col).cast("double").alias("lng"),
            F.floor(F.col(lat_col) / F.lit(lat_band))
            .cast("long").alias("cy"),
            # wrap the TARGET cell too: lng exactly +180.0 would land
            # in cell n_ring, which no (probe % n_ring) cell can match
            (F.floor((F.col(lng_col) + 180.0) / F.lit(lng_cell))
             .cast("long") % n_ring).alias("cx"))

    base = prep(points)
    other_base = base if others is None else prep(others)

    def pairs_from(probe_cells, a_df, b_df, keys):
        probes = a_df.select(
            F.col("id").alias("id_a"), F.col("lat").alias("lat_a"),
            F.col("lng").alias("lng_a"),
            F.explode(F.array(*probe_cells)).alias("p")
        ).select("id_a", "lat_a", "lng_a",
                 *[F.col(f"p.{k}").alias(k) for k in keys])
        targets = b_df.select(
            F.col("id").alias("id_b"), F.col("lat").alias("lat_b"),
            F.col("lng").alias("lng_b"), *keys)
        j = probes.join(targets, list(keys))
        if others is None:
            j = j.where(F.col("id_a") < F.col("id_b"))
        dist = _haversine_km(F.col("lat_a"), F.col("lng_a"),
                             F.col("lat_b"), F.col("lng_b"))
        return (j.withColumn("_d", dist)
                .where(F.col("_d") <= F.lit(float(radius_km)))
                .select("id_a", "id_b",
                        F.floor(F.col("_d") * 1000.0).cast("long")
                        .alias("dist_m")))

    # grid path: both endpoints within the cutoff
    in_grid = F.abs(F.col("lat")) <= lat_cutoff
    ga, gb = base.where(in_grid), other_base.where(in_grid)
    grid_cells = [
        F.struct(((F.col("cx") + dx + n_ring) % n_ring).alias("cx"),
                 (F.col("cy") + dy).alias("cy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    grid_pairs = pairs_from(grid_cells, ga, gb, ("cx", "cy"))

    # cap path: lat-band-only cells over the caps + one overlap band;
    # keep only pairs with at least one endpoint beyond the cutoff
    near_cap = F.abs(F.col("lat")) > (lat_cutoff - lat_band)
    ca, cb = base.where(near_cap), other_base.where(near_cap)
    cap_cells = [F.struct((F.col("cy") + dy).alias("cy"))
                 for dy in (-1, 0, 1)]
    cap_pairs = (pairs_from(cap_cells, ca, cb, ("cy",)))
    cap_latmap = base.select(F.col("id").alias("id_a"),
                             F.abs("lat").alias("abs_a"))
    cap_latmap_b = other_base.select(F.col("id").alias("id_b"),
                                     F.abs("lat").alias("abs_b"))
    cap_pairs = (cap_pairs.join(cap_latmap, "id_a")
                 .join(cap_latmap_b, "id_b")
                 .where((F.col("abs_a") > lat_cutoff) |
                        (F.col("abs_b") > lat_cutoff))
                 .select("id_a", "id_b", "dist_m"))

    return grid_pairs.unionByName(cap_pairs)


# -- point-in-polygon (integer ray casting) ------------------------------

# star-polygon vertex offsets (unit pattern, scaled per polygon):
# non-convex on purpose, so the even-odd rule is genuinely exercised
PIP_OFFSETS = ((5, 0), (2, 2), (0, 5), (-2, 2),
               (-5, 0), (-2, -2), (0, -5), (2, -2))


def synthesize_polygons(spark, n: int = 24) -> DataFrame:
    """Deterministic star polygons in integer microdegrees:
    (poly_id, vertices array<struct<x,y>>) — center and scale are
    closed-form in poly_id so the SQL oracle regenerates the exact
    same integer vertex set."""
    p = F.col("id")
    cx = ((p * 29) % 340 - 170) * 1_000_000
    cy = ((p * 17) % 140 - 70) * 1_000_000
    s = (1 + p % 3) * 200_000
    verts = F.array(*[
        F.struct((cx + dx * s).cast("long").alias("x"),
                 (cy + dy * s).cast("long").alias("y"))
        for dx, dy in PIP_OFFSETS])
    return (spark.range(n)
            .select(F.col("id").alias("poly_id"),
                    verts.alias("vertices")))


def point_in_polygon(points: DataFrame, polys: DataFrame) -> DataFrame:
    """Even-odd (ray casting) point-in-polygon in PURE int64
    arithmetic — no floats, so the crossing test is bitwise
    deterministic in any engine: for edge (x1,y1)->(x2,y2) and point
    (px,py), a rightward ray crosses iff the edge straddles py
    strictly (``(y1 > py) != (y2 > py)``) and the sign of

        t = (x1 - px)(y2 - y1) + (py - y1)(x2 - x1)

    matches sign(y2 - y1) — the division-free form of
    ``px < x_intersection`` (microdegree operands < 2^29, products
    < 2^58: int64-exact). Points exactly on an edge line (t = 0)
    do not count a crossing — a deterministic boundary convention.

    Plan: polygons are a broadcast dim table; the candidate set is a
    broadcast bbox range join (each point tests only polygons whose
    bounding box contains it), and the crossing count is a codegen
    ``aggregate`` over the edge array — no explode, no shuffle on
    the big side, no Python. Inputs: points (id, px, py) in integer
    microdegrees; polys (poly_id, vertices). Output: (id, poly_id)
    for every containment."""
    n = F.size("vertices")
    edges = F.transform(
        "vertices",
        lambda v, i: F.struct(
            v.x.alias("x1"), v.y.alias("y1"),
            F.element_at(F.col("vertices"),
                         F.pmod(i + 1, n) + 1).x.alias("x2"),
            F.element_at(F.col("vertices"),
                         F.pmod(i + 1, n) + 1).y.alias("y2")))
    xs = F.transform("vertices", lambda v: v.x)
    ys = F.transform("vertices", lambda v: v.y)
    pl = polys.select(
        "poly_id", edges.alias("edges"),
        F.array_min(xs).alias("xmin"), F.array_max(xs).alias("xmax"),
        F.array_min(ys).alias("ymin"), F.array_max(ys).alias("ymax"))
    px, py = F.col("px"), F.col("py")
    cand = points.join(
        F.broadcast(pl),
        (px >= F.col("xmin")) & (px <= F.col("xmax"))
        & (py >= F.col("ymin")) & (py <= F.col("ymax")))

    def crossing(e):
        t = ((e.x1 - px) * (e.y2 - e.y1)
             + (py - e.y1) * (e.x2 - e.x1))
        straddle = (e.y1 > py) != (e.y2 > py)
        return F.when(
            straddle & (t != 0) & ((t > 0) == (e.y2 > e.y1)),
            F.lit(1)).otherwise(F.lit(0))

    crossings = F.aggregate(
        "edges", F.lit(0).cast("long"),
        lambda acc, e: acc + crossing(e))
    return (cand.where(crossings % 2 == 1)
            .select("id", "poly_id"))


def point_in_polygon_select(n_polys: int = 24) -> str:
    """DuckDB twin of the ``point_in_polygon`` gate: the same star
    polygons regenerated closed-form, the same int64 crossing test,
    counted per (point, polygon) via an exploded edge join."""
    offs = ", ".join(f"({i}, {dx}, {dy})"
                     for i, (dx, dy) in enumerate(PIP_OFFSETS))
    return f"""polys AS (
  SELECT p AS poly_id,
         ((p * 29) % 340 - 170) * 1000000 AS cx,
         ((p * 17) % 140 - 70) * 1000000 AS cy,
         (1 + p % 3) * 200000 AS s
  FROM generate_series(0, {n_polys - 1}) t(p)),
verts AS (
  SELECT poly_id, i, cx + dx * s AS x, cy + dy * s AS y
  FROM polys, (VALUES {offs}) v(i, dx, dy)),
pedges AS (
  SELECT a.poly_id, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
  FROM verts a JOIN verts b
    ON a.poly_id = b.poly_id
   AND b.i = (a.i + 1) % {len(PIP_OFFSETS)}),
crossed AS (
  SELECT pt.id, e.poly_id,
         sum(CASE WHEN ((e.y1 > pt.py) <> (e.y2 > pt.py))
                   AND ((e.x1 - pt.px) * (e.y2 - e.y1)
                        + (pt.py - e.y1) * (e.x2 - e.x1)) <> 0
                   AND (((e.x1 - pt.px) * (e.y2 - e.y1)
                         + (pt.py - e.y1) * (e.x2 - e.x1)) > 0)
                       = (e.y2 > e.y1)
              THEN 1 ELSE 0 END) AS c
  FROM pts pt JOIN pedges e ON TRUE
  GROUP BY 1, 2)
SELECT id, poly_id FROM crossed WHERE c % 2 = 1"""


def polygon_metrics(polys: DataFrame) -> DataFrame:
    """Integer-exact polygon metrics via the shoelace formula — the
    companion to :func:`point_in_polygon` for polygon dim-table QA:

    - ``area2``     = |Σ (x_i · y_{i+1} − x_{i+1} · y_i)|, TWICE the
      signed area in square microdegrees, kept doubled so the value
      stays an exact int64: each cross term on world-scale
      microdegree coordinates is < 2^56, so the sum is int64-exact
      up to ~128 vertices (documented bound — beyond that, rescale
      upstream);
    - ``n_vertices``, plus the integer bbox.

    The classic centroid numerators Σ (x_i+x_{i+1})·cross are
    deliberately NOT published: they reach ~2^84 on world-scale
    microdegrees — past int64, where Spark wraps silently while
    DuckDB raises, the worst cross-engine failure mode. Consumers
    needing centroids should shift to polygon-local coordinates and
    bound the span first. Pure codegen ``aggregate`` over the edge
    array — zero shuffle, zero Python."""
    n = F.size("vertices")
    edges = F.transform(
        "vertices",
        lambda v, i: F.struct(
            v.x.alias("x1"), v.y.alias("y1"),
            F.element_at(F.col("vertices"),
                         F.pmod(i + 1, n) + 1).x.alias("x2"),
            F.element_at(F.col("vertices"),
                         F.pmod(i + 1, n) + 1).y.alias("y2")))
    zero = F.lit(0).cast("long")

    def fold(expr):
        return F.aggregate(edges, zero, expr)

    signed2 = fold(lambda acc, e: acc + (e.x1 * e.y2 - e.x2 * e.y1))
    xs = F.transform("vertices", lambda v: v.x)
    ys = F.transform("vertices", lambda v: v.y)
    return polys.select(
        "poly_id",
        n.cast("int").alias("n_vertices"),
        F.abs(signed2).alias("area2"),
        F.array_min(xs).alias("xmin"), F.array_max(xs).alias("xmax"),
        F.array_min(ys).alias("ymin"), F.array_max(ys).alias("ymax"))


def polygon_metrics_select(n_polys: int = 24) -> str:
    """DuckDB twin of the ``polygon_metrics`` gate over the same
    closed-form star polygons (shares :func:`point_in_polygon_select`
    vertex generation)."""
    offs = ", ".join(f"({i}, {dx}, {dy})"
                     for i, (dx, dy) in enumerate(PIP_OFFSETS))
    k = len(PIP_OFFSETS)
    return f"""WITH polys AS (
  SELECT p AS poly_id,
         ((p * 29) % 340 - 170) * 1000000 AS cx,
         ((p * 17) % 140 - 70) * 1000000 AS cy,
         (1 + p % 3) * 200000 AS s
  FROM generate_series(0, {n_polys - 1}) t(p)),
verts AS (
  SELECT poly_id, i, cx + dx * s AS x, cy + dy * s AS y
  FROM polys, (VALUES {offs}) v(i, dx, dy)),
pedges AS (
  SELECT a.poly_id, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
  FROM verts a JOIN verts b
    ON a.poly_id = b.poly_id AND b.i = (a.i + 1) % {k})
SELECT poly_id, CAST({k} AS INT) AS n_vertices,
       CAST(abs(sum(x1 * y2 - x2 * y1)) AS BIGINT) AS area2,
       CAST(min(least(x1, x2)) AS BIGINT) AS xmin,
       CAST(max(greatest(x1, x2)) AS BIGINT) AS xmax,
       CAST(min(least(y1, y2)) AS BIGINT) AS ymin,
       CAST(max(greatest(y1, y2)) AS BIGINT) AS ymax
FROM pedges GROUP BY 1"""
