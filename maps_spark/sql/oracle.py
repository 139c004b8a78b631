"""DuckDB oracle SQL generation for the correctness gate.

Every engine query in :mod:`maps_spark.plans.queries` has a matching
generator here producing ANSI SQL that DuckDB runs over the same parquet
tables (pre-registered views ``events``/``nation``/...). All floating-
point math is emitted from the same dual-dialect templates the engine
uses (:mod:`maps_spark.sql.dual`), so values match bit-for-bit; integer
logic (tile fan-out, binning) is re-expressed as plain SQL with
identical semantics.
"""

from __future__ import annotations

from maps_spark.sql import dual
from maps_spark.sources.occurrence import mapkeys_cte, occurrence_cte

TILE = 512
BUF = 64

SCHEMA_SHAPE = {  # srs -> (zz_tiles_horizontal, zz_tiles_vertical, wrapX)
    "EPSG:3857": (1, 1, True),
    "EPSG:4326": (2, 1, True),
}


def _views_in(views: list[str]) -> str:
    inner = ", ".join(f"'{v}'" for v in views)
    return f"mapKey IN ({inner})"


def pixel_select(srs: str, z: int, views: list[str] | None) -> str:
    """A2: per-pixel aggregation at zoom z for chosen map views
    (``views=None`` aggregates every view — the twin of the streaming
    refresh store, which maintains all views).

    The inner projection can yield NULL pixels (polar buffer-band rows
    overshooting the canvas) — those rows are dropped before the
    grouping, mirroring the engine's ``px IS NOT NULL`` filter."""
    pxe, pye = dual.pixel_exprs(srs, "decimalLatitude", "decimalLongitude", z)
    plot = _plottable(srs)
    view_filter = f" AND {_views_in(views)}" if views else ""
    return f"""{mapkeys_cte()}
SELECT mapKey, px, py, borYear, count(*) AS cnt FROM (
  SELECT mapKey, {pxe} AS px, {pye} AS py,
         {dual.encode_bor_year('basisOfRecord', 'year')} AS borYear
  FROM keyed WHERE {plot}{view_filter})
WHERE px IS NOT NULL
GROUP BY 1, 2, 3, 4"""


def pyramid_invariant_select(srs: str, max_zoom: int,
                             threshold: int) -> str:
    """Oracle twin of ``tile_store.pyramid_invariant`` over a build
    from this dataset: every over-threshold view must show
    ``max_zoom + 1`` zoom levels, exactly ONE distinct visible-region
    total, and that total equal to the view's PIXEL-PRODUCING row
    count — recomputed here straight from the RAW data, so a hash
    match proves conservation through snapshot, pixel agg, span
    rollup, tile fan-out, MVT encode, storage, and decode.

    "Pixel-producing" = plottable AND on-canvas: the polar SRS keep a
    1-degree plottable buffer past the equator whose projection can
    overshoot the square canvas — those rows NULL out by design
    (``functions.projections.pixel_cols``, mirrored by the
    ``pixel_agg_*`` oracles' ``px IS NOT NULL``) and never enter the
    pyramid, so the conservation law is over the NOT-NULL set. For
    EPSG:3857/4326 every plottable row is on-canvas and the clause is
    a no-op. Overshoot is zoom-independent (canvas and projection
    scale together), so testing at ``max_zoom`` covers every level."""
    plot = _plottable(srs)
    pxe, pye = dual.pixel_exprs(srs, "decimalLatitude",
                                "decimalLongitude", max_zoom)
    stored = srs.replace(":", "_")
    return f"""{mapkeys_cte()},
vc AS (SELECT mapKey, count(*) AS n FROM keyed GROUP BY 1),
large AS (SELECT mapKey FROM vc WHERE n >= {threshold})
SELECT '{stored}' AS srs, k.mapKey,
       CAST({max_zoom + 1} AS BIGINT) AS n_zooms,
       CAST(1 AS BIGINT) AS n_distinct_totals,
       count(*) AS total
FROM keyed k JOIN large USING (mapKey)
WHERE {plot} AND ({pxe}) IS NOT NULL AND ({pye}) IS NOT NULL
GROUP BY 2"""


def rollup_select(srs: str, hi_z: int, lo_z: int, views: list[str]) -> str:
    """A3: rollup from hi_z pixels to lo_z by exact floor-div."""
    k = hi_z - lo_z
    pxe, pye = dual.pixel_exprs(srs, "decimalLatitude", "decimalLongitude", hi_z)
    plot = _plottable(srs)
    return f"""{mapkeys_cte()},
pix AS (
  SELECT mapKey, {pxe} AS px, {pye} AS py,
         {dual.encode_bor_year('basisOfRecord', 'year')} AS borYear,
         count(*) AS cnt
  FROM keyed WHERE {plot} AND {_views_in(views)}
  GROUP BY 1, 2, 3, 4)
SELECT mapKey, {dual.shift_down('px', k)} AS px,
       {dual.shift_down('py', k)} AS py, borYear,
       CAST(sum(cnt) AS BIGINT) AS cnt
FROM pix GROUP BY 1, 2, 3, 4"""


def _clamp_tile(p: str, z: int, zz: int) -> str:
    tiles = zz * (1 << z)
    return (f"greatest(CAST(0 AS BIGINT), least(CAST({tiles - 1} AS BIGINT), "
            f"CAST(floor(({p}) / {TILE}) AS BIGINT)))")


def _local_x(atx: str, px: str, z: int, zz_h: int, wrap: bool) -> str:
    num_x = zz_h * (1 << z)
    max_g = num_x * TILE
    plain = f"({px}) - ({atx}) * {TILE}"
    if not (wrap and (zz_h > 1 or z > 0)):
        return plain
    return (f"CASE WHEN ({atx}) = 0 AND ({px}) >= {max_g - BUF} "
            f"THEN ({px}) - {max_g} "
            f"WHEN ({atx}) = {num_x - 1} AND ({px}) < {BUF} "
            f"THEN ({px}) + {max_g} - ({atx}) * {TILE} "
            f"ELSE {plain} END")


def _wrap(c: str, n: int) -> str:
    return (f"CASE WHEN ({c}) < 0 THEN {n - 1} "
            f"WHEN ({c}) >= {n} THEN 0 ELSE ({c}) END")


def tile_assembly_select(srs: str, z: int, views: list[str]) -> str:
    """C8 + A5 input: pixels fanned out to (<=4) tiles with buffer
    duplication, expressed as a UNION of the 9 directional candidates
    (UNION dedups = the reference's per-row distinct)."""
    zz_h, zz_v, wrap = SCHEMA_SHAPE[srs]
    num_x, num_y = zz_h * (1 << z), zz_v * (1 << z)
    pxe, pye = dual.pixel_exprs(srs, "decimalLatitude", "decimalLongitude", z)
    plot = _plottable(srs)

    tx = _clamp_tile("px", z, zz_h)
    ty = _clamp_tile("py", z, zz_v)
    lx = _local_x("tx", "px", z, zz_h, wrap)

    dirs = [  # (condition on primary lx/ly, dx, dy)
        ("TRUE", 0, 0),
        (f"ly < {BUF}", 0, -1),
        (f"ly < {BUF} AND lx < {BUF}", -1, -1),
        (f"ly < {BUF} AND lx >= {TILE - BUF}", 1, -1),
        (f"lx >= {TILE - BUF}", 1, 0),
        (f"ly >= {TILE - BUF}", 0, 1),
        (f"ly >= {TILE - BUF} AND lx < {BUF}", -1, 1),
        (f"ly >= {TILE - BUF} AND lx >= {TILE - BUF}", 1, 1),
        (f"lx < {BUF}", -1, 0),
    ]
    branches = []
    for cond, dx, dy in dirs:
        atx = _wrap(f"tx + {dx}", num_x) if dx else "tx"
        aty = _wrap(f"ty + {dy}", num_y) if dy else "ty"
        alx = _local_x(f"({atx})", "px", z, zz_h, wrap)
        aly = f"py - ({aty}) * {TILE}"
        guard = (f"({alx}) >= {-BUF} AND ({alx}) <= {TILE + BUF} AND "
                 f"({aly}) >= {-BUF} AND ({aly}) <= {TILE + BUF}")
        branches.append(
            f"SELECT mapKey, borYear, cnt, CAST({atx} AS BIGINT) AS tileX, "
            f"CAST({aty} AS BIGINT) AS tileY, CAST({alx} AS BIGINT) AS pixelX, "
            f"CAST({aly} AS BIGINT) AS pixelY "
            f"FROM pixloc WHERE {cond} AND {guard}")
    union = " UNION ".join(branches)
    return f"""{mapkeys_cte()},
pix AS (
  SELECT mapKey, {pxe} AS px, {pye} AS py,
         {dual.encode_bor_year('basisOfRecord', 'year')} AS borYear,
         count(*) AS cnt
  FROM keyed WHERE {plot} AND {_views_in(views)}
  GROUP BY 1, 2, 3, 4),
pixloc AS (
  SELECT mapKey, borYear, cnt, px, py, tx, ty,
         {lx} AS lx, py - ty * {TILE} AS ly
  FROM (SELECT mapKey, borYear, cnt, px, py, {tx} AS tx, {ty} AS ty FROM pix))
SELECT * FROM ({union})"""


def tile_ctes(srs: str, z: int, x: int, y: int, view: str | tuple[str, ...],
              year_lo: int | None = None, year_hi: int | None = None,
              bors: list[str] | None = None, prefix: str = "",
              keyed: str = "keyed",
              lat: str = "decimalLatitude",
              lng: str = "decimalLongitude",
              bor_year: str | None = None) -> str:
    """The served tile's feature CTEs, dual-dialect: ``{prefix}pix``
    (mapKey, global pixel + borYear) and ``{prefix}intile`` (mapKey,
    tile-local px/py after containment + dateline wrap + year/BOR
    filters). ``view`` is one view or a tuple of views read in the same
    scan (hex regression J2); a prefix lets one statement carry several
    (country mask J1)."""
    zz_h, zz_v, wrap = SCHEMA_SHAPE[srs]
    num_x = zz_h * (1 << z)
    world = num_x * TILE
    pxe, pye = dual.pixel_exprs(srs, lat, lng, z)
    plot = _plottable(srs, lat, lng)

    vert = (f"py >= {y * TILE - BUF} AND py <= {y * TILE + TILE + BUF}")
    horiz = (f"px >= {x * TILE - BUF} AND px <= {x * TILE + TILE + BUF}")
    contains = f"({horiz} AND {vert})"
    if wrap:
        if x == 0:
            contains += f" OR ({vert} AND px >= {world - BUF})"
        if x == num_x - 1:
            contains += f" OR ({vert} AND px < {BUF})"

    lx = f"px - {x * TILE}"
    if wrap and (zz_h > 1 or z > 0):
        cases = []
        if x == 0:
            cases.append(f"WHEN px >= {world - BUF} THEN px - {world}")
        if x == num_x - 1:
            cases.append(f"WHEN px < {BUF} THEN px + {world} - {x * TILE}")
        if cases:
            lx = f"CASE {' '.join(cases)} ELSE px - {x * TILE} END"

    filters = [f"({contains})"]
    if bors:
        codes = ", ".join(str(dual.BOR_CODE[b]) for b in bors)
        filters.append(f"(borYear % 100) IN ({codes})")
    if year_lo is not None:
        filters.append(f"CAST(floor(borYear / 100) AS BIGINT) >= {year_lo}")
    if year_hi is not None:
        filters.append(f"CAST(floor(borYear / 100) AS BIGINT) <= {year_hi}")
    where = " AND ".join(filters)

    bye = bor_year or dual.encode_bor_year('basisOfRecord', 'year')
    keys = f"mapKey = '{view}'" if isinstance(view, str) else _views_in(view)
    return f"""{prefix}pix AS (
  SELECT mapKey, {pxe} AS px, {pye} AS py,
         {bye} AS borYear
  FROM {keyed} WHERE {plot} AND {keys}),
{prefix}intile AS (
  SELECT mapKey, CAST({lx} AS BIGINT) AS px,
         CAST(py - {y * TILE} AS BIGINT) AS py, borYear
  FROM {prefix}pix WHERE {where})"""


def density_tile_select(srs: str, z: int, x: int, y: int, view: str,
                        year_lo: int | None = None, year_hi: int | None = None,
                        bors: list[str] | None = None,
                        verbose: bool = False) -> str:
    """A7/F4/F5/F6: the served tile's feature rows for one view."""
    select = ("px, py, CAST(floor(borYear / 100) AS BIGINT) AS year, "
              "count(*) AS cnt" if verbose
              else "px, py, count(*) AS total")
    group = "1, 2, 3" if verbose else "1, 2"
    return f"""{mapkeys_cte()},
{tile_ctes(srs, z, x, y, view, year_lo, year_hi, bors)}
SELECT {select} FROM intile GROUP BY {group}"""


def country_mask_select(srs: str, z: int, x: int, y: int, view: str,
                        mask_view: str) -> str:
    """J1 country mask: keep the served tile's pixels that also carry
    features of the mask view (``4:<ISO>``) — a hash semi-join on the
    tile-local pixel address (VectorTileFilters.java:83-99)."""
    return f"""{mapkeys_cte()},
{tile_ctes(srs, z, x, y, view)},
{tile_ctes(srs, z, x, y, mask_view, prefix='m')}
SELECT t.px, t.py, count(*) AS total
FROM intile t
WHERE EXISTS (SELECT 1 FROM mintile m WHERE m.px = t.px AND m.py = t.py)
GROUP BY 1, 2"""


def capabilities_select() -> str:
    """A11 (direct-from-source variant): per-view extent/years/total."""
    return f"""{mapkeys_cte()}
SELECT mapKey,
       min(decimalLatitude) AS minLat, max(decimalLatitude) AS maxLat,
       min(decimalLongitude) AS minLng, max(decimalLongitude) AS maxLng,
       min(CASE WHEN year > 0 THEN CAST(year AS BIGINT) END) AS minYear,
       max(CASE WHEN year > 0 THEN CAST(year AS BIGINT) END) AS maxYear,
       count(*) AS total
FROM keyed
WHERE decimalLatitude IS NOT NULL AND decimalLongitude IS NOT NULL
GROUP BY mapKey"""


def square_bin_select(srs: str, z: int, x: int, y: int, view: str,
                      square_size: int = 16) -> str:
    """A10 over the served tile's visible features."""
    inner = density_tile_select(srs, z, x, y, view)
    return f"""{inner.rsplit('SELECT', 1)[0]}
SELECT CAST(floor(px / {square_size}) AS BIGINT) AS cellX,
       CAST(floor(py / {square_size}) AS BIGINT) AS cellY,
       count(*) AS total
FROM intile
WHERE px >= 0 AND px < {TILE} AND py >= 0 AND py < {TILE}
GROUP BY 1, 2"""


def hex_bin_select(srs: str, z: int, x: int, y: int, view: str,
                   min_hex_per_tile: int = 51) -> str:
    """A9 over the served tile's features (buffer included — hexagons
    straddle tile edges; HexBin.java:101-180). The (q, r) assignment SQL
    is the very same dual-dialect string the engine runs."""
    from maps_spark.operators.binning import hex_assign_sql
    inner = density_tile_select(srs, z, x, y, view)
    qe, re = hex_assign_sql("px", "py", z, x, y, TILE, min_hex_per_tile)
    return f"""{inner.rsplit('SELECT', 1)[0]}
SELECT {qe} AS hexQ,
       {re} AS hexR,
       count(*) AS total
FROM intile
GROUP BY 1, 2"""


def hex_trend_body(srs: str, z: int, x: int, y: int, species_view: str,
                   group_view: str, keyed: str = "keyed",
                   lat: str = "decimalLatitude",
                   lng: str = "decimalLongitude",
                   bor_year: str | None = None,
                   min_hex_per_tile: int = 51) -> str:
    """J2 + A14 per-hexagon species trend: hex-binned per-year species
    and higher-taxon counts paired on hexagon id, then a per-hex OLS of
    the quantized ratio (RegressionResource.java:258-355 semantics).

    One scan: the tile CTEs read both views at once, and the species
    and group counts are conditional counts of one (hex, year)
    aggregate; a (hex, year) pairs when both are positive — the inner
    join of the two per-view aggregates, without the second scan or
    the join. Same bit-determinism scheme as
    :func:`maps_spark.operators.regression.trend_sql`: exact integer
    sufficient statistics, double division only in the closed forms —
    the full statement is one shared text for Spark and DuckDB.
    """
    from maps_spark.operators.binning import hex_assign_sql
    qe, re = hex_assign_sql("px", "py", z, x, y, TILE, min_hex_per_tile)
    t = tile_ctes(srs, z, x, y, (species_view, group_view), keyed=keyed,
                  lat=lat, lng=lng, bor_year=bor_year)
    # Two Spark-codegen guards, both also strictly-less-work rewrites:
    # (1) the (px, py, year) pre-aggregation between `intile` and the
    # hex assignment keeps Catalyst from inlining the full projection
    # formula into every px/py occurrence of the cube-round CASEs (the
    # generated processNext() otherwise overflows the JVM's 64 KB
    # method limit and the stage silently loses whole-stage codegen);
    # the hex id is also computed once per distinct pixel, not per
    # record. (2) coalesce(...) makes hexQ/hexR non-nullable, so no
    # isnotnull constraint on the ids can be inferred and pushed back
    # through the aggregates as a 30 KB hex-of-Mercator scan filter
    # (same overflow; the ids are never null — containment already
    # filtered).
    return f"""WITH {t},
pcp AS (SELECT px, py, CAST(floor(borYear / 100) AS BIGINT) AS year,
               count(CASE WHEN mapKey = '{species_view}' THEN 1 END) AS sc,
               count(CASE WHEN mapKey = '{group_view}' THEN 1 END) AS gc
        FROM intile WHERE borYear >= 100 GROUP BY 1, 2, 3),
hc AS (SELECT coalesce({qe}, 0) AS hexQ, coalesce({re}, 0) AS hexR, year,
              CAST(sum(sc) AS BIGINT) AS speciesCnt,
              CAST(sum(gc) AS BIGINT) AS groupCnt
       FROM pcp GROUP BY 1, 2, 3),
pairs AS (SELECT hexQ, hexR, year,
                 CAST(floor(CAST(speciesCnt AS DOUBLE) * 1000000000.0
                            / CAST(groupCnt AS DOUBLE)) AS BIGINT) AS rs
          FROM hc WHERE speciesCnt > 0 AND groupCnt > 0),
sums AS (SELECT hexQ, hexR, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(year) AS BIGINT) AS sx,
                CAST(sum(rs) AS BIGINT) AS sy,
                CAST(sum(year * year) AS BIGINT) AS sxx,
                CAST(sum(year * rs) AS BIGINT) AS sxy
         FROM pairs GROUP BY 1, 2),
closed AS (SELECT hexQ, hexR, n,
                  CAST(n * sxy - sx * sy AS DOUBLE) AS num,
                  CAST(n * sxx - sx * sx AS DOUBLE) AS den,
                  CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd
           FROM sums)
SELECT hexQ, hexR, n,
       CASE WHEN den <> 0 THEN (num / den) / 1000000000.0 END AS slope,
       CASE WHEN den <> 0
            THEN ((syd - (num / den) * sxd) / n) / 1000000000.0
       END AS intercept
FROM closed"""


def lng_spread_body(view: str, keyed: str = "keyed",
                    lng: str = "decimalLongitude",
                    multiplier: int = 100) -> str:
    """A11 centredSpread as dual-dialect SQL (Capabilities.java:288-334).

    The reference's greedy expand-toward-nearest loop always ends with
    the globally largest circular gap excluded (each crossed gap is <=
    its opposing boundary, and boundaries chain up to the final gap), so
    the set form is: largest gap over sorted distinct rounded
    longitudes, wrap gap included; the spread is its complement —
    (gap_end, gap_start), which crosses the antimeridian when
    minLng > maxLng. Ties break deterministically on gap_start
    (the reference's right-bias makes ties vanishingly rare at
    multiplier resolution).
    """
    wrap = 360 * multiplier
    return f"""WITH lv AS (
  SELECT DISTINCT CAST(round({lng} * {multiplier}) AS BIGINT) AS v
  FROM {keyed} WHERE {lng} IS NOT NULL AND mapKey = '{view}'),
sg AS (SELECT v, lead(v) OVER (ORDER BY v) AS nxt FROM lv),
gaps AS (
  SELECT v AS gap_start, nxt AS gap_end, nxt - v AS gap
  FROM sg WHERE nxt IS NOT NULL
  UNION ALL
  SELECT max_v, min_v + {wrap}, (min_v + {wrap}) - max_v
  FROM (SELECT min(v) AS min_v, max(v) AS max_v FROM lv)),
best AS (SELECT gap_start, gap_end FROM gaps
         ORDER BY gap DESC, gap_start DESC LIMIT 1)
SELECT CAST(CASE WHEN gap_end >= {wrap // 2} THEN gap_end - {wrap}
                 ELSE gap_end END AS DOUBLE) / {multiplier} AS minLng,
       CAST(gap_start AS DOUBLE) / {multiplier} AS maxLng
FROM best"""


def lng_spread_select(view: str) -> str:
    body = lng_spread_body(view)
    return f"{mapkeys_cte()},{body.strip().removeprefix('WITH')}"


def hex_trend_select(srs: str, z: int, x: int, y: int, species_view: str,
                     group_view: str) -> str:
    """Oracle wrapper: prepend the keyed CTE to the shared body."""
    body = hex_trend_body(srs, z, x, y, species_view, group_view)
    return f"{mapkeys_cte()},{body.strip().removeprefix('WITH')}"


def adhoc_grid_select(z: int, mode: str = "bounds",
                      bbox: tuple[float, float, float, float] | None = None
                      ) -> str:
    """A12 geo-grid aggregation (cell address = pixel at tile_size=1)."""
    pxe, pye = dual.pixel_exprs("EPSG:3857", "decimalLatitude",
                                "decimalLongitude", z, tile_size=1)
    plot = _plottable("EPSG:3857")
    bb = ""
    if bbox:
        min_lng, min_lat, max_lng, max_lat = bbox
        join = "AND" if min_lng <= max_lng else "OR"  # antimeridian wrap
        bb = (f" AND (decimalLongitude >= {min_lng} {join} "
              f"decimalLongitude <= {max_lng})"
              f" AND decimalLatitude >= {min_lat}"
              f" AND decimalLatitude <= {max_lat}")
    if mode == "bounds":
        select = ("count(*) AS occCount, "
                  "min(decimalLatitude) AS minLat, max(decimalLatitude) AS maxLat, "
                  "min(decimalLongitude) AS minLng, max(decimalLongitude) AS maxLng")
    else:
        select = (
            "count(*) AS occCount, "
            f"{dual.sum_stable('decimalLatitude')} / count(decimalLatitude) AS centroidLat, "
            f"{dual.sum_stable('decimalLongitude')} / count(decimalLongitude) AS centroidLng")
    return f"""{occurrence_cte()}
SELECT {pxe} AS cellX, {pye} AS cellY, {select}
FROM occ WHERE {plot}{bb}
GROUP BY 1, 2"""


def year_facet_select(limit: int = 300) -> str:
    return f"""{occurrence_cte()}
SELECT CAST(year AS BIGINT) AS year, count(*) AS occCount
FROM occ WHERE year IS NOT NULL
GROUP BY 1 ORDER BY occCount DESC, year LIMIT {limit}"""


def species_trend_select(species_view: str, group_view: str) -> str:
    """A14: OLS on per-year species/group ratios. Shares the exact SQL
    text with the engine (maps_spark.operators.regression.trend_sql)."""
    from maps_spark.operators.regression import trend_sql
    body = trend_sql(f"mapKey = '{species_view}'",
                     f"mapKey = '{group_view}'", "keyed")
    # merge the keyed CTE with the trend's own WITH clause
    return f"{mapkeys_cte()},{body.strip().removeprefix('WITH')}"


def map_view_counts_select() -> str:
    """A1 threshold stats."""
    return f"""{mapkeys_cte()}
SELECT mapKey, count(*) AS n_occ FROM keyed GROUP BY 1"""


def point_locations_select(key_prefix: str = "3:") -> str:
    """A6 point-mode location aggregation (the protobuf bundle's exact
    input: PointMapBuilder.java:53-79) for small views."""
    return f"""{mapkeys_cte()}
SELECT mapKey, decimalLatitude AS lat, decimalLongitude AS lng,
       {dual.encode_bor_year('basisOfRecord', 'year')} AS borYear,
       count(*) AS cnt
FROM keyed
WHERE mapKey LIKE '{key_prefix}%'
  AND decimalLatitude IS NOT NULL AND decimalLongitude IS NOT NULL
GROUP BY 1, 2, 3, 4"""


def points_invariant_select(threshold: int) -> str:
    """Oracle twin of ``tile_store.points_invariant`` over a build
    from this dataset: every under-threshold view's bundle must hold
    one feature per distinct (lat, lng, borYear) location and a count
    total equal to the view's row count — recomputed from the RAW
    data."""
    bor_year = dual.encode_bor_year('basisOfRecord', 'year')
    return f"""{mapkeys_cte()},
vc AS (SELECT mapKey, count(*) AS n FROM keyed GROUP BY 1),
small AS (SELECT mapKey FROM vc WHERE n < {threshold})
SELECT k.mapKey,
       CAST(count(DISTINCT (decimalLatitude, decimalLongitude,
                            {bor_year})) AS BIGINT) AS n_locations,
       count(*) AS total
FROM keyed k JOIN small USING (mapKey)
GROUP BY 1"""


def occ_country_counts_select() -> str:
    return f"""{occurrence_cte()}
SELECT countryCode, count(*) AS n_occ FROM occ GROUP BY 1"""


def event_adhoc_select(event_types: tuple[str, ...] = ("click", "view"),
                       year_lo: int = 2024, year_hi: int = 2024,
                       limit: int = 300) -> str:
    """DuckDB twin of operators.adhoc.adhoc_event_search — the
    event-index specialization of the ad-hoc resource. Day buckets are
    epoch days from epoch micros (NTZ-safe on both engines, see
    operators.sessions); value folds in as exact milli-units."""
    types = ", ".join(f"'{t}'" for t in event_types)
    return f"""
SELECT CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS day_bucket,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
         AS value_milli
FROM events
WHERE event_type IN ({types})
  AND year(ts) >= {year_lo} AND year(ts) <= {year_hi}
GROUP BY 1, 2
ORDER BY n DESC, day_bucket, event_type
LIMIT {limit}"""


def _plottable(srs: str, lat: str = "decimalLatitude",
               lng: str = "decimalLongitude") -> str:
    from maps_spark.functions.projections import plottable_expr
    return plottable_expr(srs, lat, lng)


def _spread_ctes(init_gx: str, init_gy: str, steps) -> str:
    """Staged spread CTE chain over (gx, gy) — the oracle twin of
    functions.spatial._staged_spread (one pass per step, no text
    blow-up)."""
    parts = [f"cells AS (SELECT CAST({init_gx} AS BIGINT) AS gx, "
             f"CAST({init_gy} AS BIGINT) AS gy FROM occ)"]
    prev = "cells"
    for i, (shift, mask) in enumerate(steps):
        parts.append(
            f"sp{i} AS (SELECT "
            f"{dual.spread_step('gx', shift, mask)} AS gx, "
            f"{dual.spread_step('gy', shift, mask)} AS gy "
            f"FROM {prev})")
        prev = f"sp{i}"
    return ",\n".join(parts), prev


def spatial_zorder_select(z: int = 8) -> str:
    """DuckDB twin of the Morton-key cell counts gate (same staged
    spread arithmetic as functions.spatial.add_morton_key)."""
    cte = occurrence_cte()
    chain, last = _spread_ctes(dual.grid_x("decimalLongitude", z),
                               dual.grid_y("decimalLatitude", z),
                               dual.spread_steps(z))
    return f"""{cte},
{chain}
SELECT {dual.morton_combine("gx", "gy")} AS zkey, count(*) AS n_occ
FROM {last} GROUP BY 1"""


def geohash_counts_select(precision: int = 4) -> str:
    """DuckDB twin of the geohash cell counts gate (staged, twin of
    functions.spatial.add_geohash)."""
    cte = occurrence_cte()
    nbits, nlng, nlat = dual.geohash_bit_split(precision)
    chain, last = _spread_ctes(
        dual.grid_x("decimalLongitude", nlng),
        dual.grid_y_south("decimalLatitude", nlat),
        dual._SPREAD32)
    g = dual.geohash_combine("gx", "gy", nlng, nlat)
    chars = " || ".join(dual.geohash_char("g", nbits, i)
                        for i in range(precision))
    return f"""{cte},
{chain},
gh AS (SELECT {g} AS g FROM {last})
SELECT ({chars}) AS gh, count(*) AS n_occ
FROM gh GROUP BY 1"""
