"""Dual-dialect SQL expression templates.

Every formula here is a SQL string valid in BOTH Spark SQL (used through
``F.expr``) and DuckDB (used verbatim in the correctness oracle). Writing
the math ONCE guarantees the Spark plan and the oracle evaluate the exact
same IEEE-754 expression tree, so value-hash comparison is bit-stable.

Dialect-compatibility rules observed throughout:

- ``floor()`` returns BIGINT in Spark but DOUBLE in DuckDB -> always wrap
  with ``CAST(... AS BIGINT)``.
- never ``CAST(double AS BIGINT)`` directly: Spark truncates, DuckDB
  ROUNDS. Always go through ``floor``/``least``/``greatest`` first.
- powers of two are inlined as integer literals (computed in Python), not
  ``pow(2, z)``, to stay in exact integer arithmetic.
- ``ln``, ``sin``, ``radians``, ``pi()``, ``%``, ``||`` behave the same.
- integer ``/`` is float division in both; use explicit ``floor`` for
  integer division (DuckDB ``//`` does not exist in Spark).

Pixel-space conventions (reference parity, GlobalPixelUDF.java:40-57):

- tile size 512 px; global pixel space at zoom z is ``512 * 2^z`` px
  square for EPSG:3857 / polar, and ``2 * 512 * 2^z`` x ``512 * 2^z``
  for EPSG:4326 (2x1 tiles at z0, WGS84.java:37-44).
- unplottable coordinates (|lat| > 85.0511 for Mercator etc.) map to
  NULL and are filtered, mirroring GlobalPixelUDF.java:48-57.
- pixel addresses at lower zooms are the max-zoom address right-shifted
  (TileMapBuilder.java:129-138) — expressed as exact integer floor-div.
"""

from __future__ import annotations

import math

TILE_SIZE = 512
MAX_ZOOM = 16
# Web-Mercator latitude limit: atan(sinh(pi)) in degrees
# (SphericalMercator.java:51-53).
MERC_MAX_LAT = "85.0511287798066"


# ---------------------------------------------------------------------------
# EPSG:3857 spherical Mercator forward (SphericalMercator.java:36-48)
# ---------------------------------------------------------------------------

def merc_px(lng: str, z: int, tile_size: int = TILE_SIZE) -> str:
    """Global pixel x at zoom ``z``: ``(lng+180)/360 * (T<<z)``, floored.

    The ``% n`` wraps the dateline: lng=+180 is the same meridian as
    -180 and must land on pixel 0, not one past the canvas (px == n
    leaks through every zoom as an out-of-range pixel and breaks the
    cross-zoom visible-total invariant). Inputs are bounded to
    [-180, 180] by the plottable mask, so the modulo only fires on the
    exact +180 edge — identical in both dialects for non-negative
    operands."""
    n = tile_size * (1 << z)
    return f"CAST(floor((({lng}) + 180.0) / 360.0 * {n}) % {n} AS BIGINT)"


def merc_py(lat: str, z: int, tile_size: int = TILE_SIZE) -> str:
    """Global pixel y at zoom ``z``; NULL when |lat| > Mercator limit.

    ``y = (0.5 - ln((1+sin(phi))/(1-sin(phi))) / (4*pi())) * (T<<z)``
    clamped into ``[0, n-1]`` (the boundary latitude itself can land an
    epsilon outside due to fp).
    """
    n = tile_size * (1 << z)
    yf = (
        f"(0.5 - ln((1.0 + sin(radians({lat}))) / (1.0 - sin(radians({lat}))))"
        f" / (4.0 * pi())) * {n}"
    )
    return (
        f"CASE WHEN abs({lat}) <= {MERC_MAX_LAT} THEN "
        f"greatest(CAST(0 AS BIGINT), least(CAST({n - 1} AS BIGINT), "
        f"CAST(floor({yf}) AS BIGINT))) ELSE NULL END"
    )


# ---------------------------------------------------------------------------
# EPSG:4326 Plate Carree forward (WGS84.java:37-44) — 2x1 tiles at z0
# ---------------------------------------------------------------------------

def wgs84_px(lng: str, z: int, tile_size: int = TILE_SIZE) -> str:
    # world width is 2n (2x1 tiles at z0); % wraps the +180 meridian
    # onto pixel 0 — see merc_px
    n = tile_size * (1 << z)
    return f"CAST(floor((({lng}) + 180.0) * {n} / 180.0) % {2 * n} AS BIGINT)"


def wgs84_py(lat: str, z: int, tile_size: int = TILE_SIZE) -> str:
    n = tile_size * (1 << z)
    return f"CAST(floor((90.0 - ({lat})) * {n} / 180.0) AS BIGINT)"


# ---------------------------------------------------------------------------
# Polar projections (WGS84Azimuthal.java:44-96) — ellipsoidal forward math
# as dual-dialect SQL. Uses only sin/cos/tan/ln/sqrt/pow/radians, which
# evaluate identically in Spark SQL and DuckDB; all derived constants are
# inlined as full-precision Python double literals so both engines parse
# the exact same IEEE-754 expression tree.
# ---------------------------------------------------------------------------

_A = 6378137.0                      # WGS84 semi-major axis
_FLAT = 1.0 / 298.257223563
_E2 = _FLAT * (2.0 - _FLAT)
_E = math.sqrt(_E2)
EARTH_RADIUS_AUTHALIC = 6371007.2   # AbstractTileProjection.java:23
LAEA_EXTENT = math.sqrt(2.0) * EARTH_RADIUS_AUTHALIC
STEREO_EXTENT = 12367396.21845986   # WGS84AntarcticPolarStereographic.java:49

# authalic q at the pole (Snyder eq. 3-12 with sin(phi)=1)
_QP = (1.0 - _E2) * (1.0 / (1.0 - _E2)
                     - (1.0 / (2.0 * _E)) * math.log((1.0 - _E) / (1.0 + _E)))

# polar stereographic constants at the standard parallel 71S
_PHI_F = math.radians(-71.0)
_TF = math.tan(math.pi / 4.0 + _PHI_F / 2.0) / (
    (1.0 + _E * math.sin(_PHI_F)) / (1.0 - _E * math.sin(_PHI_F))
) ** (_E / 2.0)
_MF = math.cos(_PHI_F) / math.sqrt(1.0 - _E2 * math.sin(_PHI_F) ** 2)


def _laea_meters(lat: str, lng: str) -> tuple[str, str]:
    """EPSG:3575 forward to meters (Snyder 24-23/24-24, north aspect,
    lon0=10E): rho = a*sqrt(qp-q), x = rho*sin(lam), y = -rho*cos(lam)."""
    s = f"sin(radians({lat}))"
    q = (f"({1.0 - _E2!r} * ({s} / (1.0 - {_E2!r} * {s} * {s})"
         f" - {1.0 / (2.0 * _E)!r}"
         f" * ln((1.0 - {_E!r} * {s}) / (1.0 + {_E!r} * {s}))))")
    rho = f"({_A!r} * sqrt(greatest({_QP!r} - {q}, 0.0)))"
    lam = f"radians(({lng}) - 10.0)"
    return f"({rho} * sin({lam}))", f"(0.0 - {rho} * cos({lam}))"


def _stereo_meters(lat: str, lng: str) -> tuple[str, str]:
    """EPSG:3031 forward to meters (EPSG GN7-2 variant B, south aspect,
    standard parallel 71S, lon0=0)."""
    s = f"sin(radians({lat}))"
    t = (f"(tan({math.pi / 4.0!r} + radians({lat}) / 2.0)"
         f" / pow((1.0 + {_E!r} * {s}) / (1.0 - {_E!r} * {s}),"
         f" {_E / 2.0!r}))")
    rho = f"({_A * _MF!r} * {t} / {_TF!r})"
    lam = f"radians({lng})"
    return f"({rho} * sin({lam}))", f"({rho} * cos({lam}))"


def _azimuthal_exprs(mx: str, my: str, extent: float, z: int,
                     tile_size: int) -> tuple[str, str]:
    """Meters -> floored global pixel, NULL when the floored pixel falls
    outside the zoom-z canvas (buffer-band rows can overshoot; the
    canvas-bounds filter is part of the pixel semantics on BOTH the
    engine and the oracle side)."""
    n = tile_size * (1 << z)
    ppm = n / extent / 2.0
    fx = f"(({mx} + {extent!r}) * {ppm!r})"
    fy = f"({float(n)!r} - ({my} + {extent!r}) * {ppm!r})"
    cond = (f"{fx} >= 0.0 AND {fx} < {float(n)!r} AND "
            f"{fy} >= 0.0 AND {fy} < {float(n)!r}")
    px = f"CASE WHEN {cond} THEN CAST(floor({fx}) AS BIGINT) ELSE NULL END"
    py = f"CASE WHEN {cond} THEN CAST(floor({fy}) AS BIGINT) ELSE NULL END"
    return px, py


def laea_pixel_exprs(lat: str, lng: str, z: int,
                     tile_size: int = TILE_SIZE) -> tuple[str, str]:
    mx, my = _laea_meters(lat, lng)
    return _azimuthal_exprs(mx, my, LAEA_EXTENT, z, tile_size)


def stereo_pixel_exprs(lat: str, lng: str, z: int,
                       tile_size: int = TILE_SIZE) -> tuple[str, str]:
    mx, my = _stereo_meters(lat, lng)
    return _azimuthal_exprs(mx, my, STEREO_EXTENT, z, tile_size)


def pixel_exprs(srs: str, lat: str, lng: str, z: int,
                tile_size: int = TILE_SIZE) -> tuple[str, str]:
    """(px, py) template pair for a dual-dialect projection."""
    if srs in ("EPSG:3857", "3857"):
        return merc_px(lng, z, tile_size), merc_py(lat, z, tile_size)
    if srs in ("EPSG:4326", "4326"):
        return wgs84_px(lng, z, tile_size), wgs84_py(lat, z, tile_size)
    if srs in ("EPSG:3575", "3575"):
        return laea_pixel_exprs(lat, lng, z, tile_size)
    if srs in ("EPSG:3031", "3031"):
        return stereo_pixel_exprs(lat, lng, z, tile_size)
    raise ValueError(f"no dual-dialect template for {srs}")


# ---------------------------------------------------------------------------
# Pyramid arithmetic (TileMapBuilder.java:129-138, Tiles.java:85-89)
# ---------------------------------------------------------------------------

def shift_down(px: str, levels: int) -> str:
    """Lower-zoom pixel address: arithmetic right shift == floor-div 2^k.

    Pixels are non-negative so ``floor(x / 2^k)`` is exact.
    """
    if levels == 0:
        return f"CAST({px} AS BIGINT)"
    return f"CAST(floor(({px}) / {1 << levels}) AS BIGINT)"


def tile_xy(p: str, z: int, tile_size: int = TILE_SIZE,
            zero_zoom_tiles: int = 1) -> str:
    """Tile address with clamp: ``min(max(p/T, 0), tiles-1)``
    (Tiles.java:85-89; zero_zoom_tiles=2 for the WGS84 x axis)."""
    tiles = zero_zoom_tiles * (1 << z)
    return (
        f"greatest(CAST(0 AS BIGINT), least(CAST({tiles - 1} AS BIGINT), "
        f"CAST(floor(({p}) / {tile_size}) AS BIGINT)))"
    )


# ---------------------------------------------------------------------------
# borYear dictionary packing (EncodeBorYearUDF.java:34-66)
# ---------------------------------------------------------------------------

# The 9 basisOfRecord values in the reference's exact 0-based code order
# (EncodeBorYearUDF.java:34-42).
BASIS_OF_RECORD = [
    "PRESERVED_SPECIMEN",      # 0
    "MACHINE_OBSERVATION",     # 1
    "OCCURRENCE",              # 2
    "HUMAN_OBSERVATION",       # 3
    "LIVING_SPECIMEN",         # 4
    "OBSERVATION",             # 5
    "MATERIAL_CITATION",       # 6
    "MATERIAL_SAMPLE",         # 7
    "FOSSIL_SPECIMEN",         # 8
]
BOR_CODE = {b: i for i, b in enumerate(BASIS_OF_RECORD)}


def bor_code(bor: str) -> str:
    """CASE expression mapping basisOfRecord string -> its 0-based code.

    Unknown values map to 99 (the reference would NPE; we stay total).
    """
    whens = " ".join(
        f"WHEN '{b}' THEN {c}" for b, c in BOR_CODE.items())
    return f"CAST(CASE {bor} {whens} ELSE 99 END AS BIGINT)"


def encode_bor_year(bor: str, year: str) -> str:
    """``year*100 + borCode``; NULL year encodes as year 0
    (EncodeBorYearUDF.java:58-66)."""
    return f"(coalesce(CAST({year} AS BIGINT), 0) * 100 + {bor_code(bor)})"


# ---------------------------------------------------------------------------
# Decimal-stable floating aggregates
# ---------------------------------------------------------------------------

def sum_stable(col: str, scale: int = 6) -> str:
    """Order-independent SUM over doubles for oracle-checked queries.

    Plain ``SUM(double)`` depends on partition/accumulation order, so
    Spark and DuckDB can disagree in the last ulps. Summing exact
    decimals and casting back is deterministic in both engines.
    """
    return (
        f"CAST(CAST(sum(CAST({col} AS DECIMAL(28,{scale}))) "
        f"AS DECIMAL(38,{scale})) AS DOUBLE)"
    )


# ---------------------------------------------------------------------------
# Spatial locality keys: Morton (Z-order) interleave + geohash.
# Pure integer bit arithmetic after one clamped grid quantization, so
# the identical text evaluates bit-for-bit in Spark SQL and DuckDB
# (`|`/`&` exist in both; shifts are written as exact power-of-two
# multiplies / floor-divides to avoid dialect shift operators).
# ---------------------------------------------------------------------------

GEOHASH_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _clamped_cell(raw: str, guard: str, n: int) -> str:
    """NULL-safe clamped quantization: NULL coordinates stay NULL
    (``least``/``greatest`` SKIP nulls in both engines — verified, so
    without the CASE a NULL would silently land in cell n-1), and
    out-of-range coordinates clamp to the edge cells instead of going
    negative into the bit-interleave."""
    return (f"CASE WHEN ({guard}) IS NULL THEN NULL "
            f"ELSE least(greatest(CAST(floor({raw}) AS BIGINT), 0), "
            f"{n - 1}) END")


def grid_x(lng: str, z: int) -> str:
    """Column cell index in [0, 2^z) of a longitude on the 2^z WGS84
    grid; the +180 edge clamps into the last cell, NULL stays NULL."""
    n = 1 << z
    return _clamped_cell(f"(({lng}) + 180.0) / 360.0 * {n}", lng, n)


def grid_y(lat: str, z: int) -> str:
    """Row cell index in [0, 2^z), row 0 at the north pole."""
    n = 1 << z
    return _clamped_cell(f"(90.0 - ({lat})) / 180.0 * {n}", lat, n)


def grid_y_south(lat: str, nbits: int) -> str:
    """Geohash's latitude cell: south-origin, 2^nbits rows."""
    n = 1 << nbits
    return _clamped_cell(f"(({lat}) + 90.0) / 180.0 * {n}", lat, n)


def _spread(expr: str, steps: tuple[tuple[int, int], ...]) -> str:
    """Insert a zero bit between the bits of ``expr`` (the classic
    magic-mask spread; shifts become multiplies). ``expr`` should be a
    plain column reference — the text doubles per step, so staged
    callers (functions.spatial's DataFrame helpers, the oracle CTEs)
    apply :func:`spread_step` one step at a time instead."""
    e = f"CAST({expr} AS BIGINT)"
    for shift, mask in steps:
        e = spread_step(e, shift, mask)
    return e


def spread_step(col: str, shift: int, mask: int) -> str:
    """One magic-mask spread step over a plain reference."""
    return f"(((({col}) * {1 << shift}) | ({col})) & {mask})"


_SPREAD16 = ((8, 0x00FF00FF), (4, 0x0F0F0F0F),
             (2, 0x33333333), (1, 0x55555555))
_SPREAD32 = ((16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
             (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
             (1, 0x5555555555555555))


def spread_steps(z: int) -> tuple[tuple[int, int], ...]:
    return _SPREAD16 if z <= 16 else _SPREAD32


def morton_combine(x_spread: str, y_spread: str) -> str:
    """Final interleave of two already-spread references (y on the odd
    bit positions)."""
    return f"(({y_spread}) * 2 | ({x_spread}))"


def morton_interleave(x: str, y: str, z: int = 16) -> str:
    """Morton (Z-order) code of grid cell (x, y), both < 2^z: y bits on
    the odd positions. ``z <= 16`` uses the 16-bit spread; wider grids
    take the 32-bit spread (result < 2^62 — BIGINT-safe to z=31).
    Single-expression form: the text duplicates the cell quantization
    2^steps times, so keep x/y plain references (see _spread)."""
    steps = spread_steps(z)
    return morton_combine(_spread(x, steps), _spread(y, steps))


def geohash_bit_split(precision: int) -> tuple[int, int, int]:
    """(nbits, nlng, nlat) for a precision: 5 bits per char, longitude
    first in the MSB-alternating stream."""
    if not 1 <= precision <= 8:
        raise ValueError("precision must be in 1..8")
    nbits = 5 * precision
    return nbits, (nbits + 1) // 2, nbits // 2


def geohash_combine(cx_spread: str, cy_spread: str, nlng: int,
                    nlat: int) -> str:
    """Interleave spread lng/lat cells into the geohash bit string:
    the MSB-first stream starts with lng and alternates, so counting
    from the LSB an EVEN total ends on lat[0] (lng on odd positions)
    and an ODD total ends on lng[0] (lng on even positions)."""
    if nlng > nlat:
        return f"(({cy_spread}) * 2 | ({cx_spread}))"
    return f"(({cx_spread}) * 2 | ({cy_spread}))"


def geohash_char(g: str, nbits: int, i: int) -> str:
    """Base32 character ``i`` (0 = most significant) of the geohash
    bit value ``g`` — pass a plain reference; all intermediates are
    < 2^53 so the floor-divide is IEEE-exact."""
    shift = nbits - 5 * (i + 1)
    idx = (f"CAST(CAST(floor(({g}) / {1 << shift}) AS BIGINT) "
           f"% 32 + 1 AS INT)" if shift
           else f"CAST(CAST(({g}) AS BIGINT) % 32 + 1 AS INT)")
    return f"substr('{GEOHASH_BASE32}', {idx}, 1)"


def geohash_expr(lat: str, lng: str, precision: int = 8) -> str:
    """Standard geohash string of ``precision`` base32 chars as ONE
    dual-dialect expression. Convenience/test form — the text copies
    the quantization ~2^steps times per char, so hot paths use the
    staged builders (functions.spatial.add_geohash, the oracle CTEs),
    which compute the identical arithmetic once per step."""
    nbits, nlng, nlat = geohash_bit_split(precision)
    cx = grid_x(lng, nlng)
    cy = grid_y_south(lat, nlat)
    g = geohash_combine(_spread(cx, _SPREAD32), _spread(cy, _SPREAD32),
                        nlng, nlat)
    chars = " || ".join(geohash_char(g, nbits, i)
                        for i in range(precision))
    return f"({chars})"
