"""Capabilities summary: extent, year range, total per map view (A11).

The reference computes this from the two z0 EPSG:4326 tiles at serve
time (Capabilities.java:194-248): min/max visible pixel back-projected
to lat/lng, min/max numeric year attribute, sum of totals, and an
antimeridian-aware longitude spread (``centredSpread``,
Capabilities.java:288-334).

Engine version: a direct aggregation over the keyed occurrence table —
exact rather than pixel-quantized, one scan for all map views. The
centredSpread greedy loop is ported faithfully and runs on the distinct
rounded longitudes (driver-side, bounded at 360 * multiplier ints).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from maps_spark.session import sql_over

MIN_YEAR = 1600  # Capabilities year floor


def capabilities(keyed: DataFrame, by_view: bool = True) -> DataFrame:
    """(mapKey,) minLat, minLng, maxLat, maxLng, minYear, maxYear, total.

    Null-year records count toward total but not the year range
    (year 0 excluded, Capabilities.java:267-273).
    """
    year = F.floor(F.col("borYear") / 100).cast("long")
    aggs = [
        F.min("lat").alias("minLat"), F.max("lat").alias("maxLat"),
        F.min("lng").alias("minLng"), F.max("lng").alias("maxLng"),
        F.min(F.when(year > 0, year)).alias("minYear"),
        F.max(F.when(year > 0, year)).alias("maxYear"),
        F.count("*").alias("total"),
    ]
    df = keyed.where(F.col("lat").isNotNull() & F.col("lng").isNotNull())
    return df.groupBy("mapKey").agg(*aggs) if by_view else df.agg(*aggs)


MERC_MAX_LAT = 85.0511287798066

# v1 type names -> map key prefixes (BackwardCompatibility.java:89-110)
V1_MAP_TYPES = {
    "TAXON": "1", "DATASET": "2", "PUBLISHER": "3",
    "COUNTRY": "4", "PUBLISHING_COUNTRY": "5",
}


def v1_map_key(type_: str | None, key: str | None,
               checklist: str = "c0") -> str:
    """v1 (type, key) -> engine map key. Unknown/missing type -> the
    all-data key (BackwardCompatibility.java:110-111). Taxon keys embed
    the checklist (this engine's keyed fan-out is
    ``1:<checklist>|<id>``; the default checklist is ``c0``)."""
    code = V1_MAP_TYPES.get((type_ or "").upper())
    if code is None or key is None:
        return "0:0"
    if code == "1":
        return f"1:{checklist}|{key}"
    return f"{code}:{key}"


def v1_tile_json(keyed: DataFrame, type_: str | None = None,
                 key: str | None = None, generated: str | None = None,
                 checklist: str = "c0") -> dict:
    """The ``/v1/map/density/tile.json`` document
    (BackwardCompatibility.java:72-160): occurrence count + lat/lng
    extent for one view, latitudes clamped to the Web-Mercator limit
    (V1TileJson:132-138). ``generated`` (the build date) doubles as the
    ETag the endpoint sets.

    The reference derives this from the two z0 EPSG:4326 tiles; the
    engine aggregates the view exactly — same semantics, not
    pixel-quantized.
    """
    mk = v1_map_key(type_, key, checklist)
    row = (capabilities(keyed.where(F.col("mapKey") == mk), by_view=False)
           .first())
    if row is None or row["total"] in (None, 0):
        doc = {"count": 0, "minimumLatitude": 0.0, "maximumLatitude": 0.0,
               "minimumLongitude": 0.0, "maximumLongitude": 0.0}
    else:
        doc = {
            "count": int(row["total"]),
            "minimumLatitude": max(-MERC_MAX_LAT, float(row["minLat"])),
            "maximumLatitude": min(MERC_MAX_LAT, float(row["maxLat"])),
            "minimumLongitude": float(row["minLng"]),
            "maximumLongitude": float(row["maxLng"]),
        }
    if generated is not None:
        doc["etag"] = f'"{generated}"'
    return doc


def centred_spread(values: list[int], max_value: int) -> tuple[int, int] | None:
    """Faithful port of the reference greedy loop
    (Capabilities.java:288-334): expand left/right toward the nearest
    value until one step from closing the circle; ties favour expanding
    right so a whole-world spread lands on (-180, 180)."""
    if not values:
        return None
    vals = sorted(set(values))
    n = len(vals)
    left = right = 0
    while True:
        right_dist = ((max_value + vals[0]) - vals[right]
                      if right + 1 == n else vals[right + 1] - vals[right])
        left_dist = (vals[left] - (vals[-1] - max_value)
                     if left == 0 else vals[left] - vals[left - 1])
        if right_dist > left_dist:
            left = (left - 1 + n) % n
        else:
            right = (right + 1) % n
        if (right + 1) % n == left:
            return vals[left], vals[right]


def lng_spread_df(spark, keyed: DataFrame, view: str = "0:0",
                  multiplier: int = 100) -> DataFrame:
    """centredSpread as a distributed window query — the same
    dual-dialect SQL text the oracle replays (one row:
    minLng, maxLng; minLng > maxLng means antimeridian crossing). The
    keyed frame is bound as a ``spark.sql`` argument
    (:func:`maps_spark.session.sql_over`)."""
    from maps_spark.sql.oracle import lng_spread_body
    return sql_over(spark, lng_spread_body(view, keyed="{keyed}", lng="lng",
                                           multiplier=multiplier),
                    keyed=keyed)


def lng_spread(keyed_view: DataFrame, multiplier: int = 100
               ) -> tuple[float, float] | None:
    """Antimeridian-aware (minLng, maxLng) for one view: distinct rounded
    longitudes -> centredSpread. The distinct set is bounded (<= 360 *
    multiplier) so the driver-side loop is safe at any scale."""
    rows = (keyed_view.where(F.col("lng").isNotNull())
            .select(F.round(F.col("lng") * multiplier).cast("int").alias("l"))
            .distinct().collect())
    got = centred_spread([r.l for r in rows], 360 * multiplier)
    if got is None:
        return None
    lo, hi = got
    return lo / multiplier, hi / multiplier
