"""Ad-hoc map queries: the Elasticsearch geo-grid path, Spark-native.

The reference's /adhoc endpoint turns a tile request into an ES search
with a geotile/geohash grid aggregation (AdHocMapsResource.java:126-239):
bbox filter from the tile boundary, buckets with doc_count and either
GEO_BOUNDS (per-bucket bbox) or GEO_CENTROID modes, plus a year-facet
terms aggregation (RegressionResource.java:226-252).

Spark-native: the "geo-grid bucket" at zoom z IS the tile address at
zoom z, so the whole endpoint is a filter + groupBy over the occurrence
table — Catalyst pushes the bbox filter into the parquet scan.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from maps_spark.functions import projections as P


def _grid_cols(srs: str, z: int) -> tuple[Column, Column]:
    px, py = P.pixel_cols(srs, "lat", "lng", z, tile_size=1)
    # tile_size=1 makes the "pixel" address the geotile cell address
    return px, py


def geo_grid(occ: DataFrame, z: int, srs: str = "EPSG:3857",
             bbox: tuple[float, float, float, float] | None = None,
             mode: str = "bounds") -> DataFrame:
    """Geo-grid aggregation (A12).

    mode='bounds': cell, count, bucket bbox (min/max lat/lng).
    mode='centroid': cell, count, centroid (mean lat/lng).
    ``bbox`` = (minLng, minLat, maxLng, maxLat) pre-filter.
    """
    df = occ.select(F.col("decimalLatitude").alias("lat"),
                    F.col("decimalLongitude").alias("lng"))
    if bbox:
        df = df.where(_bbox_pred(bbox))
    cx, cy = _grid_cols(srs, z)
    df = (df.select("lat", "lng", cx.alias("cellX"), cy.alias("cellY"))
          .where(F.col("cellX").isNotNull()))
    if mode == "bounds":
        return df.groupBy("cellX", "cellY").agg(
            F.count("*").alias("occCount"),
            F.min("lat").alias("minLat"), F.max("lat").alias("maxLat"),
            F.min("lng").alias("minLng"), F.max("lng").alias("maxLng"))
    if mode == "centroid":
        # decimal-stable mean so the DuckDB oracle matches bitwise
        slat = F.sum(F.col("lat").cast("decimal(28,6)"))
        slng = F.sum(F.col("lng").cast("decimal(28,6)"))
        return df.groupBy("cellX", "cellY").agg(
            F.count("*").alias("occCount"),
            (slat.cast("decimal(38,6)").cast("double") / F.count("lat"))
            .alias("centroidLat"),
            (slng.cast("decimal(38,6)").cast("double") / F.count("lng"))
            .alias("centroidLng"))
    raise ValueError(mode)


def _bbox_pred(bbox: tuple[float, float, float, float]):
    """(minLng, minLat, maxLng, maxLat) -> Column predicate; minLng >
    maxLng means the box crosses the antimeridian (OR form)."""
    min_lng, min_lat, max_lng, max_lat = bbox
    if min_lng <= max_lng:
        lng_pred = (F.col("lng") >= min_lng) & (F.col("lng") <= max_lng)
    else:
        lng_pred = (F.col("lng") >= min_lng) | (F.col("lng") <= max_lng)
    return (lng_pred & (F.col("lat") >= min_lat) &
            (F.col("lat") <= max_lat))


def adhoc_tile(occ: DataFrame, z: int, x: int, y: int,
               srs: str = "EPSG:3857", mode: str = "bounds",
               tile_buffer: float = 0.125, grid_zoom: int | None = None
               ) -> DataFrame:
    """The full /adhoc request: tile boundary (C12) -> bbox filter ->
    geo-grid aggregation (AdHocMapsResource.java:126-239). ``grid_zoom``
    defaults to z + 6 like the reference's geotile precision ramp.
    Polar tiles may expand to several bboxes (pole-containing tiles:
    four quadrant requests, AdHocMapsResource.java:156-170) — their
    predicates OR together."""
    from maps_spark.functions.tiles import tile_boundaries
    gz = grid_zoom if grid_zoom is not None else z + 6
    # F9 empty-tile guard (AdHocMapsResource.java:175-178): a degenerate
    # boundary (zero width or height) answers empty WITHOUT a scan — the
    # constant-false filter folds to an empty LocalRelation, so no
    # parquet read is ever scheduled.
    boxes = [b for b in tile_boundaries(srs, z, x, y, tile_buffer)
             if b[0] != b[2] and b[1] != b[3]]
    if not boxes:
        return geo_grid(occ.where(F.lit(False)), gz, srs=srs, mode=mode)
    if len(boxes) == 1:
        return geo_grid(occ, gz, srs=srs, bbox=boxes[0], mode=mode)
    df = occ.select(F.col("decimalLatitude").alias("lat"),
                    F.col("decimalLongitude").alias("lng"))
    pred = _bbox_pred(boxes[0])
    for b in boxes[1:]:
        pred = pred | _bbox_pred(b)
    pre = df.where(pred).select(F.col("lat").alias("decimalLatitude"),
                                F.col("lng").alias("decimalLongitude"))
    return geo_grid(pre, gz, srs=srs, mode=mode)


def adhoc_search(occ: DataFrame, z: int, x: int, y: int,
                 params: dict | None = None, srs: str = "EPSG:3857",
                 mode: str = "bounds", tile_buffer: float = 0.125
                 ) -> DataFrame:
    """The complete /adhoc request: search-predicate DSL + tile bbox +
    geo-grid aggregation (AdHocMapsResource.all semantics, Spark-native
    instead of ES)."""
    from maps_spark.plans.params import search_predicate
    pred = search_predicate(params or {})
    if pred is not None:
        occ = occ.where(pred)
    return adhoc_tile(occ, z, x, y, srs=srs, mode=mode,
                      tile_buffer=tile_buffer)


def adhoc_event_search(events: DataFrame, params: dict | None = None,
                       limit: int = 300) -> DataFrame:
    """The event-index ad-hoc resource — the reference's
    ``event-vectortile-server`` specialization: the SAME search-param
    DSL bound to a second index's column registry
    (params.EVENT_SEARCH_COLUMNS), aggregated into a per-day,
    per-event-type facet with the standard facet limit.

    The synthetic event index is non-geographic, so the "grid" here is
    temporal: day buckets as epoch days (integer in both engines; the
    NTZ-safe arithmetic mirrors operators.sessions). ``value`` folds in
    as exact milli-units. Supported params: ``eventType`` / ``userId``
    (equality, multi-value ORs), ``year`` (range DSL over
    ``year(ts)``). Output: (day_bucket, event_type, n, value_milli),
    ordered by count desc then bucket/type, first ``limit`` rows.
    """
    from maps_spark.operators.sessions import TS_US_SPARK
    from maps_spark.plans.params import (EVENT_SEARCH_COLUMNS,
                                         search_predicate)
    df = events.withColumn("year", F.expr("extract(year from ts)"))
    pred = search_predicate(params or {}, columns=EVENT_SEARCH_COLUMNS)
    if pred is not None:
        df = df.where(pred)
    day = F.floor(F.expr(TS_US_SPARK).cast("long") /
                  F.lit(86_400_000_000)).cast("long")
    return (df.groupBy(day.alias("day_bucket"), "event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(F.floor(F.col("value") * 1000).cast("long"))
                 .cast("long").alias("value_milli"))
            .orderBy(F.col("n").desc(), "day_bucket", "event_type")
            .limit(limit))


def adhoc_png(occ: DataFrame, z: int, x: int, y: int,
              params: dict | None = None, srs: str = "EPSG:3857",
              scale: float = 1.0, tile_size: int = 512) -> bytes:
    """The ad-hoc raster endpoint: GEO_CENTROID buckets rendered with
    the ``scaled.circles`` marker style — the style styles.js registers
    specifically for the ES-portal ad-hoc mode ("Adhoc map style for ES
    portal (mode=GEO_CENTROID)"). Bucket counts pick the circle
    width/fill/opacity breakpoints; centroids are projected into
    tile-local pixels."""
    from maps_spark.functions import png
    from maps_spark.functions import projections as P
    grid = adhoc_search(occ, z, x, y, params=params, srs=srs,
                        mode="centroid")
    markers = []
    for r in grid.collect():
        fx, fy = P.global_xy(srs, [r["centroidLat"]], [r["centroidLng"]],
                             z, tile_size)
        markers.append((float(fx[0]) - x * tile_size,
                        float(fy[0]) - y * tile_size,
                        int(r["occCount"])))
    return png.render_marker_png(markers, "scaled.circles",
                                 tile_size=tile_size, scale=scale)


def year_facet(occ: DataFrame, limit: int = 300) -> DataFrame:
    """Terms aggregation year -> count (A13, facet limit 300)."""
    return (occ.where(F.col("year").isNotNull())
            .groupBy("year").agg(F.count("*").alias("occCount"))
            .orderBy(F.col("occCount").desc(), F.col("year"))
            .limit(limit))


def extract_props(events: DataFrame, fields: tuple[str, ...] = ("k",),
                  props_col: str = "props") -> DataFrame:
    """Schema-on-read extraction of JSON event properties: each field
    in ``fields`` becomes a typed BIGINT column ``p_<field>`` beside
    the event columns. ``get_json_object`` is a JVM-side expression —
    the extraction runs inside whole-stage codegen, no Python, and
    unreferenced fields are never parsed (column pruning applies to
    the generated projection like any other)."""
    cols = [F.get_json_object(F.col(props_col), f"$.{f}").cast("long")
            .alias(f"p_{f}") for f in fields]
    return events.select("*", *cols)


def event_props_facet(events: DataFrame, field: str = "k") -> DataFrame:
    """Per-event-type facet over a JSON property: count, sum, min, max
    and distinct-value cardinality of ``props.$field`` — the
    "aggregate over a semi-structured payload" query every event
    analytics store serves (the reference's ES documents carry exactly
    such dynamic fields; Spark answers it schema-on-read without a
    reindex).

    One shuffle keyed by event_type with map-side combine; all
    measures integer-exact (oracle-safe).
    """
    k = F.get_json_object(F.col("props"), f"$.{field}").cast("long")
    return (events.select("event_type", k.alias("k"))
            .groupBy("event_type").agg(
                F.count("*").alias("n_events"),
                F.sum("k").alias("sum_k"),
                F.min("k").alias("min_k"),
                F.max("k").alias("max_k"),
                F.countDistinct("k").alias("n_distinct_k")))


def event_type_crosstab(events: DataFrame,
                        types: tuple[str, ...] = ("click", "view",
                                                  "purchase", "signup",
                                                  "error")) -> DataFrame:
    """Pivot the event stream into a per-user activity profile: one
    column per event type (explicit ``types`` list keeps the schema
    static — a two-pass inferred pivot is a needless extra job and a
    nondeterministic column order). One shuffle keyed by user_id;
    the pivot itself is a conditional aggregation inside codegen.

    Output: (user_id, n_<type>... , n_total)."""
    aggs = [F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("long").alias(f"n_{t}") for t in types]
    return (events.groupBy("user_id")
            .agg(*aggs, F.count("*").alias("n_total")))


def event_rollup(events: DataFrame) -> DataFrame:
    """Hierarchical (event_type, year) counts via SQL ROLLUP — the
    grouping-sets surface: per (type, year), per type subtotal, and
    the grand total in ONE aggregation pass (Catalyst expands the
    grouping sets; no per-level re-scan). Null grouping columns mark
    subtotal rows, made explicit in ``is_total_*`` flags so the
    oracle comparison is unambiguous.

    Output: (event_type, year, is_total_type, is_total_year, n)."""
    from maps_spark.operators.sessions import TS_US_SPARK
    yr = F.expr(f"({TS_US_SPARK}) div {365 * 86400 * 1_000_000} + 1970")
    base = events.select(F.col("event_type"),
                         yr.cast("long").alias("year"))
    return (base.rollup("event_type", "year")
            .agg(F.count("*").alias("n"))
            .select(F.coalesce("event_type", F.lit("(all)"))
                    .alias("event_type"),
                    F.coalesce("year", F.lit(-1)).alias("year"),
                    F.col("event_type").isNull().alias("is_total_type"),
                    F.col("year").isNull().alias("is_total_year"),
                    "n"))


def top_events_per_user(events: DataFrame, k: int = 3) -> DataFrame:
    """Grouped top-k: each user's k highest-value events
    (deterministic ties on event_id). The window partitions by
    user_id — per-group sort, never a global one.

    Output: (user_id, event_id, value_milli, rnk)."""
    from pyspark.sql import Window
    vm = F.floor(F.col("value") * 1000).cast("long")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value_milli"), F.col("event_id"))
    return (events.select("user_id", "event_id",
                          vm.alias("value_milli"))
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k))


def hot_keys(df: DataFrame, cols: list[str] | tuple[str, ...],
             k: int = 20, scale: int = 1_000_000) -> DataFrame:
    """Shuffle-skew diagnosis as a first-class operator: the top-k
    hottest grouping keys of ``cols`` with their corpus share — at
    100 TB the first question about any slow shuffle/join is "which
    keys are hot", and the answer decides between salting, AQE skew
    splitting, and a broadcast rewrite.

    One map-side-combined aggregation + a TakeOrdered cut (never a
    global sort); the windows run AFTER the limit, over at most
    ``k + 1`` rows. Deterministic: ties break on the key columns.

    The grand total is the aggregation's empty grouping set, which
    sorts first in the cut, so one pass over ``df`` yields both. (A
    second consumer of the counts would recompute them when ``df`` is
    a persisted frame, such as the occurrence snapshot: adaptive
    execution never reuses an exchange above a cached relation.)

    Output: (rank, key, cnt, share_scaled) with key the pipe-joined
    string form and share = floor(cnt * scale / total).
    """
    from pyspark.sql import Window
    cols = list(cols)
    counts = df.groupingSets([cols, []], *cols).agg(
        F.count("*").alias("cnt"), F.grouping_id().alias("gid"))
    top = counts.orderBy(F.desc("gid"), F.desc("cnt"), *cols).limit(k + 1)
    total = F.max(F.when(F.col("gid") > 0, F.col("cnt"))).over(
        Window.partitionBy())
    w = Window.orderBy(F.desc("cnt"), *cols)
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
    return (top.withColumn("total", total).where(F.col("gid") == 0)
            .withColumn("rank", F.row_number().over(w))
            .select("rank", key.alias("key"), "cnt",
                    F.expr(f"cnt * {scale} div total")
                    .cast("long").alias("share_scaled")))
