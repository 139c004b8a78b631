"""End-to-end pyramid invariants (FIXTURES.md §5; the reference verifies
the same properties in AggregationsTest.java:48-66 and
YearFilteringTest.java:40-67 against golden production tiles)."""

import pyspark.sql.functions as F
import pytest

from maps_spark.functions import mvt, pointpb
from maps_spark.operators import pyramid as PY
from tests.conftest import pyramid_pixels

MAX_Z = 6


@pytest.fixture(scope="module")
def keyed(occ_small):
    return PY.keyed_occurrence(occ_small).cache()


@pytest.fixture(scope="module")
def pixel_levels(keyed):
    levels = dict(pyramid_pixels(keyed, "EPSG:3857", MAX_Z))
    for df in levels.values():
        df.cache()
    return levels


def test_grand_total_conservation(occ_small, keyed, pixel_levels):
    """Sum of pixel counts for view 0:0 at every zoom == number of
    plottable filtered input rows (invariant 6)."""
    n_plottable = (occ_small
                   .where("decimalLatitude IS NOT NULL AND "
                          "decimalLongitude IS NOT NULL AND "
                          f"abs(decimalLatitude) <= 85.0511287798066")
                   .count())
    assert n_plottable > 0
    for z in (MAX_Z, 3, 0):
        total = (pixel_levels[z].where("mapKey = '0:0'")
                 .agg(F.sum("cnt")).collect()[0][0])
        assert total == n_plottable, f"zoom {z}"


def test_parent_equals_children(pixel_levels):
    """Every zoom's total per (mapKey, borYear) matches the zoom above
    (invariant 2, in aggregate form)."""
    hi = (pixel_levels[MAX_Z].groupBy("mapKey", "borYear")
          .agg(F.sum("cnt").alias("c")))
    lo = (pixel_levels[0].groupBy("mapKey", "borYear")
          .agg(F.sum("cnt").alias("c")))
    diff = hi.join(lo, ["mapKey", "borYear"], "full") \
             .where("hi.c IS NULL OR lo.c IS NULL") if False else None
    joined = (hi.alias("hi").join(lo.alias("lo"), ["mapKey", "borYear"], "outer")
              .where(F.coalesce(F.col("hi.c"), F.lit(-1)) !=
                     F.coalesce(F.col("lo.c"), F.lit(-2))))
    assert joined.count() == 0


def test_pixel_parent_exact(pixel_levels):
    """Pixel-level: value at z-1 pixel == sum of its 4 children at z."""
    child = PY.rollup(pixel_levels[MAX_Z], 1)
    parent = pixel_levels[MAX_Z - 1]
    bad = (child.alias("c").join(
        parent.alias("p"), ["mapKey", "px", "py", "borYear"], "outer")
        .where(F.coalesce(F.col("c.cnt"), F.lit(-1)) !=
               F.coalesce(F.col("p.cnt"), F.lit(-2))))
    assert bad.count() == 0


def test_spans_match_cascade_at_z16(keyed):
    """The span strategy must reproduce the per-zoom cascade EXACTLY at
    the reference's max zoom — 17 levels cross two span boundaries, so
    this exercises the continuation path (pre-shift + re-aggregate of
    the previous span's deepest level) twice, which no single-span test
    reaches."""
    spans = dict(PY.pyramid_pixels_spans(keyed, "EPSG:3857", 16))
    cascade = dict(pyramid_pixels(keyed, "EPSG:3857", 16))
    for z in (16, 10, 9, 4, 3, 0):  # boundary zooms + their successors
        bad = (spans[z].alias("s").join(
            cascade[z].alias("c"), ["mapKey", "px", "py", "borYear"],
            "outer")
            .where(F.coalesce(F.col("s.cnt"), F.lit(-1)) !=
                   F.coalesce(F.col("c.cnt"), F.lit(-2))))
        assert bad.count() == 0, f"zoom {z}"


def test_spans_incremental_multi_batch(spark, keyed):
    """The span stage must aggregate incrementally across many small
    Arrow batches (the 100TB memory guard: Python-worker peak is
    O(groups), not O(partition rows)). Forcing tiny batches makes every
    partition span dozens of batches; results must be exact."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "37")  # prime, tiny: guarantees many batches
    try:
        # tiny min_chunk: every few batches trigger a groupby+merge into
        # the running aggregate, exercising the incremental-merge path
        spans = dict(PY.pyramid_pixels_spans(keyed, "EPSG:3857", 8,
                                             min_chunk=100))
        cascade = dict(pyramid_pixels(keyed, "EPSG:3857", 8))
        for z in (8, 5, 2, 0):
            bad = (spans[z].alias("s").join(
                cascade[z].alias("c"), ["mapKey", "px", "py", "borYear"],
                "outer")
                .where(F.coalesce(F.col("s.cnt"), F.lit(-1)) !=
                       F.coalesce(F.col("c.cnt"), F.lit(-2))))
            assert bad.count() == 0, f"zoom {z}"
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_unpersist_pyramid_releases_cache(spark, keyed):
    """build_pyramid tracks its persisted span parents; unpersist_pyramid
    releases them (ADVICE: repeated builds must not accumulate cache)."""
    tiles = PY.build_pyramid(keyed, "EPSG:3857", 3)
    tiles.count()
    persisted = getattr(tiles, "_maps_spark_persisted", [])
    assert persisted, "spans_multi should track persisted span parents"
    assert any(df.storageLevel.useMemory or df.storageLevel.useDisk
               for df in persisted)
    PY.unpersist_pyramid(tiles)
    assert all(not (df.storageLevel.useMemory or df.storageLevel.useDisk)
               for df in persisted)


def test_explode_to_tiles_matches_hof_form_on_edge_grid(spark):
    """The staged fan-out must equal the array_distinct/HOF form on a
    crafted grid of every edge class: tile corners, buffer bands,
    dateline-wrap columns, canvas extremes — at a wrap zoom, a normal
    zoom, and on the 2-wide WGS84 grid."""
    from maps_spark.functions import tiles as T

    for srs, z in (("EPSG:3857", 3), ("EPSG:3857", 2), ("EPSG:4326", 3)):
        sch = T.schema_for(srs)
        world_x = sch.num_x_tiles(z) * 512
        world_y = sch.num_y_tiles(z) * 512
        edge_vals_x = sorted({0, 1, 63, 64, 65, 255, 447, 448, 511, 512,
                              513, world_x - 65, world_x - 64,
                              world_x - 63, world_x - 1} &
                             set(range(world_x)))
        edge_vals_y = sorted({0, 1, 63, 64, 65, 511, 512, 513,
                              world_y - 65, world_y - 64, world_y - 1} &
                             set(range(world_y)))
        rows = [("0:0", 100, 1, px, py)
                for px in edge_vals_x for py in edge_vals_y]
        pix = spark.createDataFrame(
            rows, "mapKey string, borYear int, cnt long, px long, py long")
        new = T.explode_to_tiles(pix, srs, z)
        old_arr = T.collect_to_tiles(srs, z, F.col("px"), F.col("py"),
                                     dedup=True)
        old = (pix.select("mapKey", "borYear", "cnt",
                          F.explode(old_arr).alias("t"))
               .select("mapKey", "borYear", "cnt",
                       F.col("t.tileX").alias("tileX"),
                       F.col("t.tileY").alias("tileY"),
                       F.col("t.pixelX").alias("pixelX"),
                       F.col("t.pixelY").alias("pixelY")))
        assert new.exceptAll(old).count() == 0, (srs, z)
        assert old.exceptAll(new).count() == 0, (srs, z)


def test_explode_to_tiles_multi_matches_per_zoom_on_edge_grid(spark):
    """The z-column fan-out (one scan per span parent) must equal the
    literal-z staged form row-for-row on the edge grid at every z >= 2
    it is used for — including the 2-wide WGS84 grid and a polar
    (non-wrapping) schema."""
    from maps_spark.functions import tiles as T

    for srs in ("EPSG:3857", "EPSG:4326", "EPSG:3575"):
        sch = T.schema_for(srs)
        rows = []
        for z in (2, 3, 5):
            world_x = sch.num_x_tiles(z) * 512
            world_y = sch.num_y_tiles(z) * 512
            xs = sorted({0, 1, 63, 64, 65, 447, 448, 511, 512, 513,
                         world_x - 65, world_x - 64, world_x - 1} &
                        set(range(world_x)))
            ys = sorted({0, 1, 63, 64, 65, 511, 512, 513,
                         world_y - 65, world_y - 64, world_y - 1} &
                        set(range(world_y)))
            rows += [("0:0", 100, 1, px, py, z)
                     for px in xs for py in ys]
        pix = spark.createDataFrame(
            rows, "mapKey string, borYear int, cnt long, px long, "
                  "py long, z int")
        multi = T.explode_to_tiles_multi(pix, srs)
        per_z = None
        for z in (2, 3, 5):
            one = (T.explode_to_tiles(pix.where(F.col("z") == z)
                                      .drop("z"), srs, z)
                   .withColumn("z", F.lit(z))
                   .select(*multi.columns))
            per_z = one if per_z is None else per_z.unionByName(one)
        assert multi.exceptAll(per_z).count() == 0, srs
        assert per_z.exceptAll(multi).count() == 0, srs


def test_multi_zoom_encode_matches_per_zoom(keyed):
    """The span engine + single multi-zoom encode must produce the same
    tile set with feature-identical contents as a per-zoom reference:
    cascade pixel levels, per-zoom tile fan-out, one encode per zoom
    (byte equality is not required — feature order within a tile is
    partition-arbitrary)."""
    max_z = 4
    built = PY.build_pyramid(keyed, "EPSG:3857", max_z)
    per_zoom = [
        PY.encode_mvt(PY.tile_rows(pixels, "EPSG:3857", z)
                      .withColumn("z", F.lit(z)))
        for z, pixels in pyramid_pixels(keyed, "EPSG:3857", max_z)]

    def decoded(rows):
        out = {}
        for r in rows:
            t = mvt.decode_tile(bytes(r.tile))
            out[(r.mapKey, r.z, r.x, r.y)] = {
                layer: {(x, y, frozenset(attrs.items()))
                        for x, y, attrs in feats}
                for layer, feats in t.items()}
        return out

    a = decoded(built.collect())
    PY.unpersist_pyramid(built)
    b = decoded(r for df in per_zoom for r in df.collect())
    assert set(range(max_z + 1)) == {k[1] for k in b}
    assert a.keys() == b.keys()
    for k in a:
        assert a[k] == b[k], k


def test_mvt_tiles_match_pixels(pixel_levels):
    """Decoded MVT totals (buffer excluded) == pixel-table totals for a
    sample of map views at z1."""
    z = 1
    tiles = PY.encode_mvt(PY.tile_rows(pixel_levels[z], "EPSG:3857", z)
                          .withColumn("z", F.lit(z))).collect()
    assert tiles
    totals: dict[str, int] = {}
    for r in tiles:
        t = mvt.tile_totals(r.tile, exclude_buffer=True)
        totals[r.mapKey] = totals.get(r.mapKey, 0) + sum(t.values())
    expected = {r["mapKey"]: r["c"] for r in
                pixel_levels[z].groupBy("mapKey").agg(F.sum("cnt").alias("c"))
                .collect()}
    assert totals == expected


def test_buffer_duplication_roundtrip(pixel_levels):
    """Features in a tile's buffer also exist as interior pixels of the
    neighbouring tile (write-time duplication, TileXYUDF semantics)."""
    z = 2
    rows = PY.tile_rows(pixel_levels[z], "EPSG:3857", z).collect()
    interior = {(r.mapKey, r.tileX * 512 + r.pixelX, r.tileY * 512 + r.pixelY,
                 r.borYear) for r in rows
                if 0 <= r.pixelX < 512 and 0 <= r.pixelY < 512}
    n_buffered = 0
    world = 512 * 2 ** z
    for r in rows:
        if not (0 <= r.pixelX < 512 and 0 <= r.pixelY < 512):
            n_buffered += 1
            gx = (r.tileX * 512 + r.pixelX) % world
            gy = r.tileY * 512 + r.pixelY
            assert (r.mapKey, gx, gy, r.borYear) in interior
    assert n_buffered > 0  # the fixture data must exercise buffers


def test_point_pyramid_equivalence(keyed):
    """Invariant 7: a view rendered from its point bundle aggregates to
    the same (borYear -> count) totals as the pyramid path."""
    view = keyed.where("mapKey = '0:0'")
    blob = PY.point_blobs(view).collect()[0].features
    from collections import Counter
    from maps_spark.sql.dual import BOR_CODE
    from tests.oracles import point_rows
    point_totals = Counter()
    for lat, lng, bor, year, cnt in point_rows(pointpb.decode_features(blob)):
        point_totals[year * 100 + BOR_CODE[bor]] += cnt
    pix = PY.pixel_table(view, "EPSG:4326", 0)
    pyr_totals = {r.borYear: r.c for r in
                  pix.groupBy("borYear").agg(F.sum("cnt").alias("c")).collect()}
    assert dict(point_totals) == pyr_totals


def test_split_views_threshold(keyed):
    threshold = 300
    large, small = PY.split_views(keyed, threshold=threshold)
    large_keys = {r.mapKey for r in large.select("mapKey").distinct().collect()}
    small_keys = {r.mapKey for r in small.select("mapKey").distinct().collect()}
    assert "0:0" in large_keys
    assert not (large_keys & small_keys)
    counts = {r.mapKey: r.n for r in
              keyed.groupBy("mapKey").agg(F.count("*").alias("n")).collect()}
    for k, n in counts.items():
        assert (k in large_keys) == (n >= threshold)


def test_dictionary_encode_roundtrip(keyed):
    """A15: int-keyed aggregation decodes back to the exact string-keyed
    result (shuffle-volume option for billion-row fan-outs)."""
    from maps_spark.operators import pyramid as PY
    d, enc = PY.dictionary_encode(keyed)
    plain = PY.pixel_table(keyed, "EPSG:3857", 4)
    dec = PY.dictionary_decode(PY.pixel_table(enc, "EPSG:3857", 4), d)
    assert dec.select(*plain.columns).exceptAll(plain).count() == 0
    assert plain.exceptAll(dec.select(*plain.columns)).count() == 0


def test_dictionary_encoded_pyramid_matches_plain(keyed):
    """dictionary=True routes every shuffle through int map keys and
    restores strings via one broadcast join — tiles must be
    feature-identical to the plain build."""
    plain = PY.build_pyramid(keyed, "EPSG:3857", 3)
    dicted = PY.build_pyramid(keyed, "EPSG:3857", 3, dictionary=True)

    def decoded(df):
        out = {}
        for r in df.collect():
            t = mvt.decode_tile(bytes(r.tile))
            out[(r.mapKey, r.z, r.x, r.y)] = {
                layer: {(x, y, frozenset(attrs.items()))
                        for x, y, attrs in feats}
                for layer, feats in t.items()}
        return out

    a, b = decoded(plain), decoded(dicted)
    PY.unpersist_pyramid(plain)
    PY.unpersist_pyramid(dicted)
    assert a.keys() == b.keys()
    assert a == b
