"""Serving-side operator invariants: country mask (J1), hex trend (J2),
backfill + streaming smoke. Dataset-independent invariants in the
reference's test style (SURVEY §5)."""

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def keyed(spark, occ_small):
    from maps_spark.operators import pyramid as PY
    return PY.keyed_occurrence(occ_small).cache()


class TestCountryMask:
    def test_masked_subset_of_unmasked(self, spark, keyed):
        from maps_spark.operators import serving as SV
        full = SV.density_tile(keyed, "0:0", "EPSG:3857", 1, 0, 0)
        masked = SV.country_masked_tile(keyed, "0:0", "4:NATION_3",
                                        "EPSG:3857", 1, 0, 0)
        # every masked pixel appears in the unmasked tile w/ same total
        extra = masked.join(full, ["px", "py", "total"], "left_anti")
        assert extra.count() == 0
        assert 0 < masked.count() < full.count()

    def test_self_mask_is_identity(self, spark, keyed):
        from maps_spark.operators import serving as SV
        view = "4:NATION_3"
        own = SV.density_tile(keyed, view, "EPSG:3857", 1, 0, 0)
        self_masked = SV.country_masked_tile(keyed, view, view,
                                             "EPSG:3857", 1, 0, 0)
        assert own.count() == self_masked.count()


class TestSalt:
    def test_java_hashcode_parity(self, spark):
        """Golden values from ModulusSaltTest.java:27-40 — 'bingo' mod 28
        left-pads to '03'; Java hashCode must match exactly."""
        import pyspark.sql.functions as F
        from maps_spark.functions.keys import java_hash_salt, salted_key

        def java_hash(s):
            h = 0
            for c in s:
                h = (31 * h + ord(c)) & 0xFFFFFFFF
            return h - (1 << 32) if h >= (1 << 31) else h

        df = spark.createDataFrame([("bingo",), ("0:0",), ("1:c0|s42",)],
                                   ["k"])
        got = {r.k: (r.salt, r.full) for r in df.select(
            "k", java_hash_salt(F.col("k"), 28).alias("salt"),
            salted_key(F.col("k"), 28).alias("full")).collect()}
        assert got["bingo"][0] == "03"          # golden from the reference
        assert got["bingo"][1] == "03:bingo"
        for k, (salt, full) in got.items():
            expect = (java_hash(k) & 0xFFFFFFF) % 28
            assert int(salt) == expect
            assert full == f"{expect:02d}:{k}"


class TestPointModeServing:
    def test_point_path_equals_density_tile(self, spark, keyed):
        """A8: projecting a view's point bundle at request time must give
        the same per-pixel totals as aggregating from source."""
        import pyspark.sql.functions as F

        from maps_spark.functions import pointpb
        from maps_spark.operators import pyramid as PY
        from maps_spark.operators import serving as SV

        view = "3:org-3"
        small = keyed.where(F.col("mapKey") == view)
        blob = PY.point_blobs(small).collect()[0].features
        got = SV.pixel_dict(SV.points_to_tile(
            pointpb.decode_features(bytes(blob)), "EPSG:3857", 1, 0, 0))
        expect = {(r.px, r.py): r.total
                  for r in SV.density_tile(keyed, view, "EPSG:3857",
                                           1, 0, 0).collect()}
        assert got == expect

    def test_point_path_year_filter(self, spark, keyed):
        import pyspark.sql.functions as F

        from maps_spark.functions import pointpb
        from maps_spark.operators import pyramid as PY
        from maps_spark.operators import serving as SV

        view = "3:org-3"
        blob = PY.point_blobs(
            keyed.where(F.col("mapKey") == view)).collect()[0].features
        feats = pointpb.decode_features(bytes(blob))
        unfiltered = SV.points_to_tile(feats, "EPSG:3857", 0, 0, 0,
                                       verbose=True)
        filtered = SV.points_to_tile(feats, "EPSG:3857", 0, 0, 0,
                                     year_range=(1900, 1950), verbose=True)
        # filtered totals == the 1900-1950 slice of unfiltered years
        for pix, counts in filtered.items():
            expect = sum(v for k, v in unfiltered[pix].items()
                         if k != "total" and 1900 <= int(k) <= 1950)
            assert counts["total"] == expect


class TestHexTrend:
    def test_slope_finite_and_join_semantics(self, spark, keyed):
        from maps_spark.operators import regression as R
        out = R.hex_trend(spark, keyed, "1:c0|g8", "1:c0|f2",
                          "EPSG:3857", 0, 0, 0).toPandas()
        assert len(out) > 0
        assert {"hexq", "hexr", "n", "slope", "intercept"} <= set(
            c.lower() for c in out.columns)
        # n >= 1 everywhere; slope defined wherever n >= 2 with year spread
        assert (out["n"] >= 1).all()
        # n >= 2 means two distinct years joined -> OLS denominator != 0,
        # so the slope must be defined (sf0.001 may have no such hex;
        # the sf0.01 oracle gate exercises the dense case)
        multi = out[out["n"] >= 2]
        if len(multi):
            assert multi["slope"].notna().all()
        else:
            assert out["slope"].isna().all()


class TestSearchPredicate:
    def test_params_compile_and_filter(self, spark, occ_small):
        from maps_spark.operators.adhoc import adhoc_search
        from maps_spark.plans.params import search_predicate

        base = occ_small.count()
        one = occ_small.where(search_predicate(
            {"datasetKey": "ds-7"})).count()
        multi = occ_small.where(search_predicate(
            {"datasetKey": ["ds-7", "ds-8"]})).count()
        assert 0 < one < multi < base  # values OR together

        anded = occ_small.where(search_predicate(
            {"datasetKey": "ds-7", "year": "1900,1950"})).count()
        assert anded < one  # params AND together

        taxon = occ_small.where(search_predicate(
            {"taxonKey": "g8"})).count()
        species = occ_small.where(search_predicate(
            {"taxonKey": "s42"})).count()
        assert taxon > species > 0  # genus matches more than a species

        net = occ_small.where(search_predicate(
            {"networkKey": "net-global"})).count()
        assert net > 0

        assert search_predicate({"nosuch": "x", "empty": ""}) is None

        grid = adhoc_search(occ_small, 1, 0, 0,
                            {"basisOfRecord": ["OBSERVATION"]})
        assert grid.count() > 0


class TestServeTimeBinning:
    def test_dict_binning_matches_spark_binning(self, spark, keyed):
        """Serve-time hex/square binning (numpy, in memory) must equal
        the Spark-side binning of the same served tile."""
        import numpy as np

        from maps_spark.operators import binning as B
        from maps_spark.operators import serving as SV

        tile_df = SV.density_tile(keyed, "0:0", "EPSG:3857", 2, 1, 1)
        tile = tuple(np.array(c, np.int64) for c in
                     zip(*[(r.px, r.py, r.total) for r in tile_df.collect()]))

        def cells(a, b, total):
            return dict(zip(zip(a.tolist(), b.tolist()), total.tolist()))

        sq_spark = {(r.cellX, r.cellY): r.total
                    for r in B.square_bin(tile_df).collect()}
        assert cells(*B.square_bin_dict(*tile)) == sq_spark

        hx_spark = {(r.hexQ, r.hexR): r.total
                    for r in B.hex_bin(tile_df, 2, 1, 1).collect()}
        assert cells(*B.hex_bin_dict(*tile, 2, 1, 1)) == hx_spark


class TestPolarAdhoc:
    def test_bbox_prefilter_loses_no_cells(self, spark, occ_small):
        """The polar tile-boundary pre-filter must keep every grid cell
        that falls inside the requested tile's pixel window."""
        import math

        from maps_spark.operators import adhoc as AH

        srs, z, x, y, gz = "EPSG:3575", 2, 0, 1, 4
        got = AH.adhoc_tile(occ_small, z, x, y, srs=srs, grid_zoom=gz)
        full = AH.geo_grid(occ_small, gz, srs=srs)
        scale = (1 << gz) / (1 << z)
        win = full.where(
            (F.col("cellX") >= math.floor((x - 0.125) * scale)) &
            (F.col("cellX") < (x + 1.125) * scale) &
            (F.col("cellY") >= math.floor((y - 0.125) * scale)) &
            (F.col("cellY") < (y + 1.125) * scale))
        missing = (win.select("cellX", "cellY")
                   .exceptAll(got.select("cellX", "cellY")).count())
        assert missing == 0
        assert 0 < got.count() < full.count()  # it actually pruned


class TestV1TileJson:
    def test_document_shape_and_clamp(self, spark, keyed):
        from maps_spark.operators.capabilities import v1_tile_json
        doc = v1_tile_json(keyed, generated="20260813_0800")
        assert set(doc) == {"count", "minimumLatitude", "maximumLatitude",
                           "minimumLongitude", "maximumLongitude", "etag"}
        assert doc["count"] > 0
        assert -85.0511288 <= doc["minimumLatitude"] <= doc["maximumLatitude"]
        assert doc["maximumLatitude"] <= 85.0511288
        assert -180.0 <= doc["minimumLongitude"] <= doc["maximumLongitude"]
        assert doc["etag"] == '"20260813_0800"'

    def test_view_count_matches_keyed(self, spark, keyed):
        from maps_spark.operators.capabilities import v1_tile_json
        doc = v1_tile_json(keyed, "DATASET", "ds-7")
        direct = keyed.where(
            (F.col("mapKey") == "2:ds-7") & F.col("lat").isNotNull()
            & F.col("lng").isNotNull()).count()
        assert doc["count"] == direct

    def test_taxon_embeds_checklist_and_unknown_type(self, keyed):
        from maps_spark.operators.capabilities import v1_map_key
        assert v1_map_key("TAXON", "s42") == "1:c0|s42"
        assert v1_map_key("COUNTRY", "DE") == "4:DE"
        assert v1_map_key("BOGUS", "x") == "0:0"
        assert v1_map_key(None, None) == "0:0"

    def test_empty_view_zero_doc(self, spark, keyed):
        from maps_spark.operators.capabilities import v1_tile_json
        doc = v1_tile_json(keyed, "DATASET", "no-such-dataset")
        assert doc["count"] == 0


class TestPolarPointTileParity:
    def test_point_path_drops_off_canvas_buffer_records(self):
        """A 3575 buffer-band record (lat in (-1, 0)) whose pixel
        overshoots the canvas is NULLed by the tile pipeline
        (dual._azimuthal_exprs) — the point path must drop it too, or
        point-mode and tile-mode serving disagree for the same view."""
        import numpy as np

        from maps_spark.functions import projections as P
        from maps_spark.functions.pointpb import (decode_features,
                                                  encode_features)
        from maps_spark.operators.serving import points_to_tile

        z, ts = 0, 512
        # find an off-canvas and an on-canvas plottable record
        off = on = None
        for lng in range(-180, 180, 5):
            fx, fy = P.global_xy("EPSG:3575", -0.5, float(lng), z, ts)
            if not (0 <= fx < ts and 0 <= fy < ts):
                off = (-0.5, float(lng))
            else:
                on = (-0.5, float(lng))
        assert off is not None and on is not None
        assert bool(np.all(P.is_plottable("EPSG:3575", off[0], off[1])))

        feats = [(off[0], off[1], "OBSERVATION", 2000, 3),
                 (on[0], on[1], "OBSERVATION", 2000, 5)]
        _, _, total = points_to_tile(
            decode_features(encode_features(feats)), "EPSG:3575", z, 0, 0)
        assert total.sum() == 5  # only the on-canvas record

    def test_mercator_point_path_unaffected(self):
        from maps_spark.functions.pointpb import (decode_features,
                                                  encode_features)
        from maps_spark.operators.serving import points_to_tile

        feats = [(45.0, 10.0, "OBSERVATION", 2000, 2)]
        _, _, total = points_to_tile(
            decode_features(encode_features(feats)), "EPSG:3857", 0, 0, 0)
        assert total.sum() == 2


class TestBinnedServing:
    """bin=hex|square density endpoint: served tile -> re-bin ->
    MVT polygon layer (TileResource -> HexBin/SquareBin parity)."""

    @pytest.fixture(scope="class")
    def store(self, spark, tmp_path_factory):
        from maps_spark.plans.backfill import run_backfill
        out = str(tmp_path_factory.mktemp("binstore"))
        run_backfill(spark, SF_SMALL, out, max_zoom=4, threshold=500,
                     srs_list=("EPSG:3857",))
        return out

    def test_square_bin_totals_conserved(self, spark, store):
        from maps_spark.functions import mvt
        from maps_spark.operators.serving import (serve_binned_tile,
                                                  serve_tile)
        tile = serve_tile(spark, store, "0:0", "EPSG:3857", 1, 0, 0)
        assert tile
        data = serve_binned_tile(spark, store, "0:0", "EPSG:3857",
                                 1, 0, 0, bin="square", square_size=64)
        polys = mvt.decode_polygon_tile(data)["occurrence"]
        # every cell a 64px square; totals sum to the visible tile sum
        for ring, attrs in polys:
            xs = [p[0] for p in ring]
            ys = [p[1] for p in ring]
            assert max(xs) - min(xs) == 64 and max(ys) - min(ys) == 64
            assert attrs["total"] > 0
        visible = sum(v for (px, py), v in tile.items()
                      if 0 <= px < 512 and 0 <= py < 512)
        assert sum(a["total"] for _, a in polys) == visible

    def test_hex_bin_totals_conserved(self, spark, store):
        from maps_spark.functions import mvt
        from maps_spark.operators.serving import (serve_binned_tile,
                                                  serve_tile)
        tile = serve_tile(spark, store, "0:0", "EPSG:3857", 1, 0, 0)
        data = serve_binned_tile(spark, store, "0:0", "EPSG:3857",
                                 1, 0, 0, bin="hex")
        polys = mvt.decode_polygon_tile(data)["occurrence"]
        assert polys
        for ring, attrs in polys:
            assert len(ring) == 6  # hexagon rings
            assert attrs["total"] > 0
        # hex binning includes buffer pixels (hexes straddle edges)
        assert sum(a["total"] for _, a in polys) == sum(tile.values())

    def test_year_filter_flows_through(self, spark, store):
        from maps_spark.functions import mvt
        from maps_spark.operators.serving import serve_binned_tile
        all_years = serve_binned_tile(spark, store, "0:0", "EPSG:3857",
                                      1, 0, 0, bin="square")
        early = serve_binned_tile(spark, store, "0:0", "EPSG:3857",
                                  1, 0, 0, bin="square",
                                  year_range=(1900, 1950))
        tot = lambda d: sum(
            a["total"] for _, a in
            mvt.decode_polygon_tile(d)["occurrence"]) if d else 0
        assert tot(early) < tot(all_years)

    def test_binned_png(self, spark, store):
        from maps_spark.operators.serving import serve_binned_png
        png_bytes = serve_binned_png(spark, store, "0:0", "EPSG:3857",
                                     1, 0, 0, style="green2.poly",
                                     bin="hex")
        assert png_bytes[:4] == b"\x89PNG"
        # unknown style falls back to classic.poly, still renders
        assert serve_binned_png(spark, store, "0:0", "EPSG:3857", 1, 0,
                                0, style="nope", bin="square")[:4] == \
            b"\x89PNG"

    def test_missing_view_returns_none(self, spark, store):
        from maps_spark.operators.serving import serve_binned_tile
        assert serve_binned_tile(spark, store, "9:none", "EPSG:3857",
                                 1, 0, 0) is None


def test_adhoc_png_scaled_circles(spark, occ_small):
    """Ad-hoc GEO_CENTROID raster: markers land on the tile, sized by
    bucket count (the scaled.circles ES-portal style)."""
    from maps_spark.operators.adhoc import adhoc_png
    data = adhoc_png(occ_small, 1, 0, 0)
    assert data[:4] == b"\x89PNG"
    # a filtered request renders (possibly fewer markers) fine too
    data2 = adhoc_png(occ_small, 1, 0, 0,
                      params={"year": "1990,2000"})
    assert data2[:4] == b"\x89PNG"


def test_radius_pairs_planted_geometry(spark):
    from maps_spark.operators.binning import radius_pairs
    pts = spark.createDataFrame([
        (1, 10.0, 10.0),
        (2, 10.0, 10.4),     # inside r=0.5 of 1
        (3, 10.0, 10.6),     # outside r of 1 (0.6), inside r of 2
        (4, 10.49, 10.0),    # inside r of 1, crosses the cell edge
        (5, -45.0, 100.0),   # isolated
        (6, 10.0, 10.0),     # exact duplicate of 1 -> dist 0
    ], "id long, lat double, lng double")
    out = {(r.id_a, r.id_b): r.dist2_scaled
           for r in radius_pairs(pts, radius_deg=0.5).collect()}
    assert (1, 2) in out and (2, 3) in out and (1, 4) in out
    assert (1, 6) in out and out[(1, 6)] == 0
    assert (1, 3) not in out
    assert not any(5 in p for p in out)
    # exactly-at-radius pairs are INCLUDED (<=)
    pts2 = spark.createDataFrame([(1, 0.0, 0.0), (2, 0.0, 0.5)],
                                 "id long, lat double, lng double")
    assert len(radius_pairs(pts2, radius_deg=0.5).collect()) == 1


def test_radius_pairs_plan_is_equi_join(spark):
    import contextlib
    import io

    from maps_spark.operators.binning import radius_pairs
    pts = spark.range(100).select(
        F.col("id"), (F.col("id") % 10).cast("double").alias("lat"),
        (F.col("id") % 7).cast("double").alias("lng"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        radius_pairs(pts, 0.5).explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_radius_pairs_two_table_form(spark):
    from maps_spark.operators.binning import radius_pairs
    stations = spark.createDataFrame(
        [(100, 0.0, 0.0), (200, 50.0, 50.0)],
        "id long, lat double, lng double")
    pts = spark.createDataFrame(
        [(1, 0.1, 0.1), (2, 49.9, 50.2), (3, -30.0, 10.0),
         (4, 0.3, -0.3)],
        "id long, lat double, lng double")
    out = {(r.id_a, r.id_b) for r in
           radius_pairs(pts, 0.5, others=stations).collect()}
    assert out == {(1, 100), (4, 100), (2, 200)}


def test_haversine_radius_pairs_lossless_vs_bruteforce(spark):
    """Great-circle banding proven lossless against an in-engine
    brute-force twin on an adversarial layout: a dateline-straddling
    cluster (lng +179.99 / -179.98), a polar cluster (lat 87+, all
    longitudes), an equator cluster, and scattered background noise —
    the exact failure modes of naive degree banding."""
    import pyspark.sql.functions as F
    from maps_spark.operators.binning import (_haversine_km,
                                              radius_pairs_haversine)
    pts = []
    # dateline cluster: neighbours across the +-180 seam — including
    # points at EXACTLY lng=180.0, whose raw cell index is n_ring and
    # must wrap to 0 to be matchable (ADVICE r5: unwrapped target cell
    # silently dropped every pair touching a +180.0 point)
    for i in range(6):
        pts.append((100 + i, 10.0 + i * 0.001, 179.99))
        pts.append((200 + i, 10.0 + i * 0.001, -179.98))
    pts.append((250, 10.0015, 180.0))
    pts.append((251, 10.0025, 180.0))
    # polar cluster: a tight ring around the pole — at lat 89.97
    # points 45 deg of longitude apart are only ~2-3 km apart
    # great-circle, the exact case planar lng banding can never see
    for i in range(8):
        pts.append((300 + i, 89.97 + (i % 3) * 0.005,
                    float(i * 45.0)))
    # equator cluster
    for i in range(6):
        pts.append((400 + i, 0.001 * i, 20.0 + 0.001 * i))
    # background noise, deterministic spread
    for i in range(60):
        pts.append((500 + i, -60.0 + (i * 37 % 120),
                    float(-170 + (i * 53 % 340))))
    df = spark.createDataFrame(pts, "id long, lat double, lng double")
    radius_km = 5.0
    got = {(r.id_a, r.id_b): r.dist_m
           for r in radius_pairs_haversine(df, radius_km).collect()}
    a, b = df.alias("a"), df.alias("b")
    brute = (a.crossJoin(b)
             .where(F.col("a.id") < F.col("b.id"))
             .withColumn("_d", _haversine_km(
                 F.col("a.lat"), F.col("a.lng"),
                 F.col("b.lat"), F.col("b.lng")))
             .where(F.col("_d") <= radius_km)
             .select(F.col("a.id").alias("id_a"),
                     F.col("b.id").alias("id_b"),
                     F.floor(F.col("_d") * 1000.0).cast("long")
                     .alias("dist_m")))
    want = {(r.id_a, r.id_b): r.dist_m for r in brute.collect()}
    assert got == want and want, (len(got), len(want))
    # sanity: the adversarial clusters actually produced pairs
    assert any(x >= 100 and x < 300 and y >= 100 and y < 300
               and (x < 200) != (y < 200) for x, y in want), \
        "no dateline-crossing pair in ground truth"
    assert any(300 <= x < 400 for x, _ in want), "no polar pair"
    # the exact-180.0 pair (both endpoints at the seam) must survive
    assert (250, 251) in want, "exact lng=180.0 pair missing"


def test_point_in_polygon_star_semantics(spark):
    """Integer ray casting on the star polygon: center inside, a
    point in the concave notch OUTSIDE (the even-odd rule at work),
    far points outside, near-edge points classified by the exact
    int64 crossing test; plan stays broadcast + codegen (no Python,
    no shuffle of the point side beyond the bbox join)."""
    import pyspark.sql.functions as F

    from maps_spark.operators.binning import (point_in_polygon,
                                              synthesize_polygons)
    polys = synthesize_polygons(spark, 1)  # poly 0: cx=-170e6, cy=-70e6
    cx, cy, s = -170_000_000, -70_000_000, 200_000
    pts = spark.createDataFrame(
        [(1, cx, cy),                       # center: inside
         (2, cx + 4 * s, cy + 4 * s),       # concave notch: outside
         (3, cx + 3 * s, cy),               # on the x-arm: inside
         (4, cx + 10 * s, cy),              # beyond the arm: outside
         (5, cx + 1 * s, cy + 1 * s),       # inner diamond: inside
         (6, cx, cy + 4 * s),               # upper arm: inside
         ],
        "id long, px long, py long")
    got = {r.id for r in point_in_polygon(pts, polys).collect()}
    assert got == {1, 3, 5, 6}

    plan = (point_in_polygon(pts, polys)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    for udf in ("BatchEvalPython", "ArrowEvalPython"):
        assert udf not in plan


def test_polygon_metrics_shoelace(spark):
    """Shoelace area2 against a hand-computed square and an
    independent Python shoelace over the star polygons."""
    import pyspark.sql.functions as F  # noqa: F401

    from maps_spark.operators.binning import (polygon_metrics,
                                              synthesize_polygons)
    sq = spark.createDataFrame(
        [(99, [(0, 0), (10, 0), (10, 10), (0, 10)])],
        "poly_id long, vertices array<struct<x: long, y: long>>")
    row = polygon_metrics(sq).first()
    assert row.area2 == 200 and row.n_vertices == 4
    assert (row.xmin, row.xmax, row.ymin, row.ymax) == (0, 10, 0, 10)

    polys = synthesize_polygons(spark, 6)
    got = {r.poly_id: r.area2 for r in polygon_metrics(polys).collect()}
    verts = {r.poly_id: [(v.x, v.y) for v in r.vertices]
             for r in polys.collect()}
    for pid, vs in verts.items():
        s = sum(x1 * y2 - x2 * y1
                for (x1, y1), (x2, y2)
                in zip(vs, vs[1:] + vs[:1]))
        assert got[pid] == abs(s), pid
