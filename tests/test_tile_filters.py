"""In-memory serve-filter semantics (VectorTileFiltersTest.java:44-150,
YearFilteringTest.java:40-67 analogs) — pure Python, no Spark session."""

from maps_spark.functions import mvt
from maps_spark.operators.serving import (apply_country_mask,
                                          filter_decoded_tile, pixel_dict)


def _decoded(features_by_layer):
    return mvt.decode_columns(mvt.encode_tile(features_by_layer, extent=512))


def _served(*args, **kw) -> dict:
    """:func:`filter_decoded_tile`'s (px, py, total) as a dict."""
    return pixel_dict(filter_decoded_tile(*args, **kw))


class TestYearFiltering:
    LAYERS = {"HUMAN_OBSERVATION": [
        (10, 10, {"2012": 3, "2013": 5}),
        (20, 20, {"2013": 7}),
    ]}

    def test_filtered_total_equals_verbose_year(self):
        """YearFilteringTest invariant: filtered(y).total ==
        unfiltered.verbose[y]."""
        dec = _decoded(self.LAYERS)
        full = filter_decoded_tile(dec, "EPSG:3857", 0, 0, 0, verbose=True)
        only_2013 = _served(dec, "EPSG:3857", 0, 0, 0,
                            year_range=(2013, 2013))
        for pix, total in only_2013.items():
            assert total == full[pix]["2013"]

    def test_unbounded_sides(self):
        dec = _decoded(self.LAYERS)
        le_2012 = _served(dec, "EPSG:3857", 0, 0, 0,
                          year_range=(None, 2012))
        assert le_2012 == {(10, 10): 3}
        ge_2013 = _served(dec, "EPSG:3857", 0, 0, 0,
                          year_range=(2013, None))
        assert ge_2013 == {(10, 10): 5, (20, 20): 7}

    def test_verbose_total_is_sum_of_years(self):
        full = filter_decoded_tile(_decoded(self.LAYERS), "EPSG:3857",
                                   0, 0, 0, verbose=True)
        for counts in full.values():
            assert counts["total"] == sum(
                v for k, v in counts.items() if k != "total")


class TestBorFiltering:
    LAYERS = {
        "HUMAN_OBSERVATION": [(10, 10, {"2000": 2})],
        "PRESERVED_SPECIMEN": [(10, 10, {"2000": 11})],
    }

    def test_layer_filter(self):
        got = _served(_decoded(self.LAYERS), "EPSG:3857",
                      0, 0, 0, bors=["PRESERVED_SPECIMEN"])
        assert got == {(10, 10): 11}

    def test_layers_merge_per_pixel(self):
        got = _served(_decoded(self.LAYERS), "EPSG:3857",
                      0, 0, 0)
        assert got == {(10, 10): 13}


class TestDatelineAndBuffer:
    def test_east_edge_feature_wraps_into_west_tile_buffer(self):
        """A feature near the east world edge (stored on the last tile)
        must serve on tile x=0 at negative local x (Tiles.java:55-74)."""
        dec = _decoded({"OBSERVATION": [(510, 100, {"2000": 1})]})
        got = _served(dec, "EPSG:3857", 1, 0, 0,
                      source=(1, 0))  # stored tile x=1, z=1
        # global x = 1*512+510 = 1022 >= world(1024)-64 -> lx = -2
        assert got == {(-2, 100): 1}

    def test_west_edge_feature_wraps_into_east_tile_buffer(self):
        dec = _decoded({"OBSERVATION": [(2, 100, {"2000": 1})]})
        got = _served(dec, "EPSG:3857", 1, 1, 0,
                      source=(0, 0))
        # global x=2 < buffer -> lx = 2 + 1024 - 512 = 514
        assert got == {(514, 100): 1}

    def test_outside_buffer_dropped(self):
        dec = _decoded({"OBSERVATION": [(200, 200, {"2000": 1})]})
        # feature is on tile (0,0); requesting (1,0) at z1: global x=200
        # is 312px west of tile 1's buffered range -> dropped
        got = _served(dec, "EPSG:3857", 1, 1, 0,
                      source=(0, 0))
        assert got == {}


class TestCountryMask:
    def test_intersection(self):
        tile = {(1, 1): 5, (2, 2): 7}
        mask = {(2, 2): 1, (9, 9): 1}
        assert apply_country_mask(tile, mask) == {(2, 2): 7}


class TestEmptyTileGuard:
    def test_degenerate_bbox_skips_scan(self, spark, monkeypatch):
        """F9 (AdHocMapsResource.java:175-178): a degenerate tile
        boundary answers empty without scheduling a scan."""
        import maps_spark.functions.tiles as T
        from maps_spark.operators import adhoc as AH

        monkeypatch.setattr(T, "tile_boundaries",
                            lambda *a, **k: [(10.0, 10.0, 10.0, 20.0)])
        occ = spark.createDataFrame(
            [(1.0, 2.0)], "decimalLatitude double, decimalLongitude double")
        out = AH.adhoc_tile(occ, z=2, x=1, y=1)
        assert out.count() == 0
        # constant-false filter folds the scan away entirely
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation" in plan and "Scan" not in plan

    def test_mixed_boxes_keep_nondegenerate(self, spark, monkeypatch):
        import maps_spark.functions.tiles as T
        from maps_spark.operators import adhoc as AH

        monkeypatch.setattr(
            T, "tile_boundaries",
            lambda *a, **k: [(10.0, 10.0, 10.0, 20.0),   # zero width
                            (-20.0, -10.0, 20.0, 10.0)])  # real box
        occ = spark.createDataFrame(
            [(1.0, 2.0), (50.0, 2.0)],
            "decimalLatitude double, decimalLongitude double")
        out = AH.adhoc_tile(occ, z=2, x=1, y=1, grid_zoom=3)
        assert out.count() == 1  # only the in-box record
