"""Round-trip tests for the pure-Python MVT codec."""

from maps_spark.functions import mvt


def test_roundtrip_single_layer():
    layers = {"HUMAN_OBSERVATION": [
        (10, 20, {"2012": 3, "2013": 5}),
        (-5, 500, {"0": 1}),            # buffer pixel, unknown year
        (511, 511, {"1999": 2}),
    ]}
    data = mvt.encode_tile(layers)
    out = mvt.decode_tile(data)
    assert set(out) == {"HUMAN_OBSERVATION"}
    assert sorted(out["HUMAN_OBSERVATION"]) == sorted(layers["HUMAN_OBSERVATION"])


def test_roundtrip_multi_layer_and_value_types():
    layers = {
        "OBSERVATION": [(0, 0, {"total": 7, "neg": -3})],
        "PRESERVED_SPECIMEN": [(100, 200, {"2020": 1})],
    }
    out = mvt.decode_tile(mvt.encode_tile(layers))
    assert out["OBSERVATION"] == [(0, 0, {"total": 7, "neg": -3})]
    assert out["PRESERVED_SPECIMEN"] == [(100, 200, {"2020": 1})]


def test_value_dedup_and_large_counts():
    feats = [(i, i, {"2000": 123456789012}) for i in range(100)]
    data = mvt.encode_tile({"L": feats})
    out = mvt.decode_tile(data)
    assert len(out["L"]) == 100
    assert all(a == {"2000": 123456789012} for _, _, a in out["L"])


def test_tile_totals_excludes_buffer():
    layers = {"L": [(10, 10, {"2000": 5}), (-1, 10, {"2000": 7})]}
    data = mvt.encode_tile(layers)
    assert mvt.tile_totals(data) == {"L": 12}
    assert mvt.tile_totals(data, exclude_buffer=True) == {"L": 5}


def test_empty_tile():
    assert mvt.decode_tile(b"") == {}
    assert mvt.encode_tile({}) == b""


class TestPolygonCodec:
    def test_polygon_roundtrip(self):
        import numpy as np

        from maps_spark.functions import mvt
        hexagon = [(10, 0), (5, 8), (-5, 8), (-10, 0), (-5, -8), (5, -8)]
        square = [(0, 0), (16, 0), (16, 16), (0, 16)]
        data = mvt.encode_polygon_layer("occurrence", np.array([hexagon]),
                                        [42])
        data += mvt.encode_polygon_layer("occurrence", np.array([square]),
                                         [7])
        out = mvt.decode_polygon_tile(data)
        assert set(out) == {"occurrence"}
        polys = out["occurrence"]
        assert len(polys) == 2
        assert polys[0] == (hexagon, {"total": 42})
        assert polys[1] == (square, {"total": 7})

    def test_closed_ring_input_normalized(self):
        import numpy as np

        from maps_spark.functions import mvt
        ring = [(0, 0), (8, 0), (8, 8), (0, 8), (0, 0)]  # pre-closed
        data = mvt.encode_polygon_layer("occurrence", np.array([ring]), [1])
        (got, attrs), = mvt.decode_polygon_tile(data)["occurrence"]
        assert got == ring[:-1]

    def test_degenerate_rings_skipped(self):
        import numpy as np

        from maps_spark.functions import mvt
        data = mvt.encode_polygon_layer(
            "occurrence", np.array([[(0, 0), (1, 1)]]), [1])
        assert mvt.decode_polygon_tile(data).get("occurrence", []) == []
