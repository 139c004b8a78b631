"""The vectorized serve path against the loop oracles it replaced
(``tests/oracles.py``): the columnar tile filter, the numpy PNG
renderers and the polygon-layer encoder must return exactly what the
loops return."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from maps_spark.functions import mvt, png
from maps_spark.functions import projections as P
from maps_spark.operators.serving import filter_decoded_tile
from tests.oracles import (encode_polygon_layer_loop, filter_dict_tile,
                           render_density_png_loop, render_heat_png_loop)

TS, BUF = 512, 64
LAYERS = ["OBSERVATION", "HUMAN_OBSERVATION", "PRESERVED_SPECIMEN",
          "MACHINE_OBSERVATION"]
YEARS = ["0", "1900", "1990", "2000", "2001", "2013", "2020"]

# pixels cluster on the tile and buffer edges, where containment and
# the dateline wrap decide
coord = st.one_of(st.integers(-BUF - 2, TS + BUF + 2),
                  st.sampled_from([-BUF - 1, -BUF, -1, 0, BUF - 1, BUF,
                                   TS - BUF, TS - 1, TS, TS + BUF - 1,
                                   TS + BUF, TS + BUF + 1]))
attrs = st.dictionaries(st.sampled_from(YEARS + ["total"]),
                        st.integers(1, 10**6), max_size=4)
features = st.lists(st.tuples(coord, coord, attrs), max_size=12)
tiles = st.dictionaries(st.sampled_from(LAYERS), features, max_size=4)
year_bound = st.one_of(st.none(), st.sampled_from([0, 1990, 2000, 2013]))


@st.composite
def requests(draw):
    srs = draw(st.sampled_from(["EPSG:3857", "EPSG:4326", "EPSG:3575"]))
    sch = P.schema_for(srs)
    z = draw(st.integers(0, 3))
    nx, ny = sch.num_x_tiles(z), sch.num_y_tiles(z)
    x = draw(st.sampled_from([0, nx - 1, draw(st.integers(0, nx - 1))]))
    y = draw(st.integers(0, ny - 1))
    # stored under the requested address or a horizontal neighbour
    # (across the dateline at x == 0 and x == max)
    sx = draw(st.sampled_from([x, (x - 1) % nx, (x + 1) % nx]))
    lo, hi = draw(year_bound), draw(year_bound)
    if lo is not None and hi is not None and lo > hi:
        lo, hi = hi, lo
    bors = draw(st.one_of(st.none(), st.lists(st.sampled_from(LAYERS),
                                              min_size=1, max_size=3)))
    return dict(srs=srs, z=z, x=x, y=y, source=(sx, y),
                year_range=(lo, hi), bors=bors, verbose=draw(st.booleans()))


@settings(max_examples=400, deadline=None)
@given(tiles, requests())
def test_columnar_filter_matches_dict_oracle(layers, req):
    cols = mvt.decode_columns(mvt.encode_tile(layers, extent=TS))
    args = (req["srs"], req["z"], req["x"], req["y"])
    kw = dict(source=req["source"], year_range=req["year_range"],
              bors=req["bors"], verbose=req["verbose"])
    assert filter_decoded_tile(cols, *args, **kw) == \
        filter_dict_tile(layers, *args, **kw)


def _dense_tile(rng, n: int, with_total: bool) -> bytes:
    """Features packed into a small corner so dots overlap at every
    scale; some pixels repeat across layers, some sit in the buffer."""
    layers = {}
    for name in LAYERS[:3]:
        feats = []
        for _ in range(n):
            x, y = (int(v) for v in rng.integers(-4, 40, 2))
            year = str(rng.choice(YEARS))
            a = {year: int(rng.choice([1, 5, 10, 11, 99, 100, 5000,
                                       10**5, 10**6]))}
            if with_total and rng.random() < 0.5:
                a["total"] = int(rng.integers(1, 2 * 10**5))
            feats.append((x, y, a))
        feats.append((TS - 1, TS - 1, {"2000": 3}))   # edge dot, clipped
        layers[name] = feats
    return mvt.encode_tile(layers, extent=TS)


@pytest.fixture(autouse=True)
def cold_memo():
    """The PNG memo is process-wide and content-keyed: cleared, so that
    every render here is a fresh render."""
    png._MEMO.clear()
    yield
    png._MEMO.clear()


@pytest.mark.parametrize("scale", [0.5, 1.0, 2.0])
@pytest.mark.parametrize("style", sorted(png.STYLES))
def test_numpy_renderers_match_loop_oracles(style, scale):
    rng = np.random.default_rng([len(style), int(scale * 10)])
    tiles_ = [_dense_tile(rng, 60, with_total=i % 2 == 1) for i in range(4)]
    buffer_only = mvt.encode_tile({"OBSERVATION": [(-3, 5, {"2000": 4})]})
    for tile in tiles_ + [None, b"", buffer_only]:
        assert png.render_density_png(tile, style, scale=scale) == \
            render_density_png_loop(tile, style, scale=scale)
    for children in (tiles_, [tiles_[0], None, tiles_[1], b""],
                     [None] * 4, [buffer_only, None, None, None]):
        want = render_heat_png_loop(children, style, scale=scale)
        assert png.render_heat_png(children, style, scale=scale) == want
        cols = [mvt.decode_columns(c) if c else None for c in children]
        # the columns are keyed on their bytes: clear, or this would
        # hit the entry the bytes render above just stored
        png._MEMO.clear()
        assert png.render_heat_png(cols, style, scale=scale) == want
        assert png._MEMO.hits == 0


def test_polygon_encoder_matches_loop_oracle():
    """Seeded random layers: rings of 0-9 vertices (some closed, some
    degenerate) with coordinates from tile pixels to 2^40, whose varints
    run from one byte to several, and totals of every value type."""
    rng = np.random.default_rng(17)
    values = [0, 1, 127, 128, 16383, 16384, 2**35, -1, -300, 2.5, True,
              "n"]
    for _ in range(1500):
        feats = []
        for _ in range(int(rng.integers(0, 10))):
            span = int(rng.choice([8, TS + BUF, 20000, 2**40]))
            n = int(rng.integers(0, 10))
            ring = [(int(x), int(y))
                    for x, y in rng.integers(-span, span + 1, (n, 2))]
            if ring and rng.random() < 0.3:
                ring.append(ring[0])
            key = str(rng.choice(["total", "total", "extra"]))
            feats.append((ring, {key: values[rng.integers(len(values))]}))
        extent = int(rng.choice([TS, 4096]))
        assert mvt.encode_polygon_layer("occurrence", feats, extent) == \
            encode_polygon_layer_loop("occurrence", feats, extent)
