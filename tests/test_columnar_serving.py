"""The vectorized serve path against the loop oracles it replaced
(``tests/oracles.py``): the columnar tile filter, the point-bundle
projection, the square and hex binners, the numpy PNG renderers and
the polygon-layer encoder must return exactly what the loops return.
The point, binning and encoder cases are seeded and need no Spark."""

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from maps_spark.functions import mvt, png, pointpb
from maps_spark.functions import projections as P
from maps_spark.operators import binning
from maps_spark.operators.serving import (filter_decoded_tile, pixel_dict,
                                          points_to_tile)
from tests.oracles import (encode_polygon_layer_loop, filter_dict_tile,
                           hex_bin_loop, point_rows, points_to_tile_loop,
                           render_density_png_loop, render_heat_png_loop,
                           square_bin_loop)

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
    got = filter_decoded_tile(cols, *args, **kw)
    if not req["verbose"]:
        _check_pixel_arrays(got)
        got = pixel_dict(got)
    assert got == filter_dict_tile(layers, *args, **kw)


def _check_pixel_arrays(tile) -> None:
    """A (px, py, total) tile: int64 arrays, one entry per pixel in
    (px, py) order."""
    px, py, total = tile
    assert all(a.dtype == np.int64 for a in tile)
    assert len(px) == len(py) == len(total)
    assert np.all(np.lexsort((py, px)) == np.arange(len(px)))
    assert len(set(zip(px.tolist(), py.tolist()))) == len(px)


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


def _bundle(features) -> bytes:
    """PointFeatures bytes of (lat, lng, enum code, year, count) rows;
    unlike ``pointpb.encode_features`` it writes any enum code."""
    out = bytearray()
    for lat, lng, code, year, count in features:
        f = (b"\x09" + struct.pack("<d", lat) + b"\x11"
             + struct.pack("<d", lng) + b"\x18" + pointpb._varint(code)
             + b"\x20" + pointpb._varint(year)
             + b"\x28" + pointpb._varint(count))
        out += b"\x0a" + pointpb._varint(len(f)) + f
    return bytes(out)


def _random_bundle(rng, srs: str, n: int) -> bytes:
    """Points spread over the world, bunched on the dateline, on the
    polar canvas edge and past each projection's domain; years 0 and
    1990-2020; every enum code and two codes the enum lacks."""
    lat = rng.uniform(-90, 90, n)
    lng = rng.uniform(-180, 180, n)
    edge = rng.random(n) < 0.3
    lng[edge] = np.clip(rng.choice([-180.0, 180.0], edge.sum())
                        + rng.uniform(-2, 2, edge.sum()), -181.0, 181.0)
    polar = rng.random(n) < 0.2
    lat[polar] = {"EPSG:3575": rng.uniform(-1.5, 0.5, polar.sum()),
                  "EPSG:3031": rng.uniform(-0.5, 1.5, polar.sum())}.get(
        srs, rng.choice([-85.06, 85.05, 90.0, -90.0], polar.sum()))
    codes = rng.choice(list(pointpb.PB_BOR.values()) + [11, 42], n)
    years = rng.choice([0, 0, 1990, 2000, 2013, 2020], n)
    counts = rng.choice([1, 2, 7, 10**6], n)
    return _bundle(zip(lat.tolist(), lng.tolist(), codes.tolist(),
                       years.tolist(), counts.tolist()))


def test_points_to_tile_matches_point_loop():
    """All four SRS, the tiles at x = 0 and x = max (the dateline wrap)
    and a random one, year ranges with and without points of year 0,
    mixed-case, unknown and empty basis-of-record filters, both output
    shapes, and an empty bundle."""
    rng = np.random.default_rng(2024)
    bor_filters = [None, [], ["observation"], ["Human_Observation",
                   "PRESERVED_SPECIMEN"], ["unknown"], ["NOT_A_BOR"],
                   ["unknown", "FOSSIL_specimen", "bogus"]]
    years = [(None, None), (2000, None), (None, 2000), (1990, 2013),
             (0, 2020), (2021, None)]
    for case in range(160):
        srs = P.SRS_ALL[case % 4]
        sch = P.schema_for(srs)
        z = int(rng.integers(0, 4))
        nx, ny = sch.num_x_tiles(z), sch.num_y_tiles(z)
        x = [0, nx - 1, int(rng.integers(nx))][case // 4 % 3]
        y = int(rng.integers(ny))
        blob = b"" if case % 23 == 0 else \
            _random_bundle(rng, srs, int(rng.integers(1, 120)))
        cols = pointpb.decode_features(blob)
        kw = dict(year_range=years[case % len(years)],
                  bors=bor_filters[case % len(bor_filters)])
        rows = point_rows(cols)
        got = points_to_tile(cols, srs, z, x, y, **kw)
        _check_pixel_arrays(got)
        assert pixel_dict(got) == \
            points_to_tile_loop(rows, srs, z, x, y, **kw), (case, srs)
        assert points_to_tile(cols, srs, z, x, y, verbose=True, **kw) == \
            points_to_tile_loop(rows, srs, z, x, y, verbose=True, **kw)


def test_unknown_bor_code_reads_as_unknown():
    cols = pointpb.decode_features(_bundle([(10.0, 20.0, 42, 2000, 3),
                                            (10.0, 20.0, 4, 2000, 5)]))
    assert cols.bor.tolist() == [0, 4]
    for bors, want in ((["Unknown"], 3), (["OBSERVATION"], 5),
                       (["bogus"], 0), (None, 8)):
        _, _, total = points_to_tile(cols, "EPSG:3857", 0, 0, 0, bors=bors)
        assert total.sum() == want, bors


def _binning_tile(rng, tile_size: int = 512, buffer: int = 64):
    """A served (px, py, total) tile: the buffer-edge pixels, random
    pixels of the buffered tile, and pixels where the cube rounding of
    tile 0/0/0 or 3/5/2 meets a tie (a .5 fraction, or two equal
    rounding distances)."""
    lo, hi = -buffer, tile_size + buffer
    edges = [lo, lo + 1, -1, 0, 1, tile_size - 1, tile_size,
             tile_size + 1, hi - 1, hi]
    px, py = np.meshgrid(np.arange(lo, hi + 1), np.arange(lo, hi + 1))
    px, py = px.ravel(), py.ravel()
    ties = np.zeros(len(px), bool)
    for x, y in ((0, 0), (5, 2)):
        p = binning.hex_params(tile_size)
        xs = px + (x * tile_size) % (1.5 * p["hex_width"])
        ys = py + (y * tile_size) % p["hex_height"]
        qf = (2.0 / 3.0) * xs / p["radius"]
        rf = ((-1.0 / 3.0) * xs + (np.sqrt(3.0) / 3.0) * ys) / p["radius"]
        sf = -qf - rf
        d = [np.abs(np.round(v) - v) for v in (qf, rf, sf)]
        ties |= np.isclose(d[0], 0.5) | np.isclose(d[1], 0.5) \
            | np.isclose(d[0], d[1]) | np.isclose(d[1], d[2]) \
            | np.isclose(d[0], d[2])
    pick = np.flatnonzero(ties)
    pick = rng.choice(pick, min(len(pick), 1500), replace=False)
    cells = set(zip(px[pick].tolist(), py[pick].tolist()))
    cells |= {(a, b) for a in edges for b in edges}
    cells |= set(zip(rng.integers(lo, hi + 1, 300).tolist(),
                     rng.integers(lo, hi + 1, 300).tolist()))
    tile = {c: int(rng.choice([1, 3, 2**20, 2**40])) for c in cells}
    px, py = np.array(sorted(tile), np.int64).T
    total = np.array([tile[c] for c in sorted(tile)], np.int64)
    return tile, (px, py, total)


def test_binning_matches_dict_binners():
    """Square and hex cells and totals of the array binners equal the
    per-pixel loops, in sorted cell order, on buffer-edge pixels and
    cube-rounding ties; an empty tile bins to no cells."""
    rng = np.random.default_rng(11)

    def cells(a, b, total):
        assert np.all(np.lexsort((b, a)) == np.arange(len(a)))
        return dict(zip(zip(a.tolist(), b.tolist()), total.tolist()))

    for z, x, y, per_tile, size in ((0, 0, 0, 51, 16), (3, 5, 2, 51, 64),
                                    (6, 63, 17, 17, 7), (2, 1, 3, 100, 16)):
        tile, arrays = _binning_tile(rng)
        got = binning.hex_bin_dict(*arrays, z, x, y, 512, per_tile)
        assert cells(*got) == hex_bin_loop(tile, z, x, y, 512, per_tile)
        got = binning.square_bin_dict(*arrays, size, 512)
        assert cells(*got) == square_bin_loop(tile, size, 512)
    empty = tuple(np.zeros(0, np.int64) for _ in range(3))
    assert all(len(a) == 0 for a in binning.hex_bin_dict(*empty, 0, 0, 0))
    assert all(len(a) == 0 for a in binning.square_bin_dict(*empty))


def test_polygon_encoder_matches_loop_oracle():
    """Seeded random layers: 0-9 rings of 0-9 vertices (some closed,
    some degenerate) with coordinates from tile pixels to 2^40, whose
    varints run from one byte to several, and totals that repeat, are
    negative or reach 2^14 and beyond (multi-byte varints)."""
    rng = np.random.default_rng(17)
    values = [0, 1, 5, 5, 127, 128, 16383, 16384, 2**20, 2**35, -1, -300]
    for _ in range(1500):
        n, k = int(rng.integers(0, 10)), int(rng.integers(0, 10))
        span = int(rng.choice([8, TS + BUF, 20000, 2**40]))
        rings = rng.integers(-span, span + 1, (n, k, 2))
        if k > 1:
            shut = rng.random(n) < 0.3
            rings[shut, -1] = rings[shut, 0]
        totals = rng.choice(values, n)
        extent = int(rng.choice([TS, 4096]))
        feats = [(ring, {"total": t}) for ring, t in
                 zip([list(map(tuple, r)) for r in rings.tolist()],
                     totals.tolist())]
        assert mvt.encode_polygon_layer("occurrence", rings, totals,
                                        extent) == \
            encode_polygon_layer_loop("occurrence", feats, extent)
