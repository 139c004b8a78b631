"""PNG raster parity path (S10, renderer.js semantics)."""

import struct
import zlib

import numpy as np

from maps_spark.functions import mvt, png


def _decode_png(data: bytes) -> np.ndarray:
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    pos, idat, w = 8, b"", 0
    while pos < len(data):
        (ln,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + ln]
        if tag == b"IHDR":
            w, h = struct.unpack(">II", body[:8])
        elif tag == b"IDAT":
            idat += body
        pos += 12 + ln
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8)
    rows = raw.reshape(h, w * 4 + 1)
    assert (rows[:, 0] == 0).all()  # filter 0
    return rows[:, 1:].reshape(h, w, 4)


def _tile() -> bytes:
    return mvt.encode_tile({
        "HUMAN_OBSERVATION": [
            (10, 10, {"2000": 5, "total": 5}),        # lowest bucket
            (100, 100, {"2000": 500000, "total": 500000}),  # top bucket
            (-5, 5, {"2000": 3, "total": 3}),         # buffer: dropped
        ]}, extent=512)


class TestRenderPng:
    def test_classic_breakpoints_and_buffer_drop(self):
        img = _decode_png(png.render_density_png(_tile()))
        assert img.shape == (512, 512, 4)
        assert tuple(img[10, 10]) == (0xFF, 0xFF, 0x00, 255)   # <=10
        assert tuple(img[100, 100]) == (0xC2, 0x00, 0x2D, 255)  # >100k
        assert img[5, 507, 3] == 0  # buffer feature not painted
        # dot-width 2: neighbour pixel painted too
        assert tuple(img[11, 11]) == (0xFF, 0xFF, 0x00, 255)

    def test_empty_tile_transparent(self):
        img = _decode_png(png.render_density_png(None))
        assert img[:, :, 3].max() == 0

    def test_density_scaling(self):
        img = _decode_png(png.render_density_png(_tile(), scale=0.5))
        assert img.shape == (256, 256, 4)
        assert tuple(img[5, 5]) == (0xFF, 0xFF, 0x00, 255)

    def test_purple_yellow_style(self):
        img = _decode_png(png.render_density_png(
            _tile(), style="purpleYellow.point"))
        assert tuple(img[10, 10]) == (0x5E, 0x00, 0x63, 255)
        assert tuple(img[100, 100]) == (0xFF, 0xEB, 0xAA, 255)


def _child(x, y, total):
    return mvt.encode_tile({
        "HUMAN_OBSERVATION": [(x, y, {"2000": total, "total": total})]},
        extent=512)


class TestHeatRender:
    def test_quadrant_compositing(self):
        # four z+1 children, one dot each at (100, 100): the composite
        # places them at quadrant_offset + 100/2
        children = [_child(100, 100, 5)] * 4
        img = _decode_png(png.render_heat_png(children, "fire.point"))
        assert img.shape == (512, 512, 4)
        for dx in (0, 256):
            for dy in (0, 256):
                assert tuple(img[dy + 50, dx + 50]) == (0x5E, 0x07, 0x00, 255)
        # nothing outside the dots
        assert img[0, 0, 3] == 0

    def test_hx_256px(self):
        img = _decode_png(png.render_heat_png(
            [_child(100, 100, 5), None, None, None], "purpleHeat.point",
            scale=0.5))
        assert img.shape == (256, 256, 4)
        assert tuple(img[25, 25]) == (0xFF, 0x21, 0xFD, 255)

    def test_screen_blend_brightens_overlap(self):
        # two coincident dots in the SAME child: screen blend must give
        # 255 - (255-c)^2/255 > c for a non-saturated colour
        t = mvt.encode_tile({
            "HUMAN_OBSERVATION": [(100, 100, {"2000": 5, "total": 5})],
            "OBSERVATION": [(100, 100, {"2000": 5, "total": 5})],
        }, extent=512)
        # same pixel across layers is summed pre-ramp (one dot), so use
        # two children mapping to the same canvas pixel instead:
        img = _decode_png(png.render_heat_png(
            [t, None, None, None], "purpleHeat.point"))
        base = (0xFF, 0x21, 0xFD)
        assert tuple(img[50, 50, :3]) == base  # single dot: flat colour

        # overlapping dots from adjacent source pixels (dot width 2)
        t2 = mvt.encode_tile({
            "HUMAN_OBSERVATION": [(100, 100, {"total": 5}),
                                  (101, 101, {"total": 5})]}, extent=512)
        img2 = _decode_png(png.render_heat_png(
            [t2, None, None, None], "purpleHeat.point"))
        g = img2[50, 50, 1]
        expected = round(255 - (255 - 0x21) * (255 - 0x21) / 255)
        assert g == expected and g > 0x21

    def test_is_heat_style(self):
        assert png.is_heat_style("purpleHeat.point")
        assert png.is_heat_style("fire.point")
        assert not png.is_heat_style("classic.point")


class TestStyleCatalogue:
    """Full named-style catalogue parity with mapnik-server styles.js."""

    REFERENCE_NAMES = {
        # styles.js namedStyles, verbatim
        "purpleHeat.point", "blueHeat.point", "orangeHeat.point",
        "greenHeat.point", "classic.point", "classic.poly",
        "classic-noborder.poly", "purpleYellow.point",
        "purpleYellow.poly", "purpleYellow-noborder.poly", "green.point",
        "green.poly", "green-noborder.poly", "outline.poly",
        "blue.marker", "orange.marker", "scaled.circles", "fire.point",
        "glacier.point", "green2.poly", "green2-noborder.poly",
        "iNaturalist.poly", "purpleWhite.poly", "red.poly",
    }

    def test_every_reference_style_served(self):
        assert png.named_styles() == self.REFERENCE_NAMES

    def test_style_name_fallback(self):
        assert png.get_style_name("nope.point") == "classic.point"
        assert png.get_style_name(None) == "classic.point"
        assert png.get_style_name("green2.poly") == "green2.poly"

    def test_hard_pixel_styles(self):
        assert png.is_hard_pixel_style("classic.point")
        assert png.is_hard_pixel_style("green.point")
        assert not png.is_hard_pixel_style("purpleHeat.point")


class TestPolyRender:
    def test_square_fill_breakpoints(self):
        # one 16px cell with total 500 -> classic ramp bin (#FF9900),
        # opacity 0.9 over transparent
        cells = png.square_cell_polys({(2, 2): 500}, 16)
        img = _decode_png(png.render_poly_png(cells, "classic.poly"))
        cx, cy = 2 * 16 + 8, 2 * 16 + 8
        assert tuple(img[cy, cx, :3]) == (0xFF, 0x99, 0x00)
        assert img[cy, cx, 3] == round(0.9 * 255)
        # outside the cell: transparent
        assert img[0, 0, 3] == 0

    def test_border_stroke(self):
        cells = png.square_cell_polys({(1, 1): 5}, 32)
        img = _decode_png(png.render_poly_png(cells, "classic.poly"))
        # edge pixel carries the grey border, interior the fill
        assert tuple(img[32, 40, :3]) == (0x7B, 0x7B, 0x7B)
        assert tuple(img[48, 48, :3]) == (0xFF, 0xFF, 0x00)
        # noborder variant: edge pixel has the fill colour
        img2 = _decode_png(png.render_poly_png(
            cells, "classic-noborder.poly"))
        assert tuple(img2[32, 40, :3]) == (0xFF, 0xFF, 0x00)

    def test_outline_only(self):
        cells = png.square_cell_polys({(0, 0): 100}, 64)
        img = _decode_png(png.render_poly_png(cells, "outline.poly"))
        assert img[32, 32, 3] == 0          # interior unfilled
        assert img[0, 32, 3] > 0            # border stroked

    def test_hex_cells_render(self):
        from tests.oracles import hex_polygon
        ring = hex_polygon(3, 2, 2, 1, 1)
        img = _decode_png(png.render_poly_png(
            [(ring, 20000)], "purpleWhite.poly"))
        cx = int(sum(x for x, _ in ring[:6]) / 6)
        cy = int(sum(y for _, y in ring[:6]) / 6)
        if 0 <= cx < 512 and 0 <= cy < 512:
            assert tuple(img[cy, cx, :3]) == (0xFF, 0xFF, 0xFF)

    def test_red_poly_flat(self):
        cells = png.square_cell_polys({(0, 0): 1, (1, 0): 10**7}, 16)
        img = _decode_png(png.render_poly_png(cells, "red.poly"))
        assert tuple(img[8, 8, :3]) == (0xCC, 0x00, 0x00)
        assert tuple(img[8, 24, :3]) == (0xCC, 0x00, 0x00)


class TestMarkerRender:
    def test_width_ramp(self):
        img_small = _decode_png(png.render_marker_png(
            [(100, 100, 5)], "blue.marker"))
        img_big = _decode_png(png.render_marker_png(
            [(100, 100, 200000)], "blue.marker"))
        assert (img_big[:, :, 3] > 0).sum() > (img_small[:, :, 3] > 0).sum()
        # fill is the style colour at ~0.65 alpha over transparent
        assert img_small[100, 100, 3] == round(0.65 * 255)

    def test_scaled_circles_bins(self):
        img = _decode_png(png.render_marker_png(
            [(50, 50, 5)], "scaled.circles"))
        assert tuple(img[50, 50, :3]) == (0xFE, 0xD9, 0x76)
        # first bin carries the 1px ring colour just outside the radius
        assert tuple(img[50, 50 + 3, :3]) == (0xFE, 0x97, 0x24)
        img2 = _decode_png(png.render_marker_png(
            [(50, 50, 50000)], "scaled.circles"))
        assert tuple(img2[50, 50, :3]) == (0xBD, 0x00, 0x26)
        assert img2[50, 50, 3] == round(0.6 * 255)

    def test_overlap_screen_free_composite(self):
        # two overlapping markers composite source-over (not screen)
        img = _decode_png(png.render_marker_png(
            [(50, 50, 5), (52, 50, 5)], "orange.marker"))
        assert img[50, 51, 3] > round(0.8 * 255)  # double coverage
