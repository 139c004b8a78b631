"""PNG rasterization of density tiles — the mapnik-server parity path
(S10; renderer.js:9-57, routes.js:50-79) without Mapnik/PIL.

The reference proxies the MVT endpoint and rasterizes point features as
2 px dots colored by a named CartoCSS style's ``total`` breakpoints
(cartocss/classic-dot.mss etc. — breakpoints reproduced here as data).
This renderer decodes an MVT tile, sums per-pixel totals across layers,
and writes an RGBA PNG with a hand-rolled encoder (zlib + struct — no
imaging dependency). Density scaling ``@1x..@4x,@Hx`` maps to the
``scale`` parameter (renderer.js:12-17).

The served tile PNGs are memoised, standing in for the HTTP cache in
front of the reference's mapnik-server: :func:`render_density_png` and
:func:`render_heat_png` each render a given input once and answer
repeats from a process-wide LRU. The key is the full input: the tile's
MVT bytes (for heat, the four children's; a child given as
:class:`~maps_spark.functions.mvt.TileColumns` is keyed on the bytes it
was decoded from, never on the object), ``style``, ``tile_size``,
``dot_width`` and ``scale``. An absent tile is a key too, so a blank
canvas is deflated once per size. The memo holds at most
``_MEMO_BUDGET`` bytes (32 MiB), counting each entry's PNG, the MVT
bytes its key holds and a fixed charge per entry, and evicts the least
recently used entries beyond that. A memoised PNG is byte-identical to
a fresh render: a miss renders exactly as without the memo.
"""

from __future__ import annotations

import struct
import threading
import zlib
from collections import OrderedDict

import numpy as np

from maps_spark.functions import mvt

# (upper_bound, rgb) ramps from the reference's CartoCSS
# (classic-dot.mss, purple-yellow-dot.mss; data, not code)
STYLES: dict[str, list[tuple[float, tuple[int, int, int]]]] = {
    "classic.point": [
        (10, (0xFF, 0xFF, 0x00)), (100, (0xFF, 0xCC, 0x00)),
        (1000, (0xFF, 0x99, 0x00)), (10000, (0xFF, 0x66, 0x00)),
        (100000, (0xD6, 0x0A, 0x00)), (float("inf"), (0xC2, 0x00, 0x2D)),
    ],
    "purpleYellow.point": [
        (5, (0x5E, 0x00, 0x63)), (10, (0x85, 0x13, 0x62)),
        (50, (0xA4, 0x2E, 0x61)), (100, (0xBE, 0x4C, 0x60)),
        (500, (0xD2, 0x6B, 0x63)), (1000, (0xE2, 0x8B, 0x6B)),
        (5000, (0xEE, 0xAB, 0x79)), (10000, (0xF7, 0xCB, 0x8E)),
        (float("inf"), (0xFF, 0xEB, 0xAA)),
    ],
    # heat styles (screen-composited markers; styles.js:14-18,50):
    # flat single-colour ramps from the *-heat-dot.mss sheets, plus the
    # breakpointed fire/glacier sheets
    "purpleHeat.point": [(float("inf"), (0xFF, 0x21, 0xFD))],
    "blueHeat.point": [(float("inf"), (0x20, 0x6E, 0xFF))],
    "orangeHeat.point": [(float("inf"), (0xC0, 0x67, 0x19))],
    "greenHeat.point": [(float("inf"), (0x36, 0x96, 0x17))],
    "fire.point": [
        (10, (0x5E, 0x07, 0x00)), (100, (0xEF, 0x47, 0x12)),
        (1000, (0xDC, 0x69, 0x02)), (10000, (0xF0, 0x9C, 0x00)),
        (float("inf"), (0xF2, 0xF7, 0xF0)),
    ],
    "glacier.point": [
        (10, (0x04, 0x5A, 0x8D)), (100, (0x2B, 0x8C, 0xBE)),
        (1000, (0x74, 0xA9, 0xCF)), (10000, (0xBD, 0xC9, 0xE1)),
        (float("inf"), (0xF1, 0xEE, 0xF6)),
    ],
    "green.point": [
        (5, (0x4D, 0x7C, 0x40)), (10, (0x60, 0x8A, 0x50)),
        (50, (0x70, 0x95, 0x5E)), (100, (0x85, 0xA3, 0x6F)),
        (500, (0x95, 0xAD, 0x7C)), (1000, (0xAA, 0xBA, 0x8D)),
        (5000, (0xBA, 0xC5, 0x99)), (10000, (0xCC, 0xD0, 0xA8)),
        (100000, (0xDF, 0xDC, 0xB7)), (float("inf"), (0xEF, 0xE6, 0xC4)),
    ],
}

# ramps shared between the dot and poly variants of the same palette
_CLASSIC_RAMP = STYLES["classic.point"]
_PY_RAMP = STYLES["purpleYellow.point"]
_GREEN_RAMP = STYLES["green.point"]
_GREY_BORDER = ((0x7B, 0x7B, 0x7B), 1.0)

#: polygon styles (the *-poly.mss sheets): fill ramp + optional
#: (line_rgb, line_opacity) border + overall fill opacity. Line widths
#: in the sheets are sub-pixel (0.25-0.5 px); rendered as a 1-px edge.
POLY_STYLES: dict[str, dict] = {
    "classic.poly": {"ramp": _CLASSIC_RAMP, "line": _GREY_BORDER,
                     "opacity": 0.9},
    "classic-noborder.poly": {"ramp": _CLASSIC_RAMP, "line": None,
                              "opacity": 1.0},
    "purpleYellow.poly": {"ramp": _PY_RAMP, "line": _GREY_BORDER,
                          "opacity": 1.0},
    "purpleYellow-noborder.poly": {"ramp": _PY_RAMP, "line": None,
                                   "opacity": 1.0},
    "green.poly": {"ramp": _GREEN_RAMP, "line": _GREY_BORDER,
                   "opacity": 1.0},
    "green-noborder.poly": {"ramp": _GREEN_RAMP, "line": None,
                            "opacity": 1.0},
    "green2.poly": {"ramp": [
        (10, (0xED, 0xF8, 0xE9)), (100, (0xBA, 0xE4, 0xB3)),
        (1000, (0x74, 0xC4, 0x76)), (10000, (0x31, 0xA3, 0x54)),
        (float("inf"), (0x00, 0x6D, 0x2C))],
        "line": _GREY_BORDER, "opacity": 1.0},
    "green2-noborder.poly": {"ramp": [
        (10, (0xED, 0xF8, 0xE9)), (100, (0xBA, 0xE4, 0xB3)),
        (1000, (0x74, 0xC4, 0x76)), (10000, (0x31, 0xA3, 0x54)),
        (float("inf"), (0x00, 0x6D, 0x2C))],
        "line": None, "opacity": 1.0},
    "iNaturalist.poly": {"ramp": [
        (10, (0xF7, 0x00, 0x5A)), (100, (0xD5, 0x00, 0x67)),
        (1000, (0xB5, 0x00, 0x6C)), (10000, (0x94, 0x00, 0x6A)),
        (100000, (0x72, 0x00, 0x5F)), (float("inf"), (0x52, 0x03, 0x4E))],
        "line": None, "opacity": 0.9},
    "purpleWhite.poly": {"ramp": [
        (5, (0xA0, 0x00, 0xA0)), (10, (0xAB, 0x1F, 0xAB)),
        (50, (0xB7, 0x3F, 0xB7)), (100, (0xC3, 0x5F, 0xC3)),
        (500, (0xCF, 0x7F, 0xCF)), (1000, (0xDB, 0x9F, 0xDB)),
        (5000, (0xE7, 0xBF, 0xE7)), (10000, (0xF3, 0xDF, 0xF3)),
        (float("inf"), (0xFF, 0xFF, 0xFF))],
        "line": None, "opacity": 1.0},
    "red.poly": {"ramp": [(float("inf"), (0xCC, 0x00, 0x00))],
                 "line": None, "opacity": 1.0},
    "outline.poly": {"ramp": None,  # no fill: border only
                     "line": ((0x7B, 0x7B, 0x7B), 0.8), "opacity": 1.0},
}

#: marker styles (blue/orange-marker.mss, scaled-circles.mss):
#: per-breakpoint circle width (+ per-bin fill/opacity for
#: scaled.circles, whose first bin also carries a 1-px ring).
MARKER_STYLES: dict[str, list[tuple[float, dict]]] = {
    "blue.marker": [
        (hi, {"width": w, "fill": (0x20, 0x9F, 0xFF), "opacity": 0.65,
              "ring": None})
        for hi, w in ((10, 4), (100, 8), (1000, 12), (10000, 14),
                      (100000, 16), (float("inf"), 25))],
    "orange.marker": [
        (hi, {"width": w, "fill": (0xFF, 0x63, 0x47), "opacity": 0.8,
              "ring": None})
        for hi, w in ((10, 4), (100, 8), (1000, 12), (10000, 14),
                      (100000, 16), (float("inf"), 25))],
    "scaled.circles": [
        (10, {"width": 6, "fill": (0xFE, 0xD9, 0x76), "opacity": 1.0,
              "ring": (0xFE, 0x97, 0x24)}),
        (100, {"width": 7, "fill": (0xFD, 0x8D, 0x3C), "opacity": 0.8,
               "ring": None}),
        (1000, {"width": 10, "fill": (0xFD, 0x8D, 0x3C), "opacity": 0.7,
                "ring": None}),
        (10000, {"width": 16, "fill": (0xF0, 0x3B, 0x20), "opacity": 0.6,
                 "ring": None}),
        (float("inf"), {"width": 30, "fill": (0xBD, 0x00, 0x26),
                        "opacity": 0.6, "ring": None}),
    ],
}

HEAT_STYLES = frozenset((
    "purpleHeat.point", "blueHeat.point", "orangeHeat.point",
    "greenHeat.point", "fire.point", "glacier.point"))

#: hard pixel styles: fully-opaque dots, no semi-transparency
#: (styles.js hardPointStyles)
HARD_POINT_STYLES = frozenset((
    "classic.point", "purpleYellow.point", "green.point"))

DEFAULT_STYLE = "classic.point"


def named_styles() -> frozenset[str]:
    """Every style name the catalogue serves (styles.js namedStyles)."""
    return frozenset(STYLES) | frozenset(POLY_STYLES) | \
        frozenset(MARKER_STYLES)


def get_style_name(style: str | None) -> str:
    """styles.js getStyleName: unknown style -> the default."""
    return style if style in named_styles() else DEFAULT_STYLE


def is_heat_style(style: str) -> bool:
    """styles.js:97-99 — heat styles composite 4 z+1 tiles."""
    return style in HEAT_STYLES


def is_hard_pixel_style(style: str) -> bool:
    """styles.js:90-92 — hard pixel styles must not be semitransparent."""
    return style in HARD_POINT_STYLES


#: byte budget of the rendered-PNG memo (see the module docstring)
_MEMO_BUDGET = 32 << 20
#: what one memo entry is charged beyond its bytes: key tuple, dict slot
_ENTRY_BYTES = 256


class _Memo:
    """Content-keyed LRU of rendered PNGs within ``_MEMO_BUDGET`` bytes,
    shared by every thread of the process. ``hits`` and ``evicted``
    count since the last :meth:`clear` (``tools/serve_digest.py``
    reports them)."""

    def __init__(self):
        self._lock = threading.Lock()
        self._entries: OrderedDict = OrderedDict()   # key -> (png, charge)
        self.nbytes = self.hits = self.evicted = 0

    def render(self, key: tuple, key_bytes: int, render) -> bytes:
        """The memoised PNG of ``key``, else ``render()``'s, kept when
        its charge fits the budget."""
        with self._lock:
            hit = self._entries.get(key)
            if hit is not None:
                self._entries.move_to_end(key)
                self.hits += 1
                return hit[0]
        data = render()
        charge = len(data) + key_bytes + _ENTRY_BYTES
        with self._lock:
            if key not in self._entries and charge <= _MEMO_BUDGET:
                self._entries[key] = (data, charge)
                self.nbytes += charge
                while self.nbytes > _MEMO_BUDGET:
                    self.nbytes -= self._entries.popitem(last=False)[1][1]
                    self.evicted += 1
        return data

    def clear(self) -> None:
        with self._lock:
            self._entries.clear()
            self.nbytes = self.hits = self.evicted = 0


_MEMO = _Memo()


def _content(tile) -> bytes | None:
    """The memo-key form of a tile: its MVT bytes, None when absent."""
    if isinstance(tile, mvt.TileColumns):
        return tile.data
    return bytes(tile) if tile else None


def write_png(rgba: np.ndarray) -> bytes:
    """Minimal RGBA PNG encoder (8-bit, filter 0 per scanline)."""
    h, w = rgba.shape[:2]
    raw = np.empty((h, w * 4 + 1), dtype=np.uint8)
    raw[:, 0] = 0                                   # filter type: None
    raw[:, 1:] = rgba.reshape(h, w * 4)

    def chunk(tag: bytes, data: bytes) -> bytes:
        body = tag + data
        return (struct.pack(">I", len(data)) + body +
                struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) +
            chunk(b"IDAT", zlib.compress(raw, 6)) +
            chunk(b"IEND", b""))


def render_density_png(tile_bytes: bytes | None, style: str = "classic.point",
                       tile_size: int = 512, dot_width: int = 2,
                       scale: float = 1.0) -> bytes:
    """MVT density tile -> styled PNG (empty/None tile -> transparent).

    Buffer-region features are dropped (they repeat in the neighbour's
    visible region); ``scale`` renders @0.5x..@4x sizes by scaling both
    the canvas and the dot. Dots are painted in the order their pixels
    first appear in the tile; where dots overlap, the later one wins.
    Memoised on the full input (see the module docstring).
    """
    data = _content(tile_bytes)
    return _MEMO.render(
        ("density", data, style, tile_size, dot_width, scale),
        len(data or b""),
        lambda: _render_density(data, style, tile_size, dot_width, scale))


def _render_density(tile_bytes: bytes | None, style: str, tile_size: int,
                    dot_width: int, scale: float) -> bytes:
    size = int(tile_size * scale)
    canvas = np.zeros((size, size, 4), dtype=np.uint8)
    if tile_bytes:
        x, y, total = _dot_totals(mvt.decode_columns(tile_bytes), tile_size)
        d = max(1, int(round(dot_width * scale)))
        pix, dot = _dot_pixels((x * scale).astype(np.int64),
                               (y * scale).astype(np.int64), d, size)
        # the last dot painted on a pixel wins
        order = np.argsort(pix, kind="stable")
        pix, dot = pix[order], dot[order]
        last = np.ones(len(pix), bool)
        last[:-1] = pix[1:] != pix[:-1]
        flat = canvas.reshape(-1, 4)
        flat[pix[last], :3] = _ramp_rgb(STYLES[style], total)[dot[last]]
        flat[pix[last], 3] = 255
    return write_png(canvas)


def _dot_totals(cols, tile_size: int
                ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(x, y, total) per visible pixel, in the order each pixel first
    appears. A feature's total is its ``total`` attribute if it has
    one, else the sum of its other attributes; features on one pixel
    add up."""
    is_total = np.array([k == "total" for k in cols.keys], bool)[cols.key]
    has_total = cols.row_sums(is_total) > 0
    t = np.where(has_total,
                 cols.row_sums(np.where(is_total, cols.count, 0)),
                 cols.row_sums(np.where(is_total, 0, cols.count)))
    x, y = cols.x.astype(np.int64), cols.y.astype(np.int64)
    vis = (x >= 0) & (x < tile_size) & (y >= 0) & (y < tile_size)
    pix = x[vis] * tile_size + y[vis]
    uniq, first, inv = np.unique(pix, return_index=True, return_inverse=True)
    sums = np.zeros(len(uniq), np.int64)
    np.add.at(sums, inv, t[vis])
    order = np.argsort(first)
    return uniq[order] // tile_size, uniq[order] % tile_size, sums[order]


def _dot_pixels(sx: np.ndarray, sy: np.ndarray, d: int, size: int
                ) -> tuple[np.ndarray, np.ndarray]:
    """Canvas pixels (flat index) of d x d dots with top-left corners
    (sx, sy), clipped to the canvas, and the dot each belongs to; dot
    by dot, in dot order."""
    oy, ox = np.divmod(np.arange(d * d), d)
    px = (sx[:, None] + ox).ravel()
    py = (sy[:, None] + oy).ravel()
    dot = np.repeat(np.arange(len(sx)), d * d)
    ok = (px >= 0) & (px < size) & (py >= 0) & (py < size)
    return (py * size + px)[ok], dot[ok]


def _ramp_rgb(ramp, total: np.ndarray) -> np.ndarray:
    """Per-total ramp colour: the first breakpoint >= total."""
    his = np.array([hi for hi, _ in ramp], np.float64)
    idx = np.minimum(np.searchsorted(his, total, side="left"), len(ramp) - 1)
    return np.array([rgb for _, rgb in ramp], np.uint8)[idx]


def _ramp_color(ramp, total):
    for hi, rgb in ramp:
        if total <= hi:
            return rgb
    return ramp[-1][1]


def _blend_over(canvas: np.ndarray, mask: np.ndarray,
                rgb: tuple[int, int, int], alpha: float) -> None:
    """Source-over composite of a flat colour onto the RGBA canvas
    under a boolean mask."""
    if not mask.any():
        return
    sa = float(alpha)
    src = np.array(rgb, dtype=np.float64) * sa
    dst = canvas[mask].astype(np.float64)
    out_a = sa * 255.0 + dst[:, 3] * (1.0 - sa)
    out_rgb = src[None, :] + dst[:, :3] * (dst[:, 3:4] / 255.0) * (1.0 - sa)
    # normalize premultiplied back to straight alpha
    nz = out_a > 0
    res = dst.copy()
    res[nz, :3] = np.clip(out_rgb[nz] / (out_a[nz, None] / 255.0), 0, 255)
    res[:, 3] = np.clip(out_a, 0, 255)
    canvas[mask] = np.rint(res).astype(np.uint8)


def _poly_mask(verts: list[tuple[float, float]], size: int) -> np.ndarray:
    """Boolean inside-mask for a polygon over a size x size canvas:
    even-odd rule against pixel centres, vectorized per edge (the
    standard crossing-number test — handles the convex hex/square cells
    the binning operators emit, and any simple polygon)."""
    ys, xs = np.mgrid[0:size, 0:size]
    px = xs + 0.5
    py = ys + 0.5
    inside = np.zeros((size, size), dtype=bool)
    n = len(verts)
    for i in range(n):
        x0, y0 = verts[i]
        x1, y1 = verts[(i + 1) % n]
        if y0 == y1:
            continue
        crosses = ((y0 > py) != (y1 > py)) & \
            (px < (x1 - x0) * (py - y0) / (y1 - y0) + x0)
        inside ^= crosses
    return inside


def _edge_mask(verts: list[tuple[float, float]], size: int) -> np.ndarray:
    """1-px border: polygon pixels adjacent to a non-polygon pixel."""
    inside = _poly_mask(verts, size)
    eroded = inside.copy()
    eroded[1:, :] &= inside[:-1, :]
    eroded[:-1, :] &= inside[1:, :]
    eroded[:, 1:] &= inside[:, :-1]
    eroded[:, :-1] &= inside[:, 1:]
    # the canvas boundary counts as outside: a cell clipped at the tile
    # edge still strokes its border there
    eroded[0, :] = eroded[-1, :] = False
    eroded[:, 0] = eroded[:, -1] = False
    return inside & ~eroded


def render_poly_png(cells: list[tuple[list[tuple[float, float]], int]],
                    style: str = "classic.poly", tile_size: int = 512,
                    scale: float = 1.0) -> bytes:
    """Polygon-style raster (the *-poly.mss catalogue): each cell is
    (vertex ring in tile pixels, total). Fill colour from the style's
    ``total`` breakpoints with the sheet's opacity; bordered styles
    stroke a 1-px edge (the CartoCSS line widths are sub-pixel).
    ``outline.poly`` strokes only. Cell rings come from the binning
    operators (``binning.hex_rings`` / square cell corners)."""
    spec = POLY_STYLES[style]
    size = int(tile_size * scale)
    canvas = np.zeros((size, size, 4), dtype=np.uint8)
    for verts, total in cells:
        sv = [(x * scale, y * scale) for x, y in verts]
        if spec["ramp"] is not None:
            _blend_over(canvas, _poly_mask(sv, size),
                        _ramp_color(spec["ramp"], total), spec["opacity"])
        if spec["line"] is not None:
            line_rgb, line_op = spec["line"]
            _blend_over(canvas, _edge_mask(sv, size), line_rgb, line_op)
    return write_png(canvas)


def render_marker_png(markers: list[tuple[float, float, int]],
                      style: str = "blue.marker", tile_size: int = 512,
                      scale: float = 1.0) -> bytes:
    """Marker-style raster (blue/orange-marker.mss, scaled-circles.mss):
    each marker is (centreX, centreY, total) in tile pixels; circle
    width, fill, and opacity follow the style's ``total`` breakpoints
    (markers allow overlap — painted in input order, source-over)."""
    bins = MARKER_STYLES[style]
    size = int(tile_size * scale)
    canvas = np.zeros((size, size, 4), dtype=np.uint8)
    ys, xs = np.mgrid[0:size, 0:size]
    for cx, cy, total in markers:
        spec = None
        for hi, s in bins:
            if total <= hi:
                spec = s
                break
        if spec is None:
            spec = bins[-1][1]
        r = spec["width"] * scale / 2.0
        d2 = (xs + 0.5 - cx * scale) ** 2 + (ys + 0.5 - cy * scale) ** 2
        _blend_over(canvas, d2 <= r * r, spec["fill"], spec["opacity"])
        if spec["ring"] is not None:
            ring = (d2 <= (r + 1.0) ** 2) & (d2 > r * r)
            _blend_over(canvas, ring, spec["ring"], 1.0)
    return write_png(canvas)


def square_cell_polys(cells: dict, square_size: int
                      ) -> list[tuple[list[tuple[float, float]], int]]:
    """{(cellX, cellY): total} (the cells binning.square_bin_dict
    returns, as a dict) to the cell-corner rings render_poly_png
    consumes."""
    out = []
    for (cx, cy), total in cells.items():
        x0, y0 = cx * square_size, cy * square_size
        x1, y1 = x0 + square_size, y0 + square_size
        out.append(([(x0, y0), (x1, y0), (x1, y1), (x0, y1)], total))
    return out


def render_heat_png(children: list, style: str = "purpleHeat.point",
                    tile_size: int = 512, dot_width: int = 2,
                    scale: float = 1.0) -> bytes:
    """Heat-style raster from the FOUR z+1 child tiles
    (renderer.js:70-100 heatMapRender + routes.js heatVectorRequest).

    ``children`` = [TL, TR, BL, BR] as MVT bytes or decoded
    :class:`~maps_spark.functions.mvt.TileColumns` (None for empty):
    the (2x,2y)..(2x+1,2y+1) children of the requested tile, each
    rendered into its quadrant at half resolution, dots accumulated
    with SCREEN blending (marker-comp-op: screen in every heat
    stylesheet) so overlapping markers brighten. Each pixel takes the
    screen-blend steps of its dots one by one, in dot order (children
    in order, then each child's pixels in first-appearance order).
    ``scale=0.5`` yields the 256 px ``@Hx`` tile (routes.js:63).
    Memoised on the full input (see the module docstring); a miss
    renders from the children as given, decoded columns included.
    """
    children = list(children[:4])
    data = tuple(_content(c) for c in children)
    return _MEMO.render(
        ("heat", data, style, tile_size, dot_width, scale),
        sum(len(d) for d in data if d),
        lambda: _render_heat(children, style, tile_size, dot_width, scale))


def _render_heat(children: list, style: str, tile_size: int,
                 dot_width: int, scale: float) -> bytes:
    size = int(tile_size * scale)
    half = size // 2
    canvas = np.zeros((size, size, 4), dtype=np.uint8)
    d = max(1, int(round(dot_width * scale)))
    sx, sy, total = [], [], []
    for qi, tile in enumerate(children):
        if not tile:
            continue
        if not isinstance(tile, mvt.TileColumns):
            tile = mvt.decode_columns(tile)
        x, y, t = _dot_totals(tile, tile_size)
        sx.append((qi % 2) * half + (x * half / tile_size).astype(np.int64))
        sy.append((qi // 2) * half + (y * half / tile_size).astype(np.int64))
        total.append(t)
    if sx:
        pix, dot = _dot_pixels(np.concatenate(sx), np.concatenate(sy), d,
                               size)
        rgb = _ramp_rgb(STYLES[style], np.concatenate(total))
        order = np.argsort(pix, kind="stable")
        pix, b = pix[order], rgb[dot[order]].astype(np.float64)
        # accumulate per painted pixel; step k applies its (k+1)-th dot
        start = np.ones(len(pix), bool)
        start[1:] = pix[1:] != pix[:-1]
        slot = np.cumsum(start) - 1
        step = np.arange(len(pix)) - np.flatnonzero(start)[slot]
        acc = np.zeros((int(start.sum()), 3), dtype=np.float64)
        for k in range(int(step.max()) + 1 if len(step) else 0):
            at = step == k
            # screen blend: out = 255 - (255-a)(255-b)/255
            acc[slot[at]] = 255.0 - (255.0 - acc[slot[at]]) * \
                (255.0 - b[at]) / 255.0
        flat = canvas.reshape(-1, 4)
        flat[pix[start], :3] = np.clip(np.rint(acc), 0, 255).astype(np.uint8)
        flat[pix[start], 3] = np.where(acc.sum(axis=1) > 0, 255, 0)
    return write_png(canvas)
