"""Minimal Mapbox Vector Tile (MVT 2.1) codec, pure Python.

The container has no protobuf/mapbox libraries, so this implements the
MVT protobuf wire format directly (public spec:
https://github.com/mapbox/vector-tile-spec/tree/master/2.1).

Shape mirrors the reference's tiles (VectorTiles.java:38-82):
one layer per basisOfRecord, one POINT feature per pixel, attributes
``{str(year): count}`` with year "0" = unknown. Extent = tile size (512),
coordinates may lie outside [0, extent) — buffer pixels are encoded
as-is (autoScale=false in the reference encoder).

Used from Arrow-batched pandas UDFs (grouped encode) — this is the
deliberate Python slow path at the very end of the pipeline, matching
the reference's own SQL->RDD encode boundary (TileMapBuilder.java:216-229).

Point tiles have one decoder, :func:`decode_columns`, which reads a tile
into :class:`TileColumns`: per point a layer code, ``x`` and ``y``, and
its attributes as flat key-code/count arrays with offsets. The serve
path filters and rasterizes those columns with numpy, and
:class:`~maps_spark.sources.tile_store.TileReader` keeps them per cached
tile, so a warm tile is decoded once, not per request.
:func:`decode_tile` is the ``{layer: [(x, y, attrs)]}`` dict view of the
same columns; :func:`decode_polygon_tile` reads the binned POLYGON tiles.
"""

from __future__ import annotations

from dataclasses import dataclass
from itertools import chain

import numpy as np

# -- protobuf wire helpers ---------------------------------------------------


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


# Varints below 2^14 cover nearly every value the batch encoder writes
# (tag/value table indices, zigzag pixel coords within the buffered
# extent, feature/tag byte lengths) — the cache turns the hot-loop
# bytearray builds into list lookups (measured ~40% of encode time).
_VARINT_CACHE = tuple(_varint(i) for i in range(1 << 14))


def _v(n: int) -> bytes:
    return _VARINT_CACHE[n] if 0 <= n < 16384 else _varint(n)


# -- encode ------------------------------------------------------------------


def _encode_value(v) -> bytes:
    """MVT Value message. ints -> int_value(4), str -> string_value(1),
    float -> double_value(3), bool -> bool_value(7)."""
    if isinstance(v, bool):
        return _tag(7, 0) + _varint(1 if v else 0)
    if isinstance(v, int):
        if v >= 0:
            return b"\x20" + _v(v)                       # tag(4, 0)
        return b"\x30" + _v(_zigzag(v))                  # tag(6, 0)
    if isinstance(v, float):
        import struct
        return _tag(3, 1) + struct.pack("<d", v)
    s = str(v).encode("utf-8")
    return b"\x0a" + _v(len(s)) + s                      # tag(1, 2)


def encode_layer(name: str, features: list[tuple[int, int, dict]],
                 extent: int = 512) -> bytes:
    """One layer: ``features`` is [(x, y, {attr_key: attr_val}), ...]."""
    keys: list[str] = []
    key_idx: dict[str, int] = {}
    vals: list[bytes] = []
    val_idx: dict[bytes, int] = {}

    body = bytearray()
    body += b"\x78\x02"                               # version = 2 (tag 15)
    nm = name.encode("utf-8")
    body += b"\x0a" + _v(len(nm)) + nm                # name (tag 1)
    feats = bytearray()
    v_ = _v                                           # local binds: hot loop
    zz = _zigzag
    enc_val = _encode_value
    for x, y, attrs in features:
        tags = bytearray()
        for k, v in attrs.items():
            ki = key_idx.get(k)
            if ki is None:
                ki = key_idx[k] = len(keys)
                keys.append(k)
            enc = enc_val(v)
            vi = val_idx.get(enc)
            if vi is None:
                vi = val_idx[enc] = len(vals)
                vals.append(enc)
            tags += v_(ki) + v_(vi)
        geom = b"\x09" + v_(zz(x)) + v_(zz(y))        # MoveTo(1), coords
        f = b"\x12" + v_(len(tags)) + tags            # tags packed (tag 2)
        f += b"\x18\x01"                              # type = POINT (tag 3)
        f += b"\x22" + v_(len(geom)) + geom           # geometry (tag 4)
        feats += b"\x12" + v_(len(f)) + f             # feature (tag 2)
    body += feats
    for k in keys:
        kb = k.encode("utf-8")
        body += b"\x1a" + v_(len(kb)) + kb            # key (tag 3)
    for v in vals:
        body += b"\x22" + v_(len(v)) + v              # value (tag 4)
    body += b"\x28" + _v(extent)                      # extent (tag 5)
    return b"\x1a" + _v(len(body)) + bytes(body)      # layer (tag 3)


def encode_tile(layers: dict[str, list[tuple[int, int, dict]]],
                extent: int = 512) -> bytes:
    """Encode {layer_name: [(x, y, attrs)]} into MVT bytes."""
    return b"".join(encode_layer(n, f, extent) for n, f in layers.items())


def encode_polygon_layer(name: str, rings: np.ndarray, totals: np.ndarray,
                         extent: int = 512) -> bytes:
    """One POLYGON layer of the binned-tile wire shape
    (HexBin.java:154-161 / SquareBin.java:97-99: one polygon per cell,
    attrs ``{"total": n}``, layer "occurrence"). Feature ``i`` is the
    exterior ring ``rings[i]`` of an (n, k, 2) integer array — closing
    vertex optional, MVT closes with ClosePath; a ring with fewer than
    three other vertices is skipped — with total ``totals[i]``. The
    values table lists the totals in first-appearance order. Every
    feature is laid out as one stream of varint fields and encoded at
    once with numpy, so coordinate differences must fit in 62 bits."""
    rings = np.asarray(rings, np.int64)
    totals = np.asarray(totals, np.int64)
    k = rings.shape[1]
    closed = np.zeros(len(rings), bool) if k < 2 else \
        (rings[:, 0] == rings[:, -1]).all(axis=1)
    n = k - closed
    live = n >= 3
    rings, totals, n, closed = rings[live], totals[live], n[live], closed[live]
    vertex = np.ones(rings.shape[:2], bool)
    if k:
        vertex[closed, -1] = False        # ClosePath supplies that edge
    xy = rings[vertex]

    # values: the distinct totals in first-appearance order
    uniq, first_at, inverse = np.unique(totals, return_index=True,
                                        return_inverse=True)
    order = np.argsort(first_at)
    rank = np.empty(len(uniq), np.int64)
    rank[order] = np.arange(len(uniq))
    vi = rank[inverse]
    vals = [_encode_value(v) for v in uniq[order].tolist()]

    # geometry per ring: MoveTo, x0, y0, LineTo, (dx, dy) * (n - 1),
    # ClosePath; zigzag deltas from the previous vertex, the first
    # from the origin
    first = np.cumsum(n) - n                   # each ring's first vertex
    d = xy.copy()
    d[1:] -= xy[:-1]
    d[first] = xy[first]
    zz = ((d << 1) ^ (d >> 63)).view(np.uint64)
    m = 2 * n + 3
    g_start = np.cumsum(m) - m
    geom = np.empty(int(m.sum()), np.uint64)
    geom[g_start] = 1 << 3 | 1
    geom[g_start + 3] = ((n - 1) << 3 | 2).astype(np.uint64)
    geom[g_start + m - 1] = 1 << 3 | 7
    j = np.arange(len(xy)) - np.repeat(first, n)   # vertex within ring
    at = np.repeat(g_start, n) + 1 + 2 * j + (j > 0)
    geom[at] = zz[:, 0]
    geom[at + 1] = zz[:, 1]

    # feature i: 0x12 len(f) | 0x12 len(tags) 0 vi | 0x18 3 |
    # 0x22 len(geom) geom..., every byte below 0x80 being its own varint
    g_len = np.add.reduceat(_varint_lens(geom), g_start) if len(n) else n
    t_len = 1 + _varint_lens(vi)
    f_len = (1 + _varint_lens(t_len) + t_len + 2
             + 1 + _varint_lens(g_len) + g_len)
    head = np.stack([np.full_like(vi, 0x12), f_len, np.full_like(vi, 0x12),
                     t_len, np.zeros_like(vi), vi, np.full_like(vi, 0x18),
                     np.full_like(vi, 3), np.full_like(vi, 0x22), g_len],
                    axis=1).astype(np.uint64)
    w = head.shape[1]
    fields = np.empty(head.size + len(geom), np.uint64)
    h_at = np.arange(len(n)) * w + g_start
    fields[h_at[:, None] + np.arange(w)] = head
    fields[np.arange(len(geom)) + w * np.repeat(np.arange(1, len(n) + 1), m)] \
        = geom

    body = bytearray(b"\x78\x02")                     # version = 2 (tag 15)
    nm = name.encode("utf-8")
    body += b"\x0a" + _v(len(nm)) + nm                # name (tag 1)
    body += _varints(fields)[0].tobytes()             # features (tag 2)
    if len(n):
        body += b"\x1a\x05total"                       # key (tag 3)
    for v in vals:
        body += b"\x22" + _v(len(v)) + v              # value (tag 4)
    body += b"\x28" + _v(extent)                      # extent (tag 5)
    return b"\x1a" + _v(len(body)) + bytes(body)      # layer (tag 3)


def _varint_lens(v: np.ndarray) -> np.ndarray:
    """The byte count of each value's protobuf varint."""
    lens = np.ones(len(v), np.int64)
    rest = v >> 7
    while rest.any():
        lens += rest > 0
        rest >>= 7
    return lens


def _varints(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Protobuf varints of uint64 values, concatenated as one uint8
    array, and each value's byte count."""
    lens = _varint_lens(v)
    out = np.empty(int(lens.sum()), np.uint8)
    at = np.cumsum(lens) - lens
    rest = v.copy()
    for k in range(int(lens.max(initial=0))):
        live = lens > k
        more = (lens[live] > k + 1).astype(np.uint8) << 7
        out[at[live] + k] = (rest[live] & 0x7F).astype(np.uint8) | more
        rest >>= 7
    return out, lens


# -- decode ------------------------------------------------------------------


def _decode_value(buf: bytes):
    pos = 0
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        field, wire = key >> 3, key & 0x7
        if field == 1:      # string
            ln, pos = _read_varint(buf, pos)
            return buf[pos:pos + ln].decode("utf-8")
        if field == 3:      # double
            import struct
            return struct.unpack("<d", buf[pos:pos + 8])[0]
        if field == 2:      # float
            import struct
            return struct.unpack("<f", buf[pos:pos + 4])[0]
        if field in (4, 5):  # int/uint
            v, pos = _read_varint(buf, pos)
            return v
        if field == 6:      # sint
            v, pos = _read_varint(buf, pos)
            return _unzigzag(v)
        if field == 7:      # bool
            v, pos = _read_varint(buf, pos)
            return bool(v)
        pos = _skip(buf, pos, wire)
    return None


def _skip(buf: bytes, pos: int, wire: int) -> int:
    if wire == 0:
        _, pos = _read_varint(buf, pos)
    elif wire == 1:
        pos += 8
    elif wire == 2:
        ln, pos = _read_varint(buf, pos)
        pos += ln
    elif wire == 5:
        pos += 4
    else:
        raise ValueError(f"bad wire type {wire}")
    return pos


def decode_polygon_tile(data: bytes
                        ) -> dict[str, list[tuple[list, dict]]]:
    """MVT bytes -> {layer: [(exterior ring pts, attrs), ...]} for
    POLYGON layers (the binned-tile decode twin). Rings are returned
    open (no duplicated closing vertex)."""
    out: dict[str, list] = {}
    pos = 0
    while pos < len(data):
        key, pos = _read_varint(data, pos)
        field, wire = key >> 3, key & 0x7
        if field == 3 and wire == 2:
            ln, pos = _read_varint(data, pos)
            name, polys = _decode_layer_polys(data[pos:pos + ln])
            pos += ln
            out.setdefault(name, []).extend(polys)
        else:
            pos = _skip(data, pos, wire)
    return out


def _decode_layer_polys(buf: bytes):
    pos = 0
    name = ""
    raw_feats: list[bytes] = []
    keys: list[str] = []
    vals: list = []
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        field, wire = key >> 3, key & 0x7
        if field == 1 and wire == 2:
            ln, pos = _read_varint(buf, pos)
            name = buf[pos:pos + ln].decode("utf-8")
            pos += ln
        elif field == 2 and wire == 2:
            ln, pos = _read_varint(buf, pos)
            raw_feats.append(buf[pos:pos + ln])
            pos += ln
        elif field == 3 and wire == 2:
            ln, pos = _read_varint(buf, pos)
            keys.append(buf[pos:pos + ln].decode("utf-8"))
            pos += ln
        elif field == 4 and wire == 2:
            ln, pos = _read_varint(buf, pos)
            vals.append(_decode_value(buf[pos:pos + ln]))
            pos += ln
        else:
            pos = _skip(buf, pos, wire)
    polys = []
    for rf in raw_feats:
        tags: list[int] = []
        geom: list[int] = []
        pos2 = 0
        while pos2 < len(rf):
            key, pos2 = _read_varint(rf, pos2)
            field, wire = key >> 3, key & 0x7
            if field in (2, 4) and wire == 2:
                ln, pos2 = _read_varint(rf, pos2)
                end = pos2 + ln
                dest = tags if field == 2 else geom
                while pos2 < end:
                    v, pos2 = _read_varint(rf, pos2)
                    dest.append(v)
            else:
                pos2 = _skip(rf, pos2, wire)
        attrs = {keys[tags[j]]: vals[tags[j + 1]]
                 for j in range(0, len(tags), 2)}
        ring: list[tuple[int, int]] = []
        i = 0
        cx = cy = 0
        while i < len(geom):
            cmd = geom[i]
            cid, cnt = cmd & 0x7, cmd >> 3
            i += 1
            if cid in (1, 2):  # MoveTo / LineTo
                for _ in range(cnt):
                    cx += _unzigzag(geom[i])
                    cy += _unzigzag(geom[i + 1])
                    i += 2
                    ring.append((cx, cy))
            elif cid == 7:     # ClosePath: ring complete
                polys.append((ring, attrs))
                ring = []
        if ring:
            polys.append((ring, attrs))
    return name, polys


@dataclass(frozen=True, eq=False)
class TileColumns:
    """One decoded point tile as numpy columns: the form the serve path
    filters and rasterizes, decoded once per cached tile (see
    :class:`maps_spark.sources.tile_store.TileReader`).

    One row per point, grouped by layer in first-appearance order (the
    order :func:`decode_tile` lists them in): ``layer`` indexes
    ``names``; ``x``/``y`` are tile pixels. Row ``i``'s attributes are
    the entries ``offsets[i]:offsets[i + 1]`` of ``key`` (indexes into
    the tile-wide ``keys``) and ``count``. Per key, ``is_year`` marks
    the year attributes the serve filter reads (``int(key)`` parses;
    "0" is the unknown year) and ``year`` holds that int; ``total``,
    which the renderers prefer over the year sum, is an ordinary key.
    ``data`` is the MVT bytes the columns were decoded from: the
    content the PNG memo (:mod:`maps_spark.functions.png`) keys on.
    """

    data: bytes
    names: tuple[str, ...]
    layer: np.ndarray
    x: np.ndarray
    y: np.ndarray
    offsets: np.ndarray
    keys: tuple[str, ...]
    key: np.ndarray
    count: np.ndarray
    is_year: np.ndarray
    year: np.ndarray

    def __post_init__(self):
        # cached and shared by every request: read-only
        for a in self._arrays():
            a.flags.writeable = False

    def _arrays(self) -> tuple[np.ndarray, ...]:
        return (self.layer, self.x, self.y, self.offsets, self.key,
                self.count, self.is_year, self.year)

    @property
    def nbytes(self) -> int:
        return sum(a.nbytes for a in self._arrays())

    def row_sums(self, values: np.ndarray) -> np.ndarray:
        """Per-row sums of an entry-aligned array (exact in int64)."""
        cs = np.concatenate(([0], np.cumsum(values, dtype=np.int64)))
        return cs[self.offsets[1:]] - cs[self.offsets[:-1]]


def _narrow(a: np.ndarray) -> np.ndarray:
    """Tile pixels as int16 when they fit, which they do in any tile
    this engine writes."""
    if not len(a) or (a.min() >= -(1 << 15) and a.max() < (1 << 15)):
        return a.astype(np.int16)
    return a


def _code_dtype(table) -> type:
    """The narrowest dtype indexing ``table``."""
    return np.int8 if len(table) < (1 << 7) else \
        np.int16 if len(table) < (1 << 15) else np.int32


def _walk_layer(buf: bytes, pos: int, end: int, keys: dict,
                groups: dict) -> None:
    """Decode one layer message into the row lists of its name in
    ``groups`` ({name: (x, y, entries per row, key codes, counts)});
    ``keys`` maps key strings to tile-wide codes."""
    name, feats, codes, vals = "", [], [], []
    while pos < end:
        key = buf[pos]
        if key < 0x80 and key & 0x7 == 2 and buf[pos + 1] < 0x80:
            ln = buf[pos + 1]                   # one-byte tag and length
            pos += 2
        else:
            key, pos = _read_varint(buf, pos)
            if key & 0x7 != 2:
                pos = _skip(buf, pos, key & 0x7)
                continue
            ln, pos = _read_varint(buf, pos)
        field = key >> 3
        if field == 2:                          # feature
            feats.append(pos)
            feats.append(pos + ln)
        elif field == 3:                        # key
            k = buf[pos:pos + ln].decode("utf-8")
            codes.append(keys.setdefault(k, len(keys)))
        elif field == 4:                        # value
            v = (_read_varint(buf, pos + 1)[0] if ln and buf[pos] == 0x20
                 else _decode_value(buf[pos:pos + ln]))
            if type(v) is not int:
                raise ValueError("MVT point tile with a non-integer value")
            vals.append(v)
        elif field == 1:
            name = buf[pos:pos + ln].decode("utf-8")
        pos += ln
    if name not in groups:
        groups[name] = ([], [], [], [], [])
    xs, ys, nent, kc, cnt = groups[name]
    for i in range(0, len(feats), 2):
        pos, stop = feats[i], feats[i + 1]
        ta = tb = ga = gb = 0
        while pos < stop:                       # fields of one feature
            key = buf[pos]
            if key == 0x12 or key == 0x22:      # tags / geometry, packed
                ln = buf[pos + 1]
                if ln < 0x80:
                    pos += 2
                else:
                    ln, pos = _read_varint(buf, pos + 1)
                if key == 0x12:
                    ta, tb = pos, pos + ln
                else:
                    ga, gb = pos, pos + ln
                pos += ln
            elif key == 0x18 and buf[pos + 1] < 0x80:   # geometry type
                pos += 2
            else:
                key, pos = _read_varint(buf, pos)
                pos = _skip(buf, pos, key & 0x7)
        n = 0
        while ta < tb:                          # (key, value) index pairs
            k = buf[ta]
            if k < 0x80:
                ta += 1
            else:
                k, ta = _read_varint(buf, ta)
            v = buf[ta]
            if v < 0x80:
                ta += 1
            else:
                v, ta = _read_varint(buf, ta)
            kc.append(codes[k])
            cnt.append(vals[v])
            n += 1
        if ta != tb:
            raise ValueError("MVT feature tags are not (key, value) pairs")
        if ga == gb or buf[ga] != 0x09:         # MoveTo, one point
            raise ValueError("MVT feature geometry is not one point")
        if gb - ga == 3 and buf[ga + 1] < 0x80 and buf[ga + 2] < 0x80:
            zx, zy, pos = buf[ga + 1], buf[ga + 2], gb
        else:
            zx, pos = _read_varint(buf, ga + 1)
            zy, pos = _read_varint(buf, pos)
        if pos != gb:
            raise ValueError("MVT feature geometry is not one point")
        xs.append((zx >> 1) ^ -(zx & 1))
        ys.append((zy >> 1) ^ -(zy & 1))
        nent.append(n)


def decode_columns(data: bytes) -> TileColumns:
    """MVT point-tile bytes -> :class:`TileColumns`. Features must be
    single points with integer attribute values, as :func:`encode_tile`
    writes them; anything else raises ValueError."""
    data = bytes(data)
    keys: dict[str, int] = {}
    groups: dict[str, tuple] = {}
    pos = 0
    while pos < len(data):
        key, pos = _read_varint(data, pos)
        if key != 0x1A:                         # not a layer (tag 3)
            pos = _skip(data, pos, key & 0x7)
            continue
        ln, pos = _read_varint(data, pos)
        _walk_layer(data, pos, pos + ln, keys, groups)
        pos += ln
    x, y, nent, key, count = (
        np.fromiter(chain.from_iterable(g[i] for g in groups.values()),
                    np.int64) for i in range(5))
    years = [_year(k) for k in keys]
    return TileColumns(
        data=data, names=tuple(groups),
        layer=np.repeat(np.arange(len(groups), dtype=_code_dtype(groups)),
                        [len(g[0]) for g in groups.values()]),
        x=_narrow(x), y=_narrow(y),
        offsets=np.concatenate(([0], np.cumsum(nent))).astype(np.int32),
        keys=tuple(keys), key=key.astype(_code_dtype(keys)), count=count,
        is_year=np.array([v is not None for v in years], bool),
        year=np.array([v or 0 for v in years], np.int64))


def decode_tile(data: bytes) -> dict[str, list[tuple[int, int, dict]]]:
    """MVT bytes -> {layer_name: [(x, y, attrs), ...]}: the dict view of
    :func:`decode_columns`."""
    c = decode_columns(data)
    out: dict[str, list] = {name: [] for name in c.names}
    key, count = c.key.tolist(), c.count.tolist()
    off = c.offsets.tolist()
    for i, (li, x, y) in enumerate(zip(c.layer.tolist(), c.x.tolist(),
                                       c.y.tolist())):
        out[c.names[li]].append(
            (x, y, {c.keys[key[j]]: count[j]
                    for j in range(off[i], off[i + 1])}))
    return out


# -- convenience for tests/serving -------------------------------------------


def tile_totals(data: bytes, exclude_buffer: bool = False,
                tile_size: int = 512) -> dict[str, int]:
    """Sum of year counts per layer (optionally visible-region only)."""
    c = decode_columns(data)
    layer = c.layer.astype(np.int64)
    sums = c.row_sums(np.where(c.is_year[c.key], c.count, 0))
    if exclude_buffer:
        keep = (c.x >= 0) & (c.x < tile_size) & (c.y >= 0) & (c.y < tile_size)
        layer, sums = layer[keep], sums[keep]
    out = np.zeros(len(c.names), np.int64)
    np.add.at(out, layer, sums)
    return {c.names[i]: int(out[i]) for i in np.unique(layer).tolist()}


def _year(k: str) -> int | None:
    """The year a key names, or None for a non-year key."""
    try:
        return int(k)
    except ValueError:
        return None
