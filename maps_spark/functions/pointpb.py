"""PointFeatures protobuf codec (point bundles for small map views).

Wire-compatible with the reference's proto schema
(common/src/main/proto/point_feature.proto:8-34): message PointFeatures
{ repeated Feature features = 1; } with Feature { required double
latitude = 1; required double longitude = 2; required BasisOfRecord
basisOfRecord = 3; optional uint32 year = 4; optional uint32 count = 5 }.

Deviation: the reference encoder never sets ``count``
(ProtobufTiles.java:40-50 leaves it at default 1), silently dropping
multiplicity for co-located records. We encode the real count.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

_F64 = struct.Struct("<d")

# proto enum numbers (point_feature.proto:12-24) — NOT the same ordering
# as the borYear dictionary codes (EncodeBorYearUDF.java:34-42).
PB_BOR = {
    "UNKNOWN": 0,
    "PRESERVED_SPECIMEN": 1,
    "FOSSIL_SPECIMEN": 2,
    "LIVING_SPECIMEN": 3,
    "OBSERVATION": 4,
    "HUMAN_OBSERVATION": 5,
    "MACHINE_OBSERVATION": 6,
    "MATERIAL_SAMPLE": 7,
    "LITERATURE": 8,
    "OCCURRENCE": 9,
    "MATERIAL_CITATION": 10,
}
PB_BOR_REVERSE = {v: k for k, v in PB_BOR.items()}


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


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result, shift = 0, 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def encode_features(rows) -> bytes:
    """rows: iterable of (lat, lng, bor_name, year, count)."""
    out = bytearray()
    for lat, lng, bor, year, count in rows:
        f = bytearray()
        f += b"\x09" + struct.pack("<d", float(lat))     # field 1, 64-bit
        f += b"\x11" + struct.pack("<d", float(lng))     # field 2, 64-bit
        f += b"\x18" + _varint(PB_BOR.get(bor, 0))        # field 3, varint
        f += b"\x20" + _varint(int(year or 0))            # field 4, varint
        f += b"\x28" + _varint(int(count))                # field 5, varint
        out += b"\x0a" + _varint(len(f)) + f              # features = 1
    return bytes(out)


@dataclass(frozen=True, eq=False)
class PointColumns:
    """One decoded point bundle as numpy columns, one row per feature:
    ``lat``/``lng`` (float64), ``bor`` (the proto enum code; a code the
    enum does not know reads as ``UNKNOWN``, 0), ``year`` (0 when
    unset) and ``count`` (int64). The serve path projects and filters
    these columns per request; a
    :class:`~maps_spark.sources.tile_store.TileReader` keeps them per
    cached view."""

    lat: np.ndarray
    lng: np.ndarray
    bor: np.ndarray
    year: np.ndarray
    count: np.ndarray

    def __post_init__(self):
        # cached and shared by every request: read-only
        for a in (self.lat, self.lng, self.bor, self.year, self.count):
            a.flags.writeable = False

    def __len__(self) -> int:
        return len(self.lat)


def bor_codes(names) -> np.ndarray:
    """The enum codes of the basis-of-record ``names`` (any case);
    names the enum does not know select nothing."""
    upper = {n.upper() for n in names}
    return np.array([c for n, c in PB_BOR.items() if n in upper],
                    np.int64)


def decode_features(data: bytes) -> PointColumns:
    """PointFeatures bytes -> :class:`PointColumns`."""
    lat: list[float] = []
    lng: list[float] = []
    bors: list[int] = []
    years: list[int] = []
    counts: list[int] = []
    unpack = _F64.unpack_from
    pos = 0
    while pos < len(data):
        key, pos = _read_varint(data, pos)
        if key >> 3 == 1 and key & 0x7 == 2:
            ln, pos = _read_varint(data, pos)
            end = pos + ln
            la = lo = 0.0
            bor = 0
            year = 0
            count = 1
            while pos < end:
                fk, pos = _read_varint(data, pos)
                fld, wire = fk >> 3, fk & 0x7
                if fld == 1 and wire == 1:
                    la, = unpack(data, pos)
                    pos += 8
                elif fld == 2 and wire == 1:
                    lo, = unpack(data, pos)
                    pos += 8
                elif fld == 3 and wire == 0:
                    bor, pos = _read_varint(data, pos)
                elif fld == 4 and wire == 0:
                    year, pos = _read_varint(data, pos)
                elif fld == 5 and wire == 0:
                    count, pos = _read_varint(data, pos)
                elif wire == 0:
                    _, pos = _read_varint(data, pos)
                elif wire == 1:
                    pos += 8
                elif wire == 2:
                    ln2, pos = _read_varint(data, pos)
                    pos += ln2
            lat.append(la)
            lng.append(lo)
            bors.append(bor if bor in PB_BOR_REVERSE else 0)
            years.append(year)
            counts.append(count)
        else:
            wire = key & 0x7
            if wire == 0:
                _, pos = _read_varint(data, pos)
            elif wire == 2:
                ln, pos = _read_varint(data, pos)
                pos += ln
            else:
                raise ValueError("unexpected wire type")
    return PointColumns(lat=np.array(lat, np.float64),
                        lng=np.array(lng, np.float64),
                        bor=np.array(bors, np.int8),
                        year=np.array(years, np.int64),
                        count=np.array(counts, np.int64))
