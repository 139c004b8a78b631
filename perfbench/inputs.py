"""Seeded inputs and request streams.

Everything a run feeds the engine is derived from ``--seed`` here: the
``events``/``nation`` parquet pair the occurrence view is built from,
and every request stream. The engine only ever sees these files and
requests.

The events table has the schema of the repo's synthetic ``events``
fixture (``event_id, ts, user_id, event_type, value, props``). The
occurrence view derives coordinates, year, basis of record and every
map key from ``event_id``/``user_id`` (``sources.occurrence``), so fresh
seeded ids move coordinates, view membership and view sizes with the
seed while the statistical shape stays the same from seed to seed.
"""

from __future__ import annotations

import os

import numpy as np

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
N_USERS = 1500
N_NATIONS = 25
BORS = ("HUMAN_OBSERVATION", "OBSERVATION", "PRESERVED_SPECIMEN",
        "MACHINE_OBSERVATION", "MATERIAL_SAMPLE")

# map-key type code -> HTTP parameter (plans.params.MAP_TYPES inverted)
_PARAM_OF_CODE = {"2": "datasetKey", "3": "publishingOrg", "4": "country",
                  "5": "publishingCountry", "6": "networkKey"}


def write_inputs(seed: int, rows: int, out_dir: str) -> None:
    """Write ``events.parquet`` and ``nation.parquet`` for ``seed``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    event_id = np.sort(rng.choice(10**9, rows, replace=False)).astype("int64")
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + np.sort(rng.integers(0, 30 * 86400 * 10**6, rows))
          .astype("timedelta64[us]"))
    events = pa.table({
        "event_id": event_id,
        "ts": ts,
        "user_id": rng.integers(0, N_USERS, rows).astype("int64"),
        "event_type": rng.choice(np.array(EVENT_TYPES), rows),
        "value": np.round(rng.exponential(50.0, rows), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)],
    })
    pq.write_table(events, f"{out_dir}/events.parquet")
    nation = pa.table({
        "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
        "n_regionkey": pa.array([i % 5 for i in range(N_NATIONS)],
                                pa.int32()),
    })
    pq.write_table(nation, f"{out_dir}/nation.parquet")


def view_params(map_key: str) -> dict:
    """HTTP-style request parameters that ``plans.params.map_keys``
    turns back into ``map_key``."""
    if map_key == "0:0":
        return {}
    code, _, rest = map_key.partition(":")
    if code == "1":
        checklist, _, taxon = rest.partition("|")
        return {"taxonKey": taxon, "checklistKey": checklist}
    return {_PARAM_OF_CODE[code]: rest}


def _grid(srs: str, z: int) -> tuple[int, int]:
    return ((2 << z) if srs == "EPSG:4326" else (1 << z)), 1 << z


class RequestStream:
    """Seeded tile-server request stream (one closed-loop client).

    ``large``/``small`` are the views the client may ask for, most
    popular first: over-threshold views (served from tile slices) and
    under-threshold ones (served from point bundles). ``zipf`` > 0
    skews view choice towards the head of each list.
    ``missing`` names views that do not exist.

    The request kinds come in shuffled rounds of ``KINDS``, each kind
    once. Equal shares and the Zipf exponent are assumptions: no traffic
    measurement of the reference's tile servers is at hand to set them
    by."""

    KINDS = ("tile", "hex", "square", "density_png", "heat_png", "points",
             "miss")

    def __init__(self, seed: int, large: list[str], small: list[str],
                 srs_list: tuple[str, ...], zooms: tuple[int, ...],
                 zipf: float, missing: list[str]):
        self.rng = np.random.default_rng([seed, 2])
        self.large, self.small = large, small
        self.srs_list, self.zooms = srs_list, zooms
        self.missing = missing
        self.p_large = _zipf(len(large), zipf)
        self.p_small = _zipf(len(small), zipf)
        self._queue: list[str] = []

    def __iter__(self):
        return self

    def __next__(self) -> dict:
        """Next request; every round of ``len(KINDS)`` requests holds
        each kind once."""
        if not self._queue:
            self._queue = [self.KINDS[i] for i in
                           self.rng.permutation(len(self.KINDS))]
        return self._one(self._queue.pop())

    def _one(self, kind: str) -> dict:
        rng = self.rng
        srs = self.srs_list[rng.integers(len(self.srs_list))]
        # a heat PNG reads the four z+1 children: stay in the working set
        zooms = self.zooms[:-1] if kind == "heat_png" else self.zooms
        z = int(zooms[rng.integers(len(zooms))])
        if kind == "points":
            view = self.small[rng.choice(len(self.small), p=self.p_small)]
            srs = "EPSG:3857"
        elif kind == "miss":
            view = self.missing[rng.integers(len(self.missing))]
            srs = "EPSG:3857"
        else:
            view = self.large[rng.choice(len(self.large), p=self.p_large)]
        nx, ny = _grid(srs, z)
        req = {"kind": kind, "srs": srs, "z": z,
               "x": int(rng.integers(nx)), "y": int(rng.integers(ny)),
               "params": view_params(view)}
        if kind in ("tile", "hex", "square", "points"):
            req["params"].update(_filter_params(rng))
        return req


def _filter_params(rng) -> dict:
    """Year/basis-of-record filters, in either API form: v2 ``year`` +
    ``basisOfRecord`` or v1 ``layer`` names."""
    lo = int(rng.integers(1850, 1990))
    hi = lo + int(rng.integers(10, 150))
    form = rng.integers(3)
    if form == 0:
        return {"year": f"{lo},{hi}"}
    if form == 1:
        k = int(rng.integers(1, 4))
        bors = sorted(rng.choice(np.array(BORS), k, replace=False).tolist())
        return {"year": f"{lo},{hi}", "basisOfRecord": bors}
    lo, hi = min(lo, 2020), min(hi, 2020)
    prefixes = ("OBS", "SP", "OTH")[:int(rng.integers(1, 4))]
    return {"layer": [f"{p}_{lo}_{hi}" for p in prefixes]}


ADHOC_KINDS = ("geo_grid", "adhoc_tile", "density_tile", "country_mask",
               "capabilities", "species_trend", "hex_trend", "year_facet")


def adhoc_stream(seed: int, large: list[str]):
    """Endless seeded stream of the occurrence-scan endpoints: one of
    each kind per round, in seeded order. Each kind keeps its zoom and
    filter shape from seed to seed, so that the work a round does stays
    the same; the seed picks tiles, views, masks and filter values. The
    zooms (z4 grids, z2 tiles) are an assumption, not taken from
    the reference."""
    rng = np.random.default_rng([seed, 3])
    kinds = ADHOC_KINDS
    while True:
        for i in rng.permutation(len(kinds)):
            kind = kinds[i]
            z = 4 if kind == "geo_grid" else 2
            req = {"kind": kind, "z": z, "x": int(rng.integers(1 << z)),
                   "y": int(rng.integers(1 << z))}
            if kind == "geo_grid":
                req["mode"] = ("bounds", "centroid")[rng.integers(2)]
            elif kind in ("density_tile", "country_mask"):
                req["view"] = large[rng.integers(len(large))]
                req["mask"] = f"4:NATION_{rng.integers(N_NATIONS)}"
                lo = int(rng.integers(1850, 1990))
                req["year"] = (lo, lo + int(rng.integers(10, 150)))
                req["bors"] = sorted(rng.choice(np.array(BORS), 2,
                                                replace=False).tolist())
            elif kind == "species_trend":
                s = int(rng.integers(400))
                req["views"] = (f"1:c0|s{s}", f"1:c0|g{s // 5}")
            elif kind == "hex_trend":
                g = int(rng.integers(80))
                req["views"] = (f"1:c0|g{g}", f"1:c0|f{g // 4}")
            yield req


def _zipf(n: int, s: float) -> np.ndarray:
    w = np.arange(1, n + 1, dtype=float) ** -s
    return w / w.sum()
