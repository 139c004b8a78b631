"""The workloads: set-up, one timed op, and the untimed output checks.

``run.py`` drives one workload as a closed-loop client: ``build()`` and
``setup()`` once, then ``op(i)`` (timed) followed by ``after_op(i, out)``
(untimed) until the run's time is up and a round of ``round_len`` ops
is complete, then ``check()`` (untimed), which returns how many ops
gave a wrong answer (a wrong store counts as one).

- ``ServeHot``: tile-server requests over a store that ``build()`` makes
  with a full ``run_backfill``, restricted to a working set that fits
  the ``TileReader`` caches.
- ``Adhoc``: the occurrence-scan endpoints; no tile store.

Sizes are set so that one run, Spark start-up included, ends within
about a minute on ``local[4]``: the first backfill in a fresh JVM costs
about 35 s at any input size here, because most of it is code
generation, JIT warm-up and the fixed price of its ~30 Spark jobs.
"""

from __future__ import annotations

import math
import os

import inputs
from layers import Tracer

ROWS = 10_000
THRESHOLD = 500             # views at or above it get tile pyramids
SRS = ("EPSG:3857",)        # each further projection adds ~15 s per build
MAX_ZOOM = 5
# the serve_hot working set: small enough that warming it stays cheap
# (a cold point view costs one Spark job) and far inside the reader's
# caps; its size and the Zipf exponent are assumptions
HOT_LARGE, HOT_SMALL, HOT_ZOOMS, HOT_ZIPF = 3, 8, (2, 3), 1.0
HOT_MISSING = ["2:ds-missing-a", "2:ds-missing-b"]
CHECKED_TILES = 8           # served tiles compared with the twin
PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
TILE_SIZE, BUFFER = 512, 64   # functions.tiles defaults the server uses


class Context:
    """What both workloads share: session, generated input, oracle.
    ``oracle_rows``/``oracle_keyed_rows`` are DuckDB's counts of the
    base-filtered and the map-keyed occurrence rows."""

    def __init__(self, spark, seed: int, work: str):
        import duckdb

        from maps_spark.sql import oracle as O
        from maps_spark.sources.occurrence import mapkeys_cte, occurrence_cte

        self.spark, self.seed, self.work = spark, seed, work
        self.tracer = Tracer(spark)
        self.in_dir = f"{work}/input"
        inputs.write_inputs(seed, ROWS, self.in_dir)
        self.duck = duckdb.connect()
        for t in ("events", "nation"):
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                              f"'{self.in_dir}/{t}.parquet'")
        self.oracle_rows = self.scalar(
            f"{occurrence_cte()} SELECT count(*) FROM occ")
        self.oracle_keyed_rows = self.scalar(
            f"{mapkeys_cte()} SELECT count(*) FROM keyed")
        counts = self.duck.execute(O.map_view_counts_select()).fetchall()
        counts.sort(key=lambda r: (-r[1], r[0]))
        self.large = [k for k, n in counts if n >= THRESHOLD]
        self.small = [k for k, n in counts if n < THRESHOLD]

    def scalar(self, sql: str):
        return self.duck.execute(sql).fetchone()[0]

    def engine_rows(self) -> tuple[int, int]:
        """The engine's own counts of the same two frames:
        ``sources.occurrence.occurrence_df`` and its map-keyed form."""
        from maps_spark.operators import pyramid as PY
        from maps_spark.sources.occurrence import occurrence_df
        occ = occurrence_df(self.spark, self.in_dir)
        return occ.count(), PY.keyed_occurrence(occ).count()


def same_rows(cols_a: list[str], rows_a, cols_b: list[str], rows_b) -> bool:
    """Whether two results hold the same rows in any order, columns
    matched by lower-cased name. Floats match within 1e-9 (relative or
    absolute): Spark and DuckDB sum in different orders."""
    def canon(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
        out = [tuple(r[i] for i in order) for r in rows]
        out.sort(key=lambda r: tuple(_sort_key(v) for v in r))
        return [c.lower() for c in (cols[i] for i in order)], out

    names_a, a = canon(cols_a, rows_a)
    names_b, b = canon(cols_b, rows_b)
    return (names_a == names_b and len(a) == len(b)
            and all(_same(x, y) for ra, rb in zip(a, b)
                    for x, y in zip(ra, rb)))


def _sort_key(v) -> tuple:
    if v is None or v != v:
        return (0, "")
    if isinstance(v, float):
        return (1, f"{v:.6g}")
    return (2, str(v))


def _same(x, y) -> bool:
    if isinstance(x, float) or isinstance(y, float):
        if x is None or y is None:
            return x is None and y is None
        if x != x or y != y:
            return x != x and y != y
        return math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(x, bool) or isinstance(y, bool):
        return int(x) == int(y)
    return x == y


def _parse(prm: dict):
    """(map key, year range, basis-of-record list) of HTTP params, as
    the tile server parses them (``plans.params``)."""
    from maps_spark.plans import params as P
    map_key, _ = P.map_keys(prm)
    if "layer" in prm:
        f = P.v1_layers_to_filters(prm["layer"])
        return map_key, f["year"] or (None, None), f["bors"]
    return map_key, P.parse_year(prm.get("year")), prm.get("basisOfRecord")


def store_stats(root: str) -> tuple[int, int]:
    """(tile rows, on-disk bytes) of the active build under ``root``."""
    import pyarrow.parquet as pq

    from maps_spark.sources import tile_store
    active = tile_store.resolve_root(root)
    tiles = size = 0
    for d, _, files in os.walk(active):
        for f in files:
            path = os.path.join(d, f)
            size += os.path.getsize(path)
            if f.endswith(".parquet") and f"{active}/tiles/" in path:
                tiles += pq.ParquetFile(path).metadata.num_rows
    return tiles, size


class ServeHot:
    """Tile-server requests through one ``TileReader`` (default caps),
    Zipf-skewed over a working set that fits the reader's caches and
    warmed before timing: no request starts a Spark job. A round is one
    request of each kind."""

    round_len = len(inputs.RequestStream.KINDS)

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.root = f"{ctx.work}/store"
        self.sampled: list[tuple[dict, object]] = []

    def build(self) -> None:
        """The store the requests read: one full backfill."""
        from maps_spark.plans import backfill
        backfill.run_backfill(self.ctx.spark, self.ctx.in_dir, self.root,
                              srs_list=SRS, max_zoom=MAX_ZOOM,
                              threshold=THRESHOLD, parallel_srs=False)

    def setup(self) -> None:
        from maps_spark.sources import tile_store
        ctx = self.ctx
        self.reader = tile_store.TileReader(ctx.spark, self.root)
        args = dict(large=ctx.large[:HOT_LARGE], small=ctx.small[:HOT_SMALL],
                    zooms=HOT_ZOOMS, zipf=HOT_ZIPF, missing=HOT_MISSING)
        self.stream = inputs.RequestStream(ctx.seed, srs_list=SRS, **args)
        # load every slice and point view of the working set, then run
        # the code paths once through a differently seeded stream
        for view in args["large"] + args["small"] + HOT_MISSING:
            for srs in SRS:
                for z in HOT_ZOOMS:
                    self.reader.get_tile_bytes(view, srs, z, 0, 0)
            self.reader.get_point_bytes(view)
        warm = inputs.RequestStream(ctx.seed + 10**6, srs_list=SRS, **args)
        for _ in range(200):
            self.request(next(warm))

    def op(self, i: int):
        req = next(self.stream)
        return req, self.request(req)

    def request(self, req: dict):
        from maps_spark.functions import png
        from maps_spark.operators import serving as SV
        from maps_spark.sources import tile_store
        map_key, years, bors = _parse(req["params"])
        kind, srs, z, x, y = (req[k] for k in ("kind", "srs", "z", "x", "y"))
        spark, reader = self.ctx.spark, self.reader
        if kind in ("tile", "points", "miss"):
            return SV.serve_tile(spark, self.root, map_key, srs, z, x, y,
                                 year_range=years, bors=bors, reader=reader)
        if kind in ("hex", "square"):
            return SV.serve_binned_tile(spark, self.root, map_key, srs, z, x,
                                        y, bin=kind, year_range=years,
                                        bors=bors, reader=reader)
        if kind == "density_png":
            # tile_store.get_tile_png, through the cached reader
            return png.render_density_png(
                reader.get_tile_bytes(map_key, srs, z, x, y))
        return tile_store.get_heat_png(spark, self.root, map_key, srs, z, x,
                                       y, reader=reader)

    def after_op(self, i: int, out) -> bool:
        """Cheap checks on every response; keep a seeded sample of tiles
        for ``check``. False marks a wrong answer."""
        req, res = out
        kind = req["kind"]
        if kind == "miss":
            return res is None
        if kind.endswith("_png"):
            return res is not None and res.startswith(PNG_MAGIC)
        if kind in ("tile", "points") and len(self.sampled) < CHECKED_TILES:
            self.sampled.append((req, res))
        return True

    def check(self) -> int:
        return self._store_wrong() + sum(
            not self._tile_ok(req, res) for req, res in self.sampled)

    def _store_wrong(self) -> int:
        """1 unless the build audits clean and its tile and point totals
        equal the base-filtered counts of the generated input."""
        from maps_spark.plans import backfill
        from maps_spark.sql import oracle as O
        ctx = self.ctx
        tiles = sum(ctx.scalar(
            f"SELECT sum(total) FROM "
            f"({O.pyramid_invariant_select(s, MAX_ZOOM, THRESHOLD)})")
            for s in SRS)
        points = ctx.scalar(
            f"SELECT sum(total) FROM ({O.points_invariant_select(THRESHOLD)})")
        audit = backfill.audit_build(ctx.spark, self.root)
        ok = (audit["ok"] and audit["tile_occurrences"] == tiles
              and audit["point_store"]["occurrences"] == points)
        return 0 if ok else 1

    def _tile_ok(self, req: dict, res) -> bool:
        """A served tile equals ``serving.density_tile``'s DuckDB twin
        over the generated files."""
        from maps_spark.sql import oracle as O
        from maps_spark.sql.dual import BOR_CODE
        map_key, (lo, hi), bors = _parse(req["params"])
        # names outside the encodable set select no stored layer
        bors = [b for b in bors if b in BOR_CODE] if bors else None
        rows = self.ctx.duck.execute(O.density_tile_select(
            req["srs"], req["z"], req["x"], req["y"], map_key, year_lo=lo,
            year_hi=hi, bors=bors)).fetchall()
        # density_tile and the point path keep features on the outer
        # buffer edge (local coordinate == tile size + buffer, as the
        # reference's inclusive Tiles.tileContains does); stored tiles
        # stop one pixel short of it. Compare inside that edge only.
        edge = TILE_SIZE + BUFFER

        def inside(tile):
            return {p: n for p, n in tile if p[0] < edge and p[1] < edge}
        return (inside((res or {}).items())
                == inside(((px, py), n) for px, py, n in rows))


class Adhoc:
    """The occurrence-scan endpoints over the generated input. One op is
    one query. A round is each query kind once, in seeded order with
    seeded arguments; a run ends on a round boundary, so every run does
    the same mix. No tile store."""

    root = None   # no tile store
    round_len = len(inputs.ADHOC_KINDS)

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.answers: list[tuple[dict, list]] = []

    def build(self) -> None:
        pass

    def setup(self) -> None:
        from maps_spark.operators import pyramid as PY
        from maps_spark.sources.occurrence import occurrence_df
        ctx = self.ctx
        self.occ = occurrence_df(ctx.spark, ctx.in_dir)
        self.keyed = PY.keyed_occurrence(self.occ)
        self.stream = inputs.adhoc_stream(ctx.seed, ctx.large)
        # one round with other arguments compiles every query shape
        warm = inputs.adhoc_stream(ctx.seed + 10**6, ctx.large)
        for _ in inputs.ADHOC_KINDS:
            self.query(next(warm))

    def op(self, i: int):
        req = next(self.stream)
        return req, self.query(req)

    def query(self, req: dict) -> list:
        from maps_spark.operators import adhoc as AH
        from maps_spark.operators import capabilities as C
        from maps_spark.operators import regression as R
        from maps_spark.operators import serving as SV
        kind, z, x, y = req["kind"], req["z"], req["x"], req["y"]
        spark, occ, keyed = self.ctx.spark, self.occ, self.keyed
        if kind == "geo_grid":
            layer, df = "operators.adhoc", lambda: AH.geo_grid(
                occ, z, mode=req["mode"])
        elif kind == "adhoc_tile":
            layer, df = "operators.adhoc", lambda: AH.adhoc_tile(
                occ, z, x, y, mode="bounds")
        elif kind == "year_facet":
            layer, df = "operators.adhoc", lambda: AH.year_facet(occ)
        elif kind == "density_tile":
            layer, df = "operators.serving", lambda: SV.density_tile(
                keyed, req["view"], "EPSG:3857", z, x, y,
                year_range=req["year"], bors=req["bors"])
        elif kind == "country_mask":
            layer, df = "operators.serving", lambda: SV.country_masked_tile(
                keyed, req["view"], req["mask"], "EPSG:3857", z, x, y)
        elif kind == "capabilities":
            layer, df = "operators.capabilities", lambda: C.capabilities(
                keyed)
        elif kind == "species_trend":
            layer, df = "operators.regression", lambda: R.species_trend(
                spark, keyed, *req["views"])
        else:
            layer, df = "operators.regression", lambda: R.hex_trend(
                spark, keyed, *req["views"])
        with self.ctx.tracer.span(layer, True, kind):
            return df().collect()

    def after_op(self, i: int, out) -> bool:
        self.answers.append(out)
        return True

    def check(self) -> int:
        """The number of wrong answers."""
        return sum(not self._answer_ok(req, rows)
                   for req, rows in self.answers)

    def _answer_ok(self, req: dict, rows: list) -> bool:
        """An answer equals its DuckDB twin over the same files."""
        from maps_spark.functions.tiles import tile_boundary
        from maps_spark.sql import oracle as O
        kind, z, x, y = req["kind"], req["z"], req["x"], req["y"]
        if kind == "geo_grid":
            sql = O.adhoc_grid_select(z, req["mode"])
        elif kind == "adhoc_tile":
            sql = O.adhoc_grid_select(
                z + 6, "bounds", tile_boundary("EPSG:3857", z, x, y, 0.125))
        elif kind == "year_facet":
            sql = O.year_facet_select()
        elif kind == "density_tile":
            lo, hi = req["year"]
            sql = O.density_tile_select("EPSG:3857", z, x, y, req["view"],
                                        year_lo=lo, year_hi=hi,
                                        bors=req["bors"])
        elif kind == "country_mask":
            sql = O.country_mask_select("EPSG:3857", z, x, y, req["view"],
                                        req["mask"])
        elif kind == "capabilities":
            sql = O.capabilities_select()
        elif kind == "species_trend":
            sql = O.species_trend_select(*req["views"])
        else:
            sql = O.hex_trend_select("EPSG:3857", 0, 0, 0, *req["views"])
        cur = self.ctx.duck.execute(sql)
        want_cols = [d[0] for d in cur.description]
        return same_rows(list(rows[0].__fields__) if rows else want_cols,
                         rows, want_cols, cur.fetchall())
