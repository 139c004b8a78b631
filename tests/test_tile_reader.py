"""Cached serving reader: correctness vs the per-lookup Spark path and
the warm-latency envelope (the cache2k-equivalent, HBaseMaps.java:109-144)."""

import itertools
import time

import pytest

from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    from maps_spark.plans.backfill import run_backfill
    root = str(tmp_path_factory.mktemp("tilestore"))
    run_backfill(spark, SF_SMALL, root, srs_list=("EPSG:3857",),
                 max_zoom=4, threshold=500)
    return root


class TestTileReader:
    def test_reader_matches_spark_path(self, spark, store):
        """Cached serving equals the per-lookup Spark path for tiles and
        point-bundle views, plain, verbose and filtered; tile answers
        also equal the dict-walking oracle over the same bytes."""
        from maps_spark.functions import mvt
        from maps_spark.operators.serving import serve_tile
        from maps_spark.sources.tile_store import TileReader, read_points
        from tests.oracles import filter_dict_tile
        reader = TileReader(spark, store)
        small_key = read_points(spark, store).select("mapKey").first()[0]
        bors = {"bors": ["HUMAN_OBSERVATION", "PRESERVED_SPECIMEN"],
                "year_range": (1990, None)}
        cases = [("0:0", z, x, y, {})
                 for z, x, y in ((0, 0, 0), (1, 1, 0), (2, 1, 1), (4, 7, 7))]
        cases += [("0:0", 2, 1, 1, {"verbose": True}), ("0:0", 1, 0, 0, bors),
                  (small_key, 0, 0, 0, {}),
                  (small_key, 0, 0, 0, {"verbose": True}),
                  (small_key, 0, 0, 0, bors)]
        for key, z, x, y, kw in cases:
            direct = serve_tile(spark, store, key, "EPSG:3857", z, x, y, **kw)
            cached = serve_tile(spark, store, key, "EPSG:3857", z, x, y,
                                reader=reader, **kw)
            assert cached == direct, (key, z, x, y, kw)
            data = reader.get_tile_bytes(key, "EPSG:3857", z, x, y)
            if data is not None:
                assert cached == filter_dict_tile(
                    mvt.decode_tile(data), "EPSG:3857", z, x, y, **kw)
        assert serve_tile(spark, store, "0:0", "EPSG:3857", 1, 0, 0,
                          reader=reader, **bors)
        assert serve_tile(spark, store, small_key, "EPSG:3857", 0, 0, 0,
                          reader=reader, verbose=True)

    def test_decoded_columns_evicted_with_slice(self, spark, store):
        import gc
        import weakref

        from maps_spark.sources.tile_store import TileReader
        reader = TileReader(spark, store, max_slices=1)
        cols = reader.get_tile_columns("0:0", "EPSG:3857", 0, 0, 0)
        assert reader.get_tile_columns("0:0", "EPSG:3857", 0, 0, 0) is cols
        assert not cols.count.flags.writeable   # shared across requests
        ref = weakref.ref(cols)
        del cols
        reader.get_tile_columns("0:0", "EPSG:3857", 1, 0, 0)  # evicts z0
        gc.collect()
        assert ref() is None

    def test_decoded_columns_within_twice_the_slice_bytes(self, spark, store):
        from maps_spark.sources.tile_store import TileReader
        reader = TileReader(spark, store)
        for z in range(5):
            reader.get_tile_bytes("0:0", "EPSG:3857", z, 0, 0)
            entries = next(reversed(reader._slices.values()))
            for x, y in entries:
                reader.get_tile_columns("0:0", "EPSG:3857", z, x, y)
            raw = sum(len(data) for data, _ in entries.values())
            decoded = sum(cols.nbytes for _, cols in entries.values())
            assert raw and decoded <= 2 * raw, (z, decoded, raw)

    def test_warm_lookups_fast(self, spark, store):
        from maps_spark.sources.tile_store import TileReader
        reader = TileReader(spark, store)
        reader.get_tile_bytes("0:0", "EPSG:3857", 2, 1, 1)  # cold load
        t0 = time.time()
        n = 50
        for i in range(n):
            reader.get_tile_bytes("0:0", "EPSG:3857", 2, i % 4, (i // 4) % 4)
        per_lookup = (time.time() - t0) / n
        assert per_lookup < 0.05, f"warm lookup {per_lookup * 1e3:.1f} ms"

    def test_slice_load_plan_stays_partition_pruned(self, spark, store):
        """The cold slice load behind every warm point-get must prune
        to one (srs, checklist, z) directory and push mapKey to
        row-group stats — the scan shape the sub-ms warm envelope
        (bench serving_point_get_warm_1000x) rests on."""
        from maps_spark.sources.tile_store import TileReader
        reader = TileReader(spark, store)
        df = reader.slice_df("0:0", "EPSG:3857", 2)
        plan = df._jdf.queryExecution().executedPlan().toString()
        part = [ln for ln in plan.splitlines()
                if "PartitionFilters" in ln]
        assert part, plan
        for col in ("srs", "checklist", "z"):
            assert col in part[0], (col, part[0])
        assert "EqualTo(mapKey,0:0)" in plan
        # and the reader really serves from that plan
        assert reader.get_tile_bytes("0:0", "EPSG:3857", 2, 1, 1) == \
            {(r.x, r.y): bytes(r.tile)
             for r in df.collect()}.get((1, 1))

    def test_point_bundle_fallback_via_reader(self, spark, store):
        import pyspark.sql.functions as F
        from maps_spark.operators.serving import serve_tile
        from maps_spark.sources.tile_store import TileReader, read_points
        reader = TileReader(spark, store)
        small_key = read_points(spark, store).select("mapKey").first()[0]
        direct = serve_tile(spark, store, small_key, "EPSG:3857", 0, 0, 0)
        cached = serve_tile(spark, store, small_key, "EPSG:3857", 0, 0, 0,
                            reader=reader)
        assert cached == direct
        # second call never touches Spark (cache hit) and is identical
        again = serve_tile(spark, store, small_key, "EPSG:3857", 0, 0, 0,
                           reader=reader)
        assert again == direct

    def test_missing_view_returns_none(self, spark, store):
        from maps_spark.operators.serving import serve_tile
        from maps_spark.sources.tile_store import TileReader
        reader = TileReader(spark, store)
        assert serve_tile(spark, store, "9:nope", "EPSG:3857", 0, 0, 0,
                          reader=reader) is None

    def test_build_swap_invalidates(self, spark, store):
        from maps_spark.sources.tile_store import (TileReader,
                                                   read_manifest,
                                                   write_manifest)
        reader = TileReader(spark, store)
        reader.get_tile_bytes("0:0", "EPSG:3857", 0, 0, 0)
        assert len(reader._slices) == 1
        m = read_manifest(store)
        write_manifest(store, {**m, "build_id": m["build_id"]})  # same build
        reader.get_tile_bytes("0:0", "EPSG:3857", 0, 0, 0)
        assert len(reader._slices) == 1  # same key, no reload

    def test_swap_to_another_build_reloads(self, spark, store):
        """A manifest swap to a different build reloads the slice and
        the point bundle under the new build id; without a swap the
        manifest is not parsed again."""
        import shutil
        from unittest import mock

        from maps_spark.sources import commit
        from maps_spark.sources import tile_store as TS
        reader = TS.TileReader(spark, store)
        small_key = TS.read_points(spark, store).select("mapKey").first()[0]
        first = reader.get_tile_bytes("0:0", "EPSG:3857", 0, 0, 0)
        points = reader.get_point_columns(small_key)
        with mock.patch.object(TS, "read_manifest",
                               side_effect=AssertionError("parsed")):
            assert reader.get_tile_bytes("0:0", "EPSG:3857", 0, 0, 0) \
                == first
        manifest = TS.read_manifest(store)
        old = manifest["build_id"]
        new = old[:-3] + f"{(int(old[-3:]) + 1) % 1000:03d}"
        shutil.copytree(f"{store}/builds/{old}", f"{store}/builds/{new}")
        try:
            TS.pin_build(store, new)
            assert reader.get_tile_bytes("0:0", "EPSG:3857", 0, 0, 0) \
                == first
            assert {k[0] for k in reader._slices} == {old, new}
            assert reader.get_point_columns(small_key) is not points
            assert {k[0] for k in reader._points} == {old, new}
        finally:
            commit.write_json(f"{store}/manifest.json", manifest)
            shutil.rmtree(f"{store}/builds/{new}")


def test_tile_diff_between_builds(spark, tmp_path):
    from maps_spark.sources import tile_store as TS
    rows_a = [("0:0", "EPSG_3857", 0, 0, 0, bytearray(b"\x1a\x02")),
              ("0:0", "EPSG_3857", 1, 0, 0, bytearray(b"\x1a\x03")),
              ("3:DK", "EPSG_3857", 0, 0, 0, bytearray(b"\x1a\x04"))]
    rows_b = [("0:0", "EPSG_3857", 0, 0, 0, bytearray(b"\x1a\x02")),
              ("0:0", "EPSG_3857", 1, 0, 0, bytearray(b"\x1a\x09")),
              ("2:ds1", "EPSG_3857", 0, 0, 0, bytearray(b"\x1a\x05"))]
    schema = ("mapKey string, srs string, z int, x long, y long, "
              "tile binary")
    ra, rb = str(tmp_path / "a"), str(tmp_path / "b")
    TS.write_tiles(spark.createDataFrame(rows_a, schema), ra, "EPSG:3857")
    TS.write_tiles(spark.createDataFrame(rows_b, schema), rb, "EPSG:3857")
    out = {(r.mapKey, r.z): r.change
           for r in TS.tile_diff(spark, ra, rb).collect()}
    # unchanged (0:0, z0) omitted; changed/removed/added all present
    assert out == {("0:0", 1): "changed",
                   ("3:DK", 0): "removed",
                   ("2:ds1", 0): "added"}


def test_pyramid_invariant_detects_lost_tile(spark, tmp_path):
    """The conservation canary: clean build -> every view shows one
    distinct cross-zoom total; surgically deleting one z-partition's
    files must surface as a missing zoom / divergent total."""
    import os
    import shutil

    from maps_spark.plans.backfill import run_backfill
    from maps_spark.sources.tile_store import (pyramid_invariant,
                                               resolve_root)
    root = str(tmp_path / "inv")
    run_backfill(spark, SF_SMALL, root, max_zoom=3, threshold=500,
                 srs_list=("EPSG:3857",), skew_report=False)
    clean = pyramid_invariant(spark, root).collect()
    assert clean and all(r.n_distinct_totals == 1 and r.n_zooms == 4
                         for r in clean)
    # drop one zoom's partition directory inside the active build
    tiles_dir = f"{resolve_root(root)}/tiles"
    victims = [p for p, _, files in os.walk(tiles_dir)
               if p.endswith("z=2") and files]
    assert victims
    for v in victims:
        shutil.rmtree(v)
    broken = pyramid_invariant(spark, root).collect()
    assert all(r.n_zooms == 3 for r in broken)  # z=2 gone everywhere


def _load_perfbench(monkeypatch):
    """perfbench's ``inputs`` and ``workloads`` modules, read-only."""
    import importlib
    from pathlib import Path
    monkeypatch.syspath_prepend(
        str(Path(__file__).resolve().parent.parent / "perfbench"))
    return importlib.import_module("inputs"), \
        importlib.import_module("workloads")


def test_png_memo_does_not_change_a_request_stream(spark, store,
                                                   monkeypatch):
    """A seeded mixed-kind stream (``perfbench``'s request kinds and
    dispatch) through one reader answers the same with the PNG memo warm
    as with the memo cleared before every request."""
    from types import SimpleNamespace

    from maps_spark.functions import png
    from maps_spark.sources.tile_store import TileReader, read_points
    inputs, W = _load_perfbench(monkeypatch)
    small = [r.mapKey for r in read_points(spark, store)
             .select("mapKey").orderBy("mapKey").limit(2).collect()]
    args = dict(large=["0:0"], small=small, srs_list=("EPSG:3857",),
                zooms=(1, 2), zipf=1.0, missing=["2:ds-missing"])
    wl = W.ServeHot.__new__(W.ServeHot)
    wl.ctx, wl.root = SimpleNamespace(spark=spark), store
    wl.reader = TileReader(spark, store)

    def replay(cold: bool) -> list:
        out = []
        for req in itertools.islice(inputs.RequestStream(5, **args), 70):
            if cold:
                png._MEMO.clear()
            out.append((req["kind"], wl.request(req)))
        return out

    png._MEMO.clear()
    warm = replay(cold=False)
    pngs = sum(kind.endswith("_png") for kind, _ in warm)
    assert 0 < len(png._MEMO._entries) < pngs      # repeats were hits
    assert replay(cold=True) == warm
    png._MEMO.clear()


def test_reader_pngs_follow_build_swap(spark, tmp_path):
    """After a ``finalise_build`` swap, one reader serves the new
    build's density and heat PNGs; the memoised old ones never answer."""
    from maps_spark.functions import mvt, png
    from maps_spark.sources import tile_store as TS
    root = str(tmp_path / "swap")
    schema = "mapKey string, srs string, z int, x long, y long, tile binary"
    addresses = [(0, 0, 0)] + [(1, x, y) for y in (0, 1) for x in (0, 1)]

    def build(bid: str, y: int, count: int) -> dict:
        tiles = {a: mvt.encode_tile({"OBSERVATION": [
            (10 * (i + 1), y, {"2000": count})]}) for i, a in
            enumerate(addresses)}
        TS.write_tiles(spark.createDataFrame(
            [("0:0", "EPSG_3857", *a, bytearray(t))
             for a, t in tiles.items()], schema),
            f"{root}/builds/{bid}", "EPSG:3857")
        TS.finalise_build(root, bid)
        return tiles

    def served(reader) -> tuple[bytes, bytes]:
        return (png.render_density_png(
                    reader.get_tile_bytes("0:0", "EPSG:3857", 0, 0, 0)),
                TS.get_heat_png(spark, root, "0:0", "EPSG:3857", 0, 0, 0,
                                reader=reader))

    def fresh(tiles: dict) -> tuple[bytes, bytes]:
        return (png._render_density(tiles[0, 0, 0], "classic.point", 512,
                                    2, 1.0),
                png._render_heat([tiles[a] for a in addresses[1:]],
                                 "purpleHeat.point", 512, 2, 1.0))

    png._MEMO.clear()
    old = build("20240101_000000_000", 20, 5)
    reader = TS.TileReader(spark, root)
    assert served(reader) == fresh(old)
    new = build("20240102_000000_000", 300, 50000)
    want = fresh(new)
    assert all(a != b for a, b in zip(want, fresh(old)))  # the swap shows
    assert served(reader) == want
    png._MEMO.clear()
