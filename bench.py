"""Benchmark harness: headline engine queries at the bench scale factor.

Prints ONE JSON line:
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
"sf": ...}``

Env: ``SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1),
``SPARK_GRAFT_CPUS`` (default 32).

The suite mirrors the reference's batch stage shape (BASELINE.md): the
max-zoom aggregation, the full span rollup, buffer fan-out + MVT
encode, then the serving/adhoc query family and the training-data ops.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pyspark.sql.functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
MAX_Z = int(os.environ.get("SPARK_GRAFT_BENCH_MAXZOOM", "14"))


def run() -> None:
    from maps_spark.operators import adhoc as AH
    from maps_spark.operators import pyramid as PY
    from maps_spark.operators import serving as SV
    from maps_spark.session import get_spark
    from maps_spark.sources.occurrence import occurrence_df

    # the console progress bar writes \r-terminated fragments to
    # stderr; a harness capturing stdout+stderr into one stream then
    # glues the final JSON payload onto a progress fragment and the
    # line no longer parses (the r03-r09 failure signature — r11
    # forensics: a 2>&1 capture of this bench had the payload embedded
    # in one giant progress "line"). Pure noise, so off for the bench.
    spark = get_spark("maps-bench", cpus=CPUS,
                      shuffle_partitions=max(CPUS * 2, 32),
                      extra_conf={"spark.ui.showConsoleProgress":
                                  "false"})
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the Python UDF workers once (fork + numpy/pandas import is
    # ~0.5s x num_workers and would otherwise land entirely on the first
    # Arrow-UDF query); steady-state throughput is what the bench reports.
    import pandas as _pd

    def _noop(batches):
        import numpy  # noqa: F401
        for b in batches:
            yield _pd.DataFrame({"x": b["id"]})

    (spark.range(CPUS * 4).repartition(CPUS * 4)
     .mapInPandas(_noop, "x long").count())

    timings: dict[str, float] = {}
    stats: dict[str, dict] = {}
    # 3 repeats (was 2): the box shows multi-second wall-clock noise on
    # the first post-JIT run; best-of-3 lands reliably on steady state
    # (query_stats keeps every run so the spread stays visible).
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    local_json = (os.environ.get("SPARK_GRAFT_BENCH_OUT")
                  or os.path.join(
                      os.path.dirname(os.path.abspath(__file__)),
                      "BENCH_local.json"))

    # per-entry per-micro-batch seconds (streaming entries record
    # them so the O(batch) claim has flatness evidence, not a total)
    batch_lists = {}
    # per-entry per-batch segment attribution (sig / probe_verify /
    # append) from process_batch's profile hook
    profile_lists = {}
    # per-entry extra scalar stats (e.g. span-worker peak RSS)
    extra_stats: dict[str, dict] = {}

    def payload():
        for bname, lists in batch_lists.items():
            if bname in stats:
                stats[bname]["batch_secs"] = lists
        for bname, profs in profile_lists.items():
            if bname in stats:
                stats[bname]["segment_profile"] = profs
        for bname, kv in extra_stats.items():
            if bname in stats:
                stats[bname].update(kv)
        return {"metric": "maps_spark_bench_total",
                "value": round(sum(timings.values()), 3), "unit": "sec",
                "queries": timings, "query_stats": stats,
                "sf": float(sf)}

    def record_batches(name, query):
        # one list per run: triggerExecution seconds of every
        # non-empty micro-batch, from the query's own progress log
        secs = [round(dict(p.durationMs).get("triggerExecution", 0)
                      / 1000.0, 3)
                for p in query.recentProgress if p.numInputRows > 0]
        batch_lists.setdefault(name, []).append(secs)

    def checkpoint():
        # Durable copy, refreshed after EVERY entry: two rounds of
        # driver-side stdout truncation showed the one-line print is
        # not a reliable record, and a partial file still beats none
        # if the harness kills a long run mid-flight.
        tmp = local_json + ".tmp"
        with open(tmp, "w") as f:
            json.dump(payload(), f, indent=1)
        os.replace(tmp, local_json)

    # debugging aid: run only the named entries (comma list). Entries
    # that read stores a SKIPPED entry would have written will fail —
    # use for self-contained entries when profiling a drift.
    only = {s for s in os.environ.get(
        "SPARK_GRAFT_BENCH_ONLY", "").split(",") if s}
    # SPARK_GRAFT_BENCH_RUNS=k overrides every entry's repeat count —
    # the isolated re-pin protocol (quiet machine, BENCH_ONLY + n>=5)
    runs_override = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "0"))

    def timed(name, n=None):
        if only and name not in only:
            return lambda fn: None
        # Report the best of ``repeats`` executions: this box shows up to
        # 2x wall-clock noise under contention, and steady-state (JIT- and
        # page-cache-warm) throughput is the honest 100 TB proxy. The
        # Spark cache is cleared before every execution — queries that
        # persist() intermediates (span rollup, minhash signatures) would
        # otherwise be served from the previous run's cache by canonical-
        # plan matching, and the repeat would time cache reads, not work.
        # All runs are kept in ``query_stats`` (best/median/spread) so
        # round-over-round machine noise is distinguishable from real
        # regressions.
        def deco(fn):
            runs = []

            def one():
                spark.catalog.clearCache()
                t0 = time.time()
                fn()
                runs.append(round(time.time() - t0, 3))

            for _ in range(runs_override or n or repeats):
                one()
            # repeat-count floor (additive, VERDICT r10 #9): sub-5 s
            # entries are fixed-overhead dominated and were the bulk
            # of the >10% environmental movers; every short entry gets
            # at least 3 executions so best-of lands on steady state.
            # Skipped under BENCH_RUNS (the isolated re-pin protocol
            # pins exact counts).
            if not runs_override:
                while min(runs) < 5.0 and len(runs) < 3:
                    one()
            timings[name] = min(runs)
            mid = sorted(runs)[len(runs) // 2] if len(runs) % 2 else round(
                sum(sorted(runs)[len(runs) // 2 - 1:len(runs) // 2 + 1]) / 2,
                3)
            stats[name] = {"best": min(runs), "median": mid,
                           "spread": round(max(runs) - min(runs), 3),
                           "runs": runs}
            checkpoint()
        return deco

    occ = occurrence_df(spark, SF_DIR)
    keyed = PY.keyed_occurrence(occ)

    @timed("pixel_agg_maxzoom")
    def _1():
        # stage 1: explode + project + max-zoom groupBy (the big shuffle)
        PY.pixel_table(keyed, "EPSG:3857", MAX_Z).count()

    @timed("pyramid_rollup_all_zooms")
    def _2():
        # stages 2..: all pixel levels z -> 0 via the span strategy
        # (~3 shuffles total), forcing representative levels
        for z, pixels in PY.pyramid_pixels_spans(keyed, "EPSG:3857", MAX_Z):
            if z in (MAX_Z, 8, 4, 0):
                pixels.count()

    @timed("tile_fanout_z8")
    def _3():
        pix = PY.pixel_table(keyed, "EPSG:3857", 8)
        PY.tile_rows(pix, "EPSG:3857", 8).count()

    @timed("mvt_encode_z6")
    def _4():
        # the engine's one (flat streaming) encoder over one zoom
        pix = PY.pixel_table(keyed, "EPSG:3857", 6)
        PY.encode_mvt(PY.tile_rows(pix, "EPSG:3857", 6)
                      .withColumn("z", F.lit(6))).count()

    @timed("backfill_z0_10_3857", n=2)
    def _4c():
        # the reference's headline workload end-to-end (BASELINE.md's
        # stage times are exactly this pipeline at z16): snapshot ->
        # pixel spans -> single-shuffle multi-zoom MVT encode ->
        # versioned sorted tile index + manifest swap. Two repeats
        # (best reported): this entry runs FIRST of the write
        # pipelines and otherwise absorbs their one-time JIT/page-cache
        # warmup (a cold z10 reads ~10 s slower than warm, which made
        # it look slower than the z12 entry that follows it).
        # Threshold 10k (not the reference's
        # 250k): the synthetic views top out near 100k rows, and the
        # bench must exercise the PYRAMID path, not just point blobs.
        import shutil
        import tempfile

        from maps_spark.plans.backfill import run_backfill
        out = tempfile.mkdtemp(prefix="bench_bf_")
        try:
            run_backfill(spark, SF_DIR, out, max_zoom=10,
                         threshold=10_000, srs_list=("EPSG:3857",))
        finally:
            shutil.rmtree(out, ignore_errors=True)

    @timed("backfill_z0_12_3857", n=2)
    def _4d():
        # larger scale point for the headline pipeline (VERDICT r2 #7):
        # z12 means 4x the max-zoom pixel cells and two more pyramid
        # levels than the z10 entry — tracks whether the span/encode
        # design holds as zoom (and thus fan-out volume) grows.
        import shutil
        import tempfile

        from maps_spark.plans.backfill import run_backfill
        out = tempfile.mkdtemp(prefix="bench_bf12_")
        try:
            run_backfill(spark, SF_DIR, out, max_zoom=12,
                         threshold=10_000, srs_list=("EPSG:3857",))
        finally:
            shutil.rmtree(out, ignore_errors=True)

    # n=5 (r8; was 3): round-7 isolated profiling measured a 6.1 s
    # single-run spread on this ~22 s entry (runs 28.5/22.4 with
    # nothing else on the box; no pyramid-path code changed r5->r7) —
    # best-of-2 was fragile enough to read as a phantom +31%
    # regression in r6, and THIS is the headline z16 anchor the
    # round-over-round scale comparison hangs on, so it gets the
    # widest repeat count in the file (target: spread < 15% of
    # median, checked at round close).
    @timed("backfill_z0_16_3857", n=5)
    def _4d16():
        # THE reference baseline workload: the published z16 Mercator
        # pyramid (spark-generate-maps/example.yaml:124-129 runs
        # max_zoom 16; BASELINE.md's stage minutes are this pipeline at
        # 2.5 B rows). Tracked per round so the scale claim is a bench
        # number, not a hand-run quote. Same 10k threshold as the
        # other entries so the pyramid path (not point blobs) is what
        # z16 exercises.
        import shutil
        import tempfile

        from maps_spark.plans.backfill import run_backfill
        out = tempfile.mkdtemp(prefix="bench_bf16_")
        try:
            run_backfill(spark, SF_DIR, out, max_zoom=16,
                         threshold=10_000, srs_list=("EPSG:3857",))
        finally:
            shutil.rmtree(out, ignore_errors=True)

    @timed("backfill_z0_8_all_srs", n=2)
    def _4e():
        # the full four-projection build (3857/4326 pure-Column math +
        # both polar Snyder pandas-UDF paths) — the reference's actual
        # production shape (TileMapBuilder.java:66-69 loops all four).
        # parallel_srs overlaps the four independent DAGs (each SRS
        # writes its own srs= partition subtree): 67 s -> 48 s at sf0.1
        import shutil
        import tempfile

        from maps_spark.plans.backfill import run_backfill
        out = tempfile.mkdtemp(prefix="bench_bf4_")
        try:
            run_backfill(spark, SF_DIR, out, max_zoom=8,
                         threshold=10_000, parallel_srs=True)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    @timed("backfill_z0_12_all_srs", n=2)
    def _4e12():
        # four projections at production zoom depth: the closest local
        # proxy to the reference's full nightly build (all SRS, deep
        # pyramid). Overlapped per-SRS DAGs as in the z8 entry.
        import shutil
        import tempfile

        from maps_spark.plans.backfill import run_backfill
        out = tempfile.mkdtemp(prefix="bench_bf4x12_")
        try:
            run_backfill(spark, SF_DIR, out, max_zoom=12,
                         threshold=10_000, parallel_srs=True)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    @timed("backfill_z0_10_staged", n=2)
    def _4c2():
        # the z10 headline build in RELIABLE staged-table mode
        # (snapshot + span parents round-trip through Parquet staging
        # instead of localCheckpoint/persist): tracks the fault-
        # tolerance mode's overhead against backfill_z0_10_3857 —
        # expected within spread, since the staging write sits on an
        # existing stage barrier.
        import shutil
        import tempfile

        from maps_spark.plans.backfill import run_backfill
        out = tempfile.mkdtemp(prefix="bench_bfst_")
        try:
            run_backfill(spark, SF_DIR, out, max_zoom=10,
                         threshold=10_000, srs_list=("EPSG:3857",),
                         snapshot="staged")
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def _record_span_rss(name, log_path):
        # max (and mean) ru_maxrss over every Arrow-worker partition
        # line the span closure appended — the MEASURED backing for
        # the O(groups) worker-memory claim (VERDICT r9 #8): peak
        # must stay flat as the input replicates 8x -> 16x. Repeats
        # keep the max across runs (worker processes are reused, so
        # ru_maxrss is already a process-lifetime high-water mark).
        try:
            with open(log_path) as f:
                kb = [int(ln.split()[2]) for ln in f if ln.strip()]
        except OSError:
            return
        if not kb:
            return
        cur = extra_stats.setdefault(name, {})
        cur["span_rss_peak_mb"] = max(
            cur.get("span_rss_peak_mb", 0), round(max(kb) / 1024, 1))
        cur["span_rss_mean_mb"] = round(
            sum(kb) / len(kb) / 1024, 1)
        cur["span_rss_lines"] = len(kb)

    @timed("backfill_z10_4x", n=2)
    def _4f():
        # replicated-scale tracking entry (VERDICT r3 #7): the README's
        # 1x/4x/8x shifted-coordinate experiment, promoted into the
        # bench so the scaling curve is tracked per round. Each replica
        # shifts lng (wrapped) and lat (clamped inside the polar clip)
        # by a sub-degree offset: new unique pixels, same skew profile.
        # Compare against backfill_z0_10_3857 — linear-ish growth means
        # no super-linear stage is hiding in the span/encode path.
        import shutil
        import tempfile

        from maps_spark.sources import tile_store
        rep = occ
        for i in range(1, 4):
            rep = rep.unionByName(occ.withColumns({
                "decimalLongitude": F.pmod(
                    F.col("decimalLongitude") + F.lit(180.0 + i * 0.013),
                    F.lit(360.0)) - 180.0,
                "decimalLatitude": F.greatest(F.lit(-84.9), F.least(
                    F.lit(84.9), F.col("decimalLatitude") + i * 0.0071)),
            }))
        out = tempfile.mkdtemp(prefix="bench_bf4x_")
        try:
            snap = rep.localCheckpoint(eager=True)
            k4 = PY.keyed_occurrence(snap)
            large, small = PY.split_views(k4, 10_000)
            tile_store.write_points(PY.point_blobs(small), out)
            tiles = PY.build_pyramid(large, "EPSG:3857", 10)
            tile_store.write_tiles(tiles, out, "EPSG:3857")
            PY.unpersist_pyramid(tiles)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    @timed("backfill_z10_8x", n=2)
    def _4f8():
        # the 8x point of the scale curve (VERDICT r5 #7): with 1x
        # (backfill_z0_10_3857) and 4x above, this pins the exponent —
        # a super-linear stage in the span/encode path shows up here
        # before a cluster finds it. Same shifted-replica recipe.
        import shutil
        import tempfile

        from maps_spark.sources import tile_store
        rep = occ
        for i in range(1, 8):
            rep = rep.unionByName(occ.withColumns({
                "decimalLongitude": F.pmod(
                    F.col("decimalLongitude") + F.lit(180.0 + i * 0.013),
                    F.lit(360.0)) - 180.0,
                "decimalLatitude": F.greatest(F.lit(-84.9), F.least(
                    F.lit(84.9), F.col("decimalLatitude") + i * 0.0071)),
            }))
        out = tempfile.mkdtemp(prefix="bench_bf8x_")
        rss = out + "/span_rss.log"
        try:
            snap = rep.localCheckpoint(eager=True)
            k8 = PY.keyed_occurrence(snap)
            large, small = PY.split_views(k8, 10_000)
            tile_store.write_points(PY.point_blobs(small), out)
            tiles = PY.build_pyramid(large, "EPSG:3857", 10,
                                     rss_log=rss)
            tile_store.write_tiles(tiles, out, "EPSG:3857")
            PY.unpersist_pyramid(tiles)
            _record_span_rss("backfill_z10_8x", rss)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    @timed("backfill_z10_16x", n=2)
    def _4f16():
        # the 16x point of the scale curve (VERDICT r8 #5): the
        # sublinearity claim (1x -> 4x -> 8x) is the engine's core
        # 100x-scale argument — this extends it another doubling and
        # gives the 8x point a same-run sibling so the wall-per-2x
        # ratio is read off one run, not across rounds. Same
        # shifted-replica recipe as the 4x/8x entries.
        import shutil
        import tempfile

        from maps_spark.sources import tile_store
        rep = occ
        for i in range(1, 16):
            rep = rep.unionByName(occ.withColumns({
                "decimalLongitude": F.pmod(
                    F.col("decimalLongitude") + F.lit(180.0 + i * 0.013),
                    F.lit(360.0)) - 180.0,
                "decimalLatitude": F.greatest(F.lit(-84.9), F.least(
                    F.lit(84.9), F.col("decimalLatitude") + i * 0.0071)),
            }))
        out = tempfile.mkdtemp(prefix="bench_bf16x_")
        rss = out + "/span_rss.log"
        try:
            snap = rep.localCheckpoint(eager=True)
            k16 = PY.keyed_occurrence(snap)
            large, small = PY.split_views(k16, 10_000)
            tile_store.write_points(PY.point_blobs(small), out)
            tiles = PY.build_pyramid(large, "EPSG:3857", 10,
                                     rss_log=rss)
            tile_store.write_tiles(tiles, out, "EPSG:3857")
            PY.unpersist_pyramid(tiles)
            _record_span_rss("backfill_z10_16x", rss)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    @timed("backfill_z10_skewed", n=2)
    def _4g():
        # adversarial-skew tracking entry (VERDICT r4 #5): the z10
        # pipeline where HALF of all rows are one replicated
        # occurrence (one coordinate, one taxon chain, one dataset).
        # The per-pixel count aggregation collapses the hot key
        # map-side before the shuffle, so this must track
        # backfill_z0_10_3857 at ~<=2x (it processes 2x rows), not
        # blow up on the hot (mapKey, px, py) group.
        import shutil
        import tempfile

        from maps_spark.sources import tile_store
        survivor = occ.where(
            "occurrenceId % 97 != 0 AND occurrenceId % 101 != 0 AND "
            "occurrenceId % 89 != 0 AND occurrenceId % 83 != 0").limit(1)
        n = occ.count()
        hot = survivor.crossJoin(spark.range(n).select("id")).drop("id")
        skewed = occ.unionByName(hot)
        out = tempfile.mkdtemp(prefix="bench_bfskew_")
        try:
            snap = skewed.localCheckpoint(eager=True)
            ks = PY.keyed_occurrence(snap)
            large, small = PY.split_views(ks, 10_000)
            tile_store.write_points(PY.point_blobs(small), out)
            tiles = PY.build_pyramid(large, "EPSG:3857", 10)
            tile_store.write_tiles(tiles, out, "EPSG:3857")
            PY.unpersist_pyramid(tiles)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    @timed("point_blobs")
    def _5():
        small = keyed.where(F.col("mapKey").startswith("3:"))
        PY.point_blobs(small).count()

    @timed("density_tile_serving")
    def _6():
        SV.density_tile(keyed, map_key="0:0", srs="EPSG:3857", z=2, x=1, y=1,
                        year_range=(1900, 2000),
                        bors=["HUMAN_OBSERVATION", "OBSERVATION"]).count()

    # -- serving point-get latency (VERDICT r4 #3) -------------------
    # The reference serves a warm point lookup in "sub 5 ms"
    # (PointFeatureFilters.java:73-74: cache2k in front of HBase
    # point-gets). Our equivalent is the cached TileReader: ONE
    # partition-pruned Spark job loads a (mapKey, srs, z) slice, then
    # every tile of that slice is an in-process dict hit. Setup (a
    # small backfill + the cold slice load) is untimed; the timed
    # region is 1000 warm lookups cycling through the slice, reported
    # as loop seconds (schema consistency) with ms/lookup added to
    # query_stats.
    import shutil as _sh
    import tempfile as _tf

    from maps_spark.plans.backfill import run_backfill as _rb
    from maps_spark.sources.tile_store import TileReader, read_points
    _lat_out = _tf.mkdtemp(prefix="bench_lat_")
    # threshold 500 (not 10k): the latency bench needs BOTH stores
    # populated at every SF — tiles for the big "0:0" view, point
    # bundles for the small ones
    _rb(spark, SF_DIR, _lat_out, max_zoom=6, threshold=500,
        srs_list=("EPSG:3857",))
    _reader = TileReader(spark, _lat_out)
    _reader.get_tile_bytes("0:0", "EPSG:3857", 4, 0, 0)  # cold load
    _slice = list(_reader._slices.values())[-1]
    _addrs = sorted(_slice)[:64] or [(0, 0)]
    _pkey = None
    try:
        _prows = (read_points(spark, _lat_out)
                  .select("mapKey").limit(1).collect())
    except Exception:  # no views under threshold -> empty points store
        _prows = []
    if _prows:
        _pkey = _prows[0].mapKey
        _reader.get_point_bytes(_pkey)  # warm the point-bundle cache

    @timed("serving_point_get_warm_1000x")
    def _6b():
        for i in range(1000):
            x, y = _addrs[i % len(_addrs)]
            _reader.get_tile_bytes("0:0", "EPSG:3857", 4, x, y)
            if _pkey is not None and i % 4 == 0:
                _reader.get_point_bytes(_pkey)

    if "serving_point_get_warm_1000x" in timings:  # absent under ONLY
        stats["serving_point_get_warm_1000x"]["ms_per_lookup"] = round(
            timings["serving_point_get_warm_1000x"], 4)  # 1000 lookups
    checkpoint()
    _sh.rmtree(_lat_out, ignore_errors=True)

    @timed("adhoc_geo_grid_z7")
    def _7():
        AH.geo_grid(occ, z=7, mode="bounds").count()

    @timed("capabilities_all_views")
    def _8():
        from maps_spark.operators.capabilities import capabilities
        capabilities(keyed).count()

    # training-data pipeline ops (documents/embeddings tables)
    try:
        from maps_spark.operators import dedup as DD
        from maps_spark.operators import similarity as SIM
        from maps_spark.operators import text as TX
        from maps_spark.sources.occurrence import spread
        docs = spread(spark, spark.read.parquet(
            f"{SF_DIR}/documents.parquet"))
        emb = spread(spark, spark.read.parquet(
            f"{SF_DIR}/embeddings.parquet"))

        @timed("text_analysis")
        def _9():
            TX.text_features(docs).count()

        @timed("dedup_minhash_lsh")
        def _10():
            DD.minhash_lsh_pairs(docs).count()

        # --- dedup scale curve (VERDICT r9 #5): the LLM-side flagship
        # (minhash LSH + verify) gets the same 1x/4x/8x replicated-
        # scale treatment as the backfill. Each replica rotates a
        # 9-letter alphabet through every token (F.translate): the
        # WITHIN-replica similarity structure is preserved exactly
        # (both sides of any pair transform identically, so shingle
        # Jaccard is unchanged -> same dup rate per replica), while
        # CROSS-replica shingle sets are disjoint (~0 Jaccard) — rows
        # scale Nx, candidate pairs scale Nx, never N^2.
        _DEDUP_ALPHA = "aeiousnrt"

        def _replicate_docs(base, times):
            rep = base
            for i in range(1, times):
                rot = _DEDUP_ALPHA[i:] + _DEDUP_ALPHA[:i]
                rep = rep.unionByName(base.select(
                    (F.col("doc_id") + F.lit(i * 10_000_000))
                    .alias("doc_id"),
                    F.translate("text", _DEDUP_ALPHA, rot)
                    .alias("text")))
            return rep

        @timed("dedup_lsh_4x", n=2)
        def _10x4():
            d = _replicate_docs(docs.select("doc_id", "text"), 4)
            DD.minhash_lsh_pairs(d.localCheckpoint(eager=True)).count()

        @timed("dedup_lsh_8x", n=2)
        def _10x8():
            # with 1x (dedup_minhash_lsh) and 4x above this pins the
            # exponent: wall-per-2x-data should stay <= ~2.0 (the
            # capped-bucket join is linear in candidates)
            d = _replicate_docs(docs.select("doc_id", "text"), 8)
            DD.minhash_lsh_pairs(d.localCheckpoint(eager=True)).count()

        @timed("dedup_lsh_skewed", n=2)
        def _10sk():
            # adversarial hot bucket (VERDICT r9 #6): 30% of docs are
            # byte-identical boilerplate — one shingle set, so ALL 16
            # bands put the same ~1500 docs (at sf0.1) into one
            # bucket, far over max_bucket=1000. cap_buckets must drop
            # those buckets instead of joining them (1500^2/2 x 16
            # candidate rows); wall must track the uniform entry at
            # ~<=1.3x, and the planted-dup recall pytest
            # (test_training_ops) proves true dups OUTSIDE the hot
            # bucket still surface.
            boiler = F.lit(" ".join(f"boiler{j % 97}tok"
                                    for j in range(60)))
            skewed = docs.select(
                "doc_id",
                F.when(F.col("doc_id") % 10 < 3, boiler)
                .otherwise(F.col("text")).alias("text"))
            DD.minhash_lsh_pairs(
                skewed.localCheckpoint(eager=True)).count()

        @timed("dedup_jaccard_prefix")
        def _10pf():
            # the LOSSLESS exact-similarity join (PPJoin-style prefix
            # filtering): same all-pairs answer as brute force, pruned
            # candidate generation — the exact-dedup scale path when
            # the df cap's dropped boilerplate pairs matter
            DD.jaccard_prefix_pairs(docs, threshold=0.25).count()

        @timed("ann_topk")
        def _11():
            SIM.brute_force_topk(emb, emb.limit(16), k=10).count()

        from maps_spark.operators import corpus as CP
        from maps_spark.operators import packing as PK

        @timed("pack_sequences")
        def _12():
            PK.pack_sequences(docs, budget=512).count()

        @timed("lm_score")
        def _13():
            CP.lm_score(docs).count()

        @timed("curate_corpus")
        def _14():
            CP.curate_corpus(docs).count()

        @timed("dedup_winnow_pairs")
        def _10c():
            # MOSS winnowing family: fingerprint selection (codegen
            # window-min) + capped match join
            from maps_spark.operators.text import winnow_pairs
            winnow_pairs(docs).count()

        @timed("dedup_substring_spans")
        def _10b():
            # ExactSubstr L-gram family at corpus scale: gram counts,
            # islands merge, per-doc coverage
            DD.dup_span_stats(docs).count()

        @timed("media_pipeline_e2e")
        def _14a():
            # multimodal flagship: REAL decode (PPM+PNG) -> Arrow
            # feature extract -> feature-space near-dup -> versioned
            # feature store
            import shutil
            import tempfile

            from maps_spark.operators.multimodal import (
                synthesize_png_media, synthesize_ppm_media)
            from maps_spark.plans.media import run_media_curation
            ppm = synthesize_ppm_media(spark, n=256, width=64, height=48)
            png = (synthesize_png_media(spark, n=256, width=64,
                                        height=48)
                   .withColumn("media_id", F.col("media_id") + 1000))
            out = tempfile.mkdtemp(prefix="bench_media_")
            try:
                run_media_curation(spark, ppm.unionByName(png), out)
            finally:
                shutil.rmtree(out, ignore_errors=True)

        @timed("compressed_codecs")
        def _14b():
            # the compressed codecs in one entry: progressive JPEG
            # (multi-scan), IMA ADPCM (step-machine audio), MJPEG/AVI
            # (per-frame video), Adam7 interlaced PNG, GIF (LZW,
            # interlaced) — decode throughput of the media ingest path
            from maps_spark.operators.multimodal import (
                adpcm_stats, gif_channel_sums, gif_frame_sums,
                jpeg_pixel_sums, mjpeg_frame_sums, png_channel_sums,
                synthesize_adpcm_media, synthesize_gif_anim_media,
                synthesize_gif_media, synthesize_jpeg_media,
                synthesize_mjpeg_media, synthesize_png_media)
            jpeg_pixel_sums(synthesize_jpeg_media(
                spark, n=192, progressive=True)).count()
            adpcm_stats(synthesize_adpcm_media(
                spark, n=192, blocks=8)).count()
            mjpeg_frame_sums(synthesize_mjpeg_media(
                spark, n=128, n_frames=6)).count()
            png_channel_sums(synthesize_png_media(
                spark, n=192, interlace=True)).count()
            gif_channel_sums(synthesize_gif_media(
                spark, n=192, interlace=True)).count()
            gif_frame_sums(synthesize_gif_anim_media(
                spark, n=128, n_frames=4)).count()

        @timed("graph_walk_corpus")
        def _14d():
            # graph-embedding corpus generation over the
            # customer<->supplier interaction graph: DeepWalk walks ->
            # skip-gram pairs, plus node2vec second-order walks
            from maps_spark.operators.graph import (node2vec_walks,
                                                    random_walks,
                                                    skipgram_pairs)
            orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
            lineitem = spark.read.parquet(
                f"{SF_DIR}/lineitem.parquet")
            fwd = (orders.join(
                       lineitem,
                       orders["o_orderkey"] == lineitem["l_orderkey"])
                   .select((F.col("o_custkey") * 2).alias("src"),
                           (F.col("l_suppkey") * 2 + 1).alias("dst")))
            edges = fwd.unionByName(
                fwd.select(F.col("dst").alias("src"),
                           F.col("src").alias("dst")))
            skipgram_pairs(random_walks(edges, walk_len=5,
                                        walks_per_node=2),
                           window=2).count()
            node2vec_walks(edges, walk_len=4,
                           walks_per_node=2).count()

        @timed("pair_curation_e2e")
        def _14c():
            # image-TEXT pair curation (contrastive-data prep): real
            # decode -> caption gate -> align -> cross-modal dedup
            import shutil
            import tempfile

            from maps_spark.operators.multimodal import \
                synthesize_ppm_media
            from maps_spark.plans.media import run_pair_curation
            media = synthesize_ppm_media(spark, n=512, width=48,
                                         height=32)
            caps = docs.select(
                F.pmod(F.col("doc_id"), F.lit(512)).alias("doc_id"),
                "text").dropDuplicates(["doc_id"])
            out = tempfile.mkdtemp(prefix="bench_pairs_")
            try:
                run_pair_curation(spark, media, caps, out)
            finally:
                shutil.rmtree(out, ignore_errors=True)

        @timed("classify_route")
        def _14b():
            # the round-4 classifier family as one routing pass:
            # normalize -> NB domain prediction -> per-domain cap.
            # This entry TRAINS per call by design (the one-shot audit
            # shape) — training is ~half its cost (r10 profile:
            # train 3.5-4.9s, score 4.3-5.4s at sf0.1), so it is the
            # bench's most JIT-sensitive entry: isolated cold-JVM
            # floors ~6.1s where a 40-entry-deep sweep lands ~4.8s.
            # The production serving shape (train once into the
            # persisted store, score per batch) is the _pretrained
            # entry below.
            from maps_spark.operators.classify import nb_classify
            from maps_spark.operators.text import normalize_text
            norm = (normalize_text(docs)
                    .select("doc_id",
                            F.col("norm_text").alias("text")))
            scored = nb_classify(norm, docs, label_col="source")
            CP.domain_cap(scored, cap=200,
                          domain_col="pred_label").count()

        import shutil as _cl_sh
        import tempfile as _cl_tf
        _nb_root = _cl_tf.mkdtemp(prefix="bench_nbmodel_") + "/model"
        if not only or "classify_route_pretrained" in only:
            from maps_spark.sources.nb_model import save_nb_model
            save_nb_model(docs, _nb_root, label_col="source")

        @timed("classify_route_pretrained")
        def _14b2():
            # the serving/streaming shape of the same route: the model
            # was trained ONCE into the persisted store (outside the
            # timer, like the tile and ANN stores); the timed body is
            # load + score + cap — what a per-batch scorer actually
            # pays (VERDICT r9 #2's suggested fix for the retrain
            # cost inside classify_route)
            from maps_spark.sources.nb_model import score_with_model
            from maps_spark.operators.text import normalize_text
            norm = (normalize_text(docs)
                    .select("doc_id",
                            F.col("norm_text").alias("text")))
            scored = score_with_model(norm, _nb_root)
            CP.domain_cap(scored, cap=200,
                          domain_col="pred_label").count()

        _cl_sh.rmtree(os.path.dirname(_nb_root), ignore_errors=True)

        from maps_spark.operators import mixture as MX
        from maps_spark.operators import packing as PK2
        from maps_spark.operators.similarity import semantic_dedup

        @timed("semantic_dedup")
        def _15():
            semantic_dedup(emb).count()

        @timed("dsir_select")
        def _16():
            MX.dsir_select(docs, docs.where("lang = 'en'"), 1000).count()

        @timed("mix_sample")
        def _17():
            MX.mix_sample(docs, {f"src{i}": 0.05 for i in range(20)},
                          200_000).count()

        @timed("shard_assign")
        def _18():
            PK2.shard_assign(docs, n_shards=32).count()

        @timed("training_prep_e2e", n=2)
        def _18b():
            # the training-side flagship end-to-end: curate -> mixture
            # -> pack -> sorted shard export + versioned manifest swap
            import shutil
            import tempfile

            from maps_spark.plans.training import run_training_prep
            out = tempfile.mkdtemp(prefix="bench_prep_")
            try:
                run_training_prep(spark, SF_DIR, out, n_shards=32)
            finally:
                shutil.rmtree(out, ignore_errors=True)

        @timed("web_corpus_e2e", n=2)
        def _18w():
            # the raw-web flagship end-to-end: synthesized HTML ->
            # extract -> normalize -> quality ensemble -> bloom
            # decontamination -> exact+near dedup -> pack -> shards
            import shutil
            import tempfile

            from maps_spark.plans.web import run_web_corpus
            bench_docs = docs.where(F.col("doc_id") % 100 < 2) \
                .select("doc_id", "text")
            out = tempfile.mkdtemp(prefix="bench_web_")
            try:
                run_web_corpus(spark, SF_DIR, out, benchmark=bench_docs,
                               n_shards=32)
            finally:
                shutil.rmtree(out, ignore_errors=True)

        @timed("html_extract")
        def _18x():
            # extraction alone (codegen-only): pages/sec proxy at scale
            from maps_spark.operators.html import (extract_main_text,
                                                   synthesize_html)
            (extract_main_text(synthesize_html(docs))
             .agg(F.sum("chars_kept"), F.sum("n_dropped")).collect())

        @timed("quality_signals")
        def _18c():
            # the round-5 signal family end-to-end: stats -> rank-
            # normalized ensemble -> soft-dedup weighted sample
            from maps_spark.operators.dedup import (dedup_clusters,
                                                    minhash_lsh_pairs,
                                                    soft_dedup_weights)
            from maps_spark.operators.mixture import weighted_sample
            from maps_spark.operators.text import (quality_ensemble,
                                                   text_features)
            sigs = (text_features(docs)
                    .join(docs.select("doc_id", "source"), "doc_id")
                    .select("doc_id", "source", "n_tokens",
                            "n_stopwords"))
            quality_ensemble(sigs, {"n_tokens": 600_000,
                                    "n_stopwords": 400_000}).count()
            w = soft_dedup_weights(
                docs, dedup_clusters(minhash_lsh_pairs(docs)))
            weighted_sample(w, rate=0.5).count()

        from maps_spark.operators import sessions as SE
        events = spark.read.parquet(f"{SF_DIR}/events.parquet")

        @timed("sketch_family")
        def _19a():
            # the mergeable-sketch trio over the event stream: CMS
            # build + point estimates, quantile sketch + rank queries,
            # conversion-latency sketch
            from maps_spark.operators.sessions import (
                cms_build, cms_estimate, conversion_latency_sketch,
                sketch_quantiles, value_sketch)
            sk = cms_build(events)
            cms_estimate(sk, events.where(F.col("user_id") < 256)
                         ).count()
            sketch_quantiles(value_sketch(events),
                             [0.5, 0.9, 0.99]).count()
            conversion_latency_sketch(events).count()

        @timed("event_analytics")
        def _19():
            # the event-index query family: funnel + cohort + sketches
            # + attribution + the as-of / range join operators
            SE.funnel_stages(events).count()
            SE.cohort_retention(events).count()
            SE.sketch_union(SE.user_sketches(
                events, by=("event_type",))).count()
            SE.attribute_conversions(events).count()
            ev = events.selectExpr(
                "user_id", "event_id", "event_type",
                f"CAST({SE.TS_US_SPARK} AS LONG) AS tus")
            SE.asof_join(
                ev.where("event_type = 'purchase'")
                .select("user_id", "event_id", "tus"),
                ev.where("event_type = 'click'")
                .select("user_id", "tus"),
            ).count()
            SE.range_join(
                ev.select("user_id", "tus"),
                SE.sessionize_batch(events),
                "tus", "session_start", "session_end",
                on=("user_id",)).count()
        @timed("linkage_and_contamination")
        def _20():
            # round-5 additions: blocked fuzzy record linkage over
            # pseudo-titles + the broadcast bloom decontamination pass
            titles = docs.select(
                "doc_id",
                F.lower(F.substring("text", 1, 40)).alias("title"))
            DD.fuzzy_pairs(titles).count()
            CP.bloom_contamination(
                docs.where(F.col("doc_id") % 25 != 0),
                docs.where(F.col("doc_id") % 25 == 0)).count()

        @timed("kmeans_pq_ann")
        def _21():
            # distributed Lloyd's + PQ/ADC over the embedding corpus;
            # PQ codebooks train on the id-ordered 2048 sample (the
            # production rule — encode still covers every vector)
            SIM.kmeans_assign(emb, k=8, iters=3).count()
            SIM.pq_topk(emb, emb.where(F.col("vec_id") < 16),
                        m=8, n_cent=16, iters=2,
                        train_sample=2048).count()

        # --- ANN scale curve (the one family without one): ivfpq at
        # 16x and 64x replicated embeddings. Each replica jitters
        # every component deterministically (xxhash64 of id/rep/index
        # — no RNG), so vectors are distinct but the cluster geometry
        # is preserved. Train samples stay FIXED (2048) — the
        # production rule — so the curve isolates the per-vector
        # costs: assign + PQ-encode + the n_probe/n_clusters pruned
        # candidate scan, all linear in corpus. wall-per-4x should
        # stay <= ~4 (read 16x vs 64x off the same run).
        def _replicate_emb(times):
            reps = spark.range(times).select(F.col("id").alias("rep"))
            jit = ((F.pmod(F.xxhash64(F.col("vec_id"), F.col("rep"),
                                      F.lit(7)), F.lit(1000))
                    .cast("double") - 500.0) / 10000.0)
            return (emb.select("vec_id", "embedding")
                    .crossJoin(F.broadcast(reps))
                    .select((F.col("vec_id") * times + F.col("rep"))
                            .alias("vec_id"),
                            F.transform(
                                "embedding",
                                lambda x, i: (x + jit * (1.0 + i % 3))
                                .cast("float")).alias("embedding")))

        @timed("ann_ivfpq_16x", n=2)
        def _21s16():
            c = _replicate_emb(16).localCheckpoint(eager=True)
            SIM.ivfpq_topk(c, emb.where(F.col("vec_id") < 16),
                           k_results=10).count()

        @timed("ann_ivfpq_64x", n=2)
        def _21s64():
            c = _replicate_emb(64).localCheckpoint(eager=True)
            SIM.ivfpq_topk(c, emb.where(F.col("vec_id") < 16),
                           k_results=10).count()

        @timed("bm25_search")
        def _21b():
            # lexical retrieval over the corpus: 16 six-word probes
            # against the inverted postings (broadcast query terms)
            from maps_spark.operators.retrieval import (bm25_topk,
                                                        probe_queries)
            bm25_topk(docs, probe_queries(docs, n_queries=16),
                      k=10).count()

        @timed("hybrid_rrf_search")
        def _21bc():
            # hybrid retrieval: BM25 postings probe + exact-cosine
            # dense top-k fused by reciprocal-rank (both lists top-k
            # bounded, so fusion cost is independent of corpus size)
            from maps_spark.operators import similarity as SIM
            from maps_spark.operators.retrieval import (bm25_topk,
                                                        probe_queries,
                                                        rrf_fuse)
            bm = bm25_topk(docs, probe_queries(docs, n_queries=16),
                           k=10)
            an = (SIM.brute_force_topk(
                emb, emb.where(F.col("vec_id") < 16), k=10)
                .withColumnRenamed("neighbor_id", "doc_id"))
            rrf_fuse([bm, an]).count()

        @timed("crawl_frontier")
        def _21c():
            # the crawl-side composite: synthesize pages, extract +
            # resolve + normalize outlinks, anti-join the crawled set,
            # PageRank-score domains, politeness-cap and shard
            from maps_spark.operators.html import (frontier_candidates,
                                                   frontier_shards,
                                                   release_transients,
                                                   synthesize_html)
            frontier_shards(
                frontier_candidates(synthesize_html(docs))).count()
            release_transients()

        @timed("crawl_frontier_8x", n=2)
        def _21c8():
            # extraction-side linearity scale point (VERDICT r6 #5):
            # the same composite over 8x id-shifted page replicas —
            # pins pages/sec linearity the way backfill_z10_8x pins
            # the pyramid. (The 8 replicas share link targets modulo
            # the shift, so the graph also grows 8x.)
            from maps_spark.operators.html import (frontier_candidates,
                                                   frontier_shards,
                                                   release_transients,
                                                   synthesize_html)
            reps = spark.range(8).select(F.col("id").alias("rep"))
            docs8 = (docs.crossJoin(F.broadcast(reps))
                     .select((F.col("doc_id") * 8 + F.col("rep"))
                             .alias("doc_id"),
                             "text", "source", "lang"))
            frontier_shards(
                frontier_candidates(synthesize_html(docs8))).count()
            release_transients()

        @timed("crawl_loop_2hops", n=2)
        def _21d():
            # the CLOSED loop at data scale (VERDICT r6 #1): seed a
            # third of the corpus -> streaming ingest -> scheduling
            # round (cold PageRank) -> synthetic fetch of every
            # planned URL -> ingest the fetched pages -> second round
            # (warm-started PageRank over the grown store)
            import shutil
            import tempfile

            from maps_spark.operators.html import (norm_url_sql,
                                                   synthesize_html)
            from maps_spark.plans.crawl import (read_fetch_plan,
                                                run_crawl_round)
            from maps_spark.streaming.frontier import \
                run_frontier_ingest
            base = tempfile.mkdtemp(prefix="bench_crawl_loop_")
            land, store = f"{base}/land", f"{base}/store"
            plans = f"{base}/plans"
            try:
                pages = (synthesize_html(docs)
                         .select("doc_id", "source", "html"))
                (pages.where(F.col("doc_id") % 3 == 0).coalesce(4)
                 .write.parquet(land))
                q = run_frontier_ingest(spark, land, store,
                                        max_files_per_trigger=4)
                q.awaitTermination(600)
                run_crawl_round(spark, store, plans,
                                per_host_cap=100_000, n_shards=8)
                plan = read_fetch_plan(spark, plans)
                hit = (pages.withColumn(
                    "u", F.concat(F.lit("http://"), F.col("source"),
                                  F.lit("/doc/"),
                                  F.col("doc_id").cast("string")))
                    .withColumn("norm_href", F.expr(norm_url_sql("u"))))
                (hit.join(plan.select("norm_href"), "norm_href")
                 .select("doc_id", "source", "html").coalesce(4)
                 .write.mode("append").parquet(land))
                q2 = run_frontier_ingest(spark, land, store,
                                         max_files_per_trigger=4)
                q2.awaitTermination(600)
                run_crawl_round(spark, store, plans,
                                per_host_cap=100_000, n_shards=8)
            finally:
                shutil.rmtree(base, ignore_errors=True)

        @timed("crawl_loop_protocol", n=2)
        def _21e():
            # the r8 FULL-protocol round: same store shape as
            # crawl_loop_2hops' first hop, but the scheduling round
            # consumes every protocol input — robots bodies (RFC
            # 9309 + crawl delay), sitemaps (+ recrawl ledger),
            # redirects and a fetch log — measuring what the protocol
            # layer adds per round on top of the bare loop
            import shutil
            import tempfile

            from maps_spark.operators.crawl import (
                synthesize_fetch_dates, synthesize_fetch_log,
                synthesize_robots_txt, synthesize_sitemaps)
            from maps_spark.operators.html import synthesize_html
            from maps_spark.plans.crawl import run_crawl_round
            from maps_spark.streaming.frontier import \
                run_frontier_ingest
            base = tempfile.mkdtemp(prefix="bench_crawl_proto_")
            land, store = f"{base}/land", f"{base}/store"
            try:
                pages = (synthesize_html(docs)
                         .select("doc_id", "source", "html"))
                (pages.where(F.col("doc_id") % 3 == 0).coalesce(4)
                 .write.parquet(land))
                q = run_frontier_ingest(spark, land, store,
                                        max_files_per_trigger=4)
                q.awaitTermination(600)
                seeded = docs.where(F.col("doc_id") % 3 == 0)
                redirects = (seeded.select(
                    F.concat(F.lit("http://"), F.col("source"),
                             F.lit("/doc/"),
                             F.col("doc_id").cast("string"))
                    .alias("src_url"))
                    .withColumn("dst_url",
                                F.concat("src_url", F.lit("/r"))))
                run_crawl_round(
                    spark, store, f"{base}/plans",
                    per_host_cap=100_000, n_shards=8,
                    robots_bodies=synthesize_robots_txt(seeded),
                    sitemaps=synthesize_sitemaps(seeded),
                    fetched=synthesize_fetch_dates(seeded),
                    redirects=redirects,
                    fetch_log=synthesize_fetch_log(seeded))
            finally:
                shutil.rmtree(base, ignore_errors=True)

        @timed("session_path_analysis")
        def _22():
            SE.event_transitions(events).count()
            SE.session_paths(events).count()

        @timed("spatial_keys")
        def _23():
            from maps_spark.functions.spatial import (add_geohash,
                                                      add_morton_key)
            add_morton_key(occ, z=12).groupBy("zkey").count().count()
            add_geohash(occ, precision=5).groupBy("gh").count().count()

        @timed("media_dhash_pairs")
        def _24():
            from maps_spark.operators.multimodal import (
                dhash_near_pairs, image_dhash, synthesize_ppm_media)
            h = image_dhash(synthesize_ppm_media(spark, n=512,
                                                 partitions=CPUS))
            dhash_near_pairs(h).count()

        # --- streaming maintenance: the O(batch) claim, measured ---
        # (VERDICT r5 #4). Each run replays a FIXED 4-micro-batch
        # backlog into a fresh store via availableNow; divide the
        # entry by 4 for s/batch. The refresh landing zone is the full
        # events table in 16 files (maxFilesPerTrigger=4 -> 4
        # batches); dedup takes documents in 4 files at 1 file/batch.
        # Both are overhead-dominated: sf0.01->sf0.1 is 10x rows per
        # batch for ~2x wall per batch, which is the O(batch) story.
        import shutil as _sh
        import tempfile as _tf

        refresh_land = _tf.mkdtemp(prefix="bench_refresh_land_")
        dedup_land = _tf.mkdtemp(prefix="bench_dedup_land_")
        dedup_land8 = _tf.mkdtemp(prefix="bench_dedup_land8_")
        dedup_land16 = _tf.mkdtemp(prefix="bench_dedup_land16_")
        try:
            (spark.read.parquet(f"{SF_DIR}/events.parquet")
             .repartition(16)
             .write.mode("overwrite").parquet(refresh_land))
            (docs.select("doc_id", "text").repartition(4)
             .write.mode("overwrite").parquet(dedup_land))

            @timed("streaming_refresh_4batches", n=2)
            def _25():
                from maps_spark.streaming.refresh import run_refresh
                store = _tf.mkdtemp(prefix="bench_refresh_") + "/pixels"
                try:
                    q = run_refresh(spark, refresh_land,
                                    f"{SF_DIR}/nation.parquet", store,
                                    srs="EPSG:3857", zoom=8)
                    q.awaitTermination(600)
                    record_batches("streaming_refresh_4batches", q)
                finally:
                    _sh.rmtree(os.path.dirname(store),
                               ignore_errors=True)

            @timed("streaming_refresh_append_4batches", n=2)
            def _25a():
                # the LSM variant: O(delta) appends, merge-on-read —
                # batch_secs should stay FLAT where the merge-mode
                # entry above grows with the store rewrite
                from maps_spark.streaming.refresh import run_refresh
                store = _tf.mkdtemp(prefix="bench_refrapp_") + "/pixels"
                try:
                    q = run_refresh(spark, refresh_land,
                                    f"{SF_DIR}/nation.parquet", store,
                                    srs="EPSG:3857", zoom=8,
                                    pixel_mode="append")
                    q.awaitTermination(600)
                    record_batches("streaming_refresh_append_4batches",
                                   q)
                finally:
                    _sh.rmtree(os.path.dirname(store),
                               ignore_errors=True)

            @timed("streaming_dedup_4batches", n=2)
            def _26():
                from maps_spark.streaming.dedup import \
                    run_incremental_dedup
                store = _tf.mkdtemp(prefix="bench_dedup_") + "/store"
                try:
                    q = run_incremental_dedup(spark, dedup_land, store,
                                              max_files_per_trigger=1)
                    q.awaitTermination(600)
                    record_batches("streaming_dedup_4batches", q)
                finally:
                    _sh.rmtree(os.path.dirname(store),
                               ignore_errors=True)

            # the pinned batch-growth curve (VERDICT r7 #2): 8 batches
            # with compact-every-4 cadence. Attribution (measured,
            # segment_profile): sig and append are FLAT; probe_verify
            # carries two growth terms — the per-batch FILE-set
            # accumulation, which the start-of-trigger fold removes
            # (the post-compaction batch measures the drop), and the
            # structural O(accepted rows) merge-on-read scan, which
            # stays (a batch larger than the 16x64 sub-bucket fan-out
            # touches the whole band store; ~0.2 ms per stored doc
            # per batch at sf0.1, verify join bounded by bucket
            # caps). Compaction runs at the START of every 4th
            # trigger (after the prior marker committed — crash-safe)
            # so its cost lands inside that trigger's duration.
            if not only or "streaming_dedup_8batches_c4" in only:
                (docs.select("doc_id", "text").repartition(8)
                 .write.mode("overwrite").parquet(dedup_land8))

            @timed("streaming_dedup_8batches_c4", n=1)
            def _26a():
                from maps_spark.streaming.dedup import \
                    run_incremental_dedup
                store = _tf.mkdtemp(prefix="bench_dedup8_") + "/store"
                prof = []
                try:
                    q = run_incremental_dedup(spark, dedup_land8, store,
                                              max_files_per_trigger=1,
                                              compact_every=4,
                                              profile=prof)
                    q.awaitTermination(900)
                    record_batches("streaming_dedup_8batches_c4", q)
                    profile_lists.setdefault(
                        "streaming_dedup_8batches_c4", []).append(prof)
                finally:
                    # the landing dir is cleaned by the OUTER finally:
                    # deleting it here broke repeat runs
                    # (SPARK_GRAFT_BENCH_RUNS >= 2 read a dir the
                    # first run had removed)
                    _sh.rmtree(os.path.dirname(store),
                               ignore_errors=True)

            # the LSM write-cost curve: 16 batches with compact-every-2
            # is SEVEN compactions over a store that grows every fold.
            # The pre-r10 design rewrote the whole band L1 per fold
            # (O(store): per-fold cost grows linearly with fold index,
            # quadratic lifetime writes); the size-tiered segment fold
            # is O(delta) with occasional tier merges, so the
            # per-compaction marker rows in segment_profile ("compact")
            # must stay FLAT apart from the bounded merge spikes.
            if not only or "streaming_dedup_16batches_c2" in only:
                (docs.select("doc_id", "text")
                 .where(F.col("doc_id") % 5 < 2).repartition(16)
                 .write.mode("overwrite").parquet(dedup_land16))

            @timed("streaming_dedup_16batches_c2", n=1)
            def _26b():
                from maps_spark.streaming.dedup import \
                    run_incremental_dedup
                store = _tf.mkdtemp(prefix="bench_dedup16_") + "/store"
                prof = []
                try:
                    q = run_incremental_dedup(spark, dedup_land16,
                                              store,
                                              max_files_per_trigger=1,
                                              compact_every=2,
                                              profile=prof)
                    q.awaitTermination(900)
                    record_batches("streaming_dedup_16batches_c2", q)
                    profile_lists.setdefault(
                        "streaming_dedup_16batches_c2", []).append(prof)
                finally:
                    # see streaming_dedup_8batches_c4: outer finally
                    # owns the landing dir so repeat runs work
                    _sh.rmtree(os.path.dirname(store),
                               ignore_errors=True)

            @timed("streaming_dedup_small_batches", n=1)
            def _26c():
                # the O(touched-buckets) claim for SMALL batches (the
                # incremental-curation resubmit path), measured: one
                # big seed batch builds the store, then four ~190-doc
                # batches probe it — their probe_verify should sit far
                # below the seed batch's, because a small batch
                # touches few (band, bb) sub-buckets and the pruned
                # L1 read opens only those directories plus the
                # bounded L0. batch_secs + segment_profile recorded.
                from maps_spark.streaming.dedup import \
                    run_incremental_dedup
                land = _tf.mkdtemp(prefix="bench_dedupsm_land_")
                store = _tf.mkdtemp(prefix="bench_dedupsm_") + "/store"
                prof = []
                try:
                    d = docs.select("doc_id", "text")
                    (d.where(F.col("doc_id") % 100 >= 4).coalesce(1)
                     .write.mode("append").parquet(land))
                    import time as _time
                    for k in range(4):  # sequential: pin mtime order
                        _time.sleep(0.05)
                        (d.where(F.col("doc_id") % 100 == k)
                         .coalesce(1).write.mode("append")
                         .parquet(land))
                    q = run_incremental_dedup(
                        spark, land, store, max_files_per_trigger=1,
                        profile=prof)
                    q.awaitTermination(900)
                    record_batches("streaming_dedup_small_batches", q)
                    profile_lists.setdefault(
                        "streaming_dedup_small_batches", []).append(prof)
                finally:
                    _sh.rmtree(os.path.dirname(store),
                               ignore_errors=True)
                    _sh.rmtree(land, ignore_errors=True)
        finally:
            _sh.rmtree(refresh_land, ignore_errors=True)
            _sh.rmtree(dedup_land, ignore_errors=True)
            _sh.rmtree(dedup_land8, ignore_errors=True)
            _sh.rmtree(dedup_land16, ignore_errors=True)
    except ImportError:
        pass

    checkpoint()
    # Parse-proof payload contract (VERDICT r10: seven rounds of
    # driver-side bench captures failed to parse): stop Spark FIRST so
    # no JVM shutdown chatter can land after the payload, then emit
    # the one-line JSON as the final stdout line, flushed. The durable
    # file copy (checkpoint/SPARK_GRAFT_BENCH_OUT) was written above.
    spark.stop()
    sys.stdout.flush()
    # leading newline: even if a non-newline-terminated stderr
    # fragment merged into the same combined capture, the payload
    # still starts at column 0 of its own line
    print("\n" + json.dumps(payload()), flush=True)


if __name__ == "__main__":
    run()
