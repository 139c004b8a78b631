"""The backfill driver: full map build, end to end.

Mirrors the reference workflow (Backfill.java:39-66 ->
MapBuilder.run:118-177 -> Prepare/FinaliseBackfill) as one Spark app:

1. snapshot: the persisted, base-filtered occurrence snapshot of
   ``sources.occurrence`` and its persisted map-key fan-out, each
   filled once by the first action (MapBuilder.java:184-199's staged
   table — defeats lazy re-read across the many downstream branches);
   ``snapshot="staged"`` stages it as Parquet instead.
2. split views at the threshold (broadcast join, no driver collect).
3. point bundles for small views; tile pyramids per projection for
   large views.
4. write the partitioned/sorted Parquet tile index + manifest, then
   atomically swap the manifest pointer (FinaliseBackfill semantics).

Cluster sizing notes (BASELINE.md parity): the reference runs 70x8
cores with shuffle width 2000 for 2.5 B rows; this driver exposes
``shuffle_partitions`` and ``max_zoom`` so a deployment scales the same
two knobs. Stage boundaries are explicit materializations, mirroring
the reference's staged Parquet tables.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession

from maps_spark.operators import pyramid as PY
from maps_spark.sources import tile_store
from maps_spark.sources.occurrence import occurrence_df


def run_backfill(spark: SparkSession, sf_dir: str, out_root: str,
                 srs_list: tuple[str, ...] = ("EPSG:3857", "EPSG:4326",
                                              "EPSG:3575", "EPSG:3031"),
                 max_zoom: int = 8, threshold: int = PY.DEFAULT_THRESHOLD,
                 snapshot: bool | str = True, versioned: bool = True,
                 keep_builds: int = 2, parallel_srs: bool = False,
                 skew_report: bool = True,
                 expectations: dict | None = None) -> dict:
    """Build the full tile index + point bundles. Returns manifest.

    ``versioned`` writes into ``out_root/builds/<ts>/`` and atomically
    repoints the manifest on success (readers never see a half-written
    build), keeping the newest ``keep_builds`` for rollback — the
    Prepare/FinaliseBackfill lifecycle.

    ``snapshot`` picks the materialization-barrier mode:

    - ``True`` (local default): build from the source snapshot that
      ``occurrence_df`` returns (persisted ``MEMORY_AND_DISK``, shared
      with every other caller of the same input in this SparkContext;
      a warm snapshot is not re-read) and its persisted map-key
      fan-out. Fast, but non-reliable — cached blocks die with their
      executor and are recomputed from the source.
    - ``"staged"`` (cluster mode): write the snapshot AND every span
      parent as Parquet staged tables under ``<build>/staging/`` and
      read them back — the reference's MapBuilder.java:184-199 /
      TileMapBuilder.java:164-169 semantics. Reliable storage: an
      executor loss recomputes from the staged table instead of
      killing the job. The staging tree is dropped on finalise.

    ``expectations`` is an optional promotion contract
    (:func:`operators.expectations.evaluate_contract` shape) run on
    the input snapshot BEFORE any build work: when a non-waived rule
    fails, the build aborts with no writes and no manifest swap —
    the prior build stays active — and the rejection report is
    returned as ``{"promoted": False, "expectations": ...}``. On
    success the report is recorded in the promoted manifest.
    """
    if snapshot not in (True, "staged"):
        raise ValueError(f"snapshot must be True or 'staged': {snapshot!r}")
    t0 = time.time()
    build_id = tile_store.build_id() if versioned else None
    out_dir = f"{out_root}/builds/{build_id}" if versioned else out_root
    staged = snapshot == "staged"
    staging_root = f"{out_dir}/staging" if staged else None

    occ = occurrence_df(spark, sf_dir)
    gate = None
    if expectations is not None:
        from maps_spark.operators.expectations import promotion_gate
        try:
            prior = tile_store.read_manifest(out_root)
        except (FileNotFoundError, ValueError):
            prior = None
        gate = promotion_gate(occ, expectations, prior)
        if not gate["ok"]:
            return {"stage": "backfill", "promoted": False,
                    "rejected_build_id": build_id,
                    "expectations": gate["expectations"],
                    "drift": gate["drift"]}
    if staged:
        # reliable barrier: staged Parquet table, read back with a
        # fresh lineage rooted at replicated storage
        occ.write.mode("overwrite").parquet(f"{staging_root}/snapshot")
        occ = spark.read.parquet(f"{staging_root}/snapshot")
    # on the source snapshot the fan-out is persisted too: one pass
    # feeds ~40 downstream stages (4 projections x zooms + points +
    # stats)
    keyed = PY.keyed_occurrence(occ)
    large, small = PY.split_views(keyed, threshold)

    hot: list[dict] = []
    if skew_report:
        # pre-flight skew report (hot_keys operator): the top view
        # keys and their share of exploded rows, recorded in the
        # manifest so an operator sees WHICH keys dominate the
        # pyramid shuffles before the build runs. One map-side-
        # combined count over the materialized snapshot — the count
        # collapses per-key before the shuffle, so the report itself
        # is skew-immune. ("0:0" leading at ~1/views-per-row share is
        # the expected shape; a single taxon/dataset view rivaling it
        # is the anomaly the report exists to surface.)
        from maps_spark.operators.adhoc import hot_keys
        hot = [r.asDict() for r in hot_keys(keyed, ["mapKey"],
                                            k=5).collect()]

    points = PY.point_blobs(small)
    # stale-sibling guard: each projection overwrites only its own
    # tiles/srs=<v> subtree, so an unversioned rerun into the same root
    # with a smaller srs_list would otherwise keep serving the previous
    # build's other projections
    if not versioned:
        tile_store.drop_stale_srs(out_dir, srs_list)

    def _one(srs: str) -> tuple[str, float]:
        t = time.time()
        # polar clip (F2, TileMapBuilder.java:68-69) is inside the
        # projection's plottable mask — no extra filter needed
        sdir = (f"{staging_root}/{srs.replace(':', '_')}"
                if staged else None)
        tiles = PY.build_pyramid(large, srs, max_zoom, stage_dir=sdir)
        tile_store.write_tiles(tiles, out_dir, srs)
        PY.unpersist_pyramid(tiles)  # release span-parent cache
        return srs, round(time.time() - t, 2)

    if parallel_srs:
        # the projections are independent DAGs over the shared
        # snapshot; overlapping them fills scheduler troughs (shuffle
        # barriers, driver-side coordination) that a sequential loop
        # leaves idle. Safe because each SRS writes its own disjoint
        # subtree — no shared _temporary directory.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(srs_list) + 1) as ex:
            pts = ex.submit(tile_store.write_points, points, out_dir)
            stats = dict(ex.map(_one, srs_list))
            pts.result()
    else:
        tile_store.write_points(points, out_dir)
        stats = dict(map(_one, srs_list))

    if staged:
        # staged tables have served their barrier role once the tile
        # index + points are written; drop before the manifest swap so
        # finalised builds never carry staging weight
        import shutil
        shutil.rmtree(staging_root, ignore_errors=True)

    manifest = {
        "sf_dir": sf_dir, "max_zoom": max_zoom, "threshold": threshold,
        "srs": list(srs_list), "build_sec": round(time.time() - t0, 2),
        "stage_sec": stats, "snapshot_mode": snapshot,
        "hot_keys": hot,
    }
    if gate is not None:
        manifest["expectations"] = gate["expectations"]
        if gate["profile"] is not None:
            manifest["profile"] = gate["profile"]
        if gate["drift"] is not None:
            manifest["drift"] = gate["drift"]
    return tile_store.finalise_build(out_root, build_id, manifest,
                                     keep=keep_builds)


def audit_build(spark: SparkSession, root: str,
                previous_root: str | None = None,
                max_diff_rows: int = 50) -> dict:
    """Post-build ops audit — the one call to run after every
    backfill, composing the round-5 canaries into a JSON-able report:

    - **conservation**: :func:`tile_store.pyramid_invariant` (every
      view must show ONE distinct cross-zoom visible total) and
      :func:`tile_store.points_invariant` totals; any view with
      ``n_distinct_totals > 1`` is listed as a violation.
    - **churn** (with ``previous_root``): :func:`tile_store.tile_diff`
      change counts by kind + a bounded sample — the canary to eyeball
      before repointing serving at the new build.

    Everything driver-side here is a tiny aggregate or a bounded
    sample; the heavy work (tile decode, digest join) is the audited
    distributed operators themselves.
    """
    import pyspark.sql.functions as F
    from pyspark.errors import AnalysisException

    try:
        inv = tile_store.pyramid_invariant(spark, root)
        bad = (inv.where(F.col("n_distinct_totals") > 1)
               .select("srs", "mapKey", "n_distinct_totals")
               .limit(max_diff_rows).collect())
        tile_totals = inv.agg(
            F.count("*").alias("views"),
            F.sum("total").alias("occurrences")).collect()[0]
        tiles = {"views": int(tile_totals["views"] or 0),
                 "occurrences": int(tile_totals["occurrences"] or 0)}
    except AnalysisException:
        # ONLY the missing-path case (every view under threshold ->
        # no tiles/ directory at all); a decode failure inside the
        # canary must PROPAGATE — swallowing it would report ok=True
        # on exactly the corruption the audit exists to surface
        bad, tiles = [], {"views": 0, "occurrences": 0}
    try:
        pts = tile_store.points_invariant(spark, root).agg(
            F.count("*").alias("views"),
            F.sum("total").alias("occurrences")).collect()[0]
        points = {"views": int(pts["views"] or 0),
                  "occurrences": int(pts["occurrences"] or 0)}
    except AnalysisException:  # no small views -> empty points store
        points = {"views": 0, "occurrences": 0}
    report = {
        "root": root,
        "conservation_violations": [r.asDict() for r in bad],
        "tile_views": tiles["views"],
        "tile_occurrences": tiles["occurrences"],
        "point_store": points,
        "ok": not bad,
    }
    if previous_root is not None:
        try:
            diff = tile_store.tile_diff(spark, previous_root, root)
            by_kind = {r["change"]: int(r["n"]) for r in
                       diff.groupBy("change")
                       .agg(F.count("*").alias("n")).collect()}
            report["churn"] = {
                "added": by_kind.get("added", 0),
                "removed": by_kind.get("removed", 0),
                "changed": by_kind.get("changed", 0),
                "sample": [r.asDict() for r in
                           diff.limit(max_diff_rows).collect()],
            }
        except AnalysisException:  # one side has no tile store at all
            report["churn"] = None
    return report
