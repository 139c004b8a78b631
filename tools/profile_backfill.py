"""Per-phase wall-clock attribution for the replicated backfill entry
(the straggler audit of VERDICT r10 #8).

Replays the exact ``backfill_z10_16x`` bench body (shifted replicas ->
localCheckpoint -> keyed -> split -> point blobs -> per-span pyramid
levels -> tile encode/write) with one timer per phase, so the 8c/32c
scaling ratio can be attributed to a NAMED phase instead of the whole
entry. Run twice::

    SPARK_GRAFT_CPUS=32 python tools/profile_backfill.py 16
    SPARK_GRAFT_CPUS=8  python tools/profile_backfill.py 16

and compare the per-phase lines.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def main() -> None:
    times = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    import pyspark.sql.functions as F

    from maps_spark.operators import pyramid as PY
    from maps_spark.session import get_spark
    from maps_spark.sources import tile_store
    from maps_spark.sources.occurrence import occurrence_df

    spark = get_spark("profile-backfill", cpus=cpus,
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    occ = occurrence_df(spark, sf_dir)
    rep = occ
    for i in range(1, times):
        rep = rep.unionByName(occ.withColumns({
            "decimalLongitude": F.pmod(
                F.col("decimalLongitude") + F.lit(180.0 + i * 0.013),
                F.lit(360.0)) - 180.0,
            "decimalLatitude": F.greatest(F.lit(-84.9), F.least(
                F.lit(84.9), F.col("decimalLatitude") + i * 0.0071)),
        }))

    out = tempfile.mkdtemp(prefix="prof_bf_")
    phases: dict[str, float] = {}
    t_all = time.time()

    def mark(name: str, t0: float) -> None:
        phases[name] = round(time.time() - t0, 2)
        print(f"  {name:28s} {phases[name]:8.2f}s", flush=True)

    try:
        t = time.time()
        snap = rep.localCheckpoint(eager=True)
        mark("snapshot_localCheckpoint", t)

        t = time.time()
        keyed = PY.keyed_occurrence(snap)
        large, small = PY.split_views(keyed, 10_000)
        tile_store.write_points(PY.point_blobs(small), out)
        mark("split_and_point_blobs", t)

        # per-span-level walls: drive the same generator build_pyramid
        # uses, forcing each (lazy, persisted) level with a noop sink —
        # each span's wall is its repartition + Arrow span agg; later
        # spans read the previous level from the persist cache, exactly
        # like the real pipeline's first action would.
        persisted: list = []
        t = time.time()
        for z_top, k, lv in PY.pyramid_span_parents(
                large, "EPSG:3857", 10, persisted_out=persisted):
            lv.write.format("noop").mode("overwrite").save()
            mark(f"span_z{z_top}_k{k}", t)
            t = time.time()
        for lv in persisted:
            try:
                lv.unpersist()
            except Exception:
                pass
        spark.catalog.clearCache()

        # full entry (fresh lineage): spans + tile explode + MVT encode
        # + store write; encode+write ~= this minus the span sum above
        t = time.time()
        tiles = PY.build_pyramid(large, "EPSG:3857", 10)
        tile_store.write_tiles(tiles, out, "EPSG:3857")
        mark("build_pyramid_and_write", t)
        PY.unpersist_pyramid(tiles)
    finally:
        shutil.rmtree(out, ignore_errors=True)

    total = round(time.time() - t_all, 2)
    print(json.dumps({"cpus": cpus, "times": times, "total": total,
                      "phases": phases}))


if __name__ == "__main__":
    main()
