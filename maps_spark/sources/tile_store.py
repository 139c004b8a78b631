"""Tile index storage: the Spark-native replacement for HBase.

The reference bulk-loads salted HFiles into HBase and point-gets rows at
serve time (TileMapBuilder.java:236-252, HBaseMaps.java:149-186). The
idiomatic Spark equivalent is a Parquet table:

- partitioned by ``(srs, z)`` — a tile lookup prunes to one directory;
- sorted within files by ``(mapKey, x, y)`` — Parquet row-group min/max
  stats turn a mapKey lookup into a near-point read;
- repartitioned by mapKey hash before the sorted write, which plays the
  role of the reference's salt-prefix partitioner (uniform file sizes,
  no hot region) without needing byte-parity salts.

A ``manifest.json`` under the root records generation timestamps per
build, standing in for the ZooKeeper metastore (MapTables.java:37-47):
readers resolve the active build through it, and a finished build swaps
the pointer atomically (FinaliseBackfill.java:65-135 semantics).
"""

from __future__ import annotations

import json
import os
import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from maps_spark.sources import commit


DEFAULT_CHECKLIST_DIR = "__default__"


def _checklist_expr() -> F.Column:
    """Partition-routing column: taxon keys of NON-default checklists
    (``1:<checklist>|<taxon>``) get their own ``checklist=`` subtree;
    everything else — default-checklist taxa and all other map types —
    shares the hot default partition. The physical split is
    HBaseMaps.java:149-186's per-checklist table routing: cold
    checklists stop sharing the hot table's files, and a lookup prunes
    to its own subtree."""
    from maps_spark.plans.params import DEFAULT_CHECKLIST
    cl = F.regexp_extract(F.col("mapKey").cast("string"),
                          r"^1:([^|]+)\|", 1)
    return (F.when((cl != "") & (cl != DEFAULT_CHECKLIST), cl)
            .otherwise(F.lit(DEFAULT_CHECKLIST_DIR)))


def _checklist_of(map_key: str) -> str:
    """Python twin of :func:`_checklist_expr` for point lookups."""
    from maps_spark.plans.params import DEFAULT_CHECKLIST, checklist_key
    cl = checklist_key(map_key)
    return (cl if cl and cl != DEFAULT_CHECKLIST
            else DEFAULT_CHECKLIST_DIR)


def _escape_partition(value: str) -> str:
    """Hive/Spark partition-directory escaping for a partition VALUE
    (ExternalCatalogUtils.escapePathName semantics for the chars our
    SRS names use: ':' -> '%3A')."""
    from urllib.parse import quote
    return quote(value, safe="")


def write_tiles(tiles: DataFrame, root: str, srs: str,
                files_per_z: int = 1,
                partitions: int | None = None) -> None:
    """Write ONE projection's (srs, mapKey, z, x, y, tile) rows as its
    ``tiles/srs=<srs>/`` subtree of the partitioned tile index,
    overwriting only that subtree.

    Scale shape: the shuffle key is ``(checklist, z, bucket)`` with
    ``bucket = hash(mapKey) mod files_per_z`` — every (checklist, z)
    directory is written by its own task(s) in parallel and receives
    ~``files_per_z`` sorted files. (A plain ``repartition(1, ...)``
    would funnel the ENTIRE index through one task — fine at sf0.1, a
    serialization wall for a z16 pyramid.) Files stay sorted by
    ``(mapKey, x, y)`` so row-group min/max stats keep point reads
    near-O(1); ``files_per_z`` is the salt-prefix-partitioner knob
    (SaltPrefixPartitioner.java:21-37) for hot builds. Non-default
    checklists route to their own ``checklist=`` subtrees
    (HBaseMaps.java:149-186).

    Each SRS owns a disjoint output directory (its own ``_temporary``
    staging), so projections can be written one after another or
    CONCURRENTLY (:func:`maps_spark.plans.backfill.run_backfill`'s
    ``parallel_srs``); partition discovery infers ``srs`` back from the
    directory name on read. Siblings of a previous build are not
    touched — see :func:`drop_stale_srs`.
    """
    spark = tiles.sparkSession
    n_parts = partitions or spark.sparkContext.defaultParallelism * 2
    bucket = F.pmod(F.hash("mapKey"), F.lit(files_per_z))
    stored = srs.replace(":", "_")  # the pyramid's stored srs literal
    sub = f"{root}/tiles/srs={_escape_partition(stored)}"
    (tiles.where(F.col("srs") == stored).drop("srs")
     .withColumn("checklist", _checklist_expr())
     .withColumn("__bucket", bucket)
     .repartition(n_parts, "checklist", "z", "__bucket")
     .sortWithinPartitions("checklist", "z", "__bucket", "mapKey",
                           "x", "y")
     .drop("__bucket")
     .write.partitionBy("checklist", "z").mode("overwrite").parquet(sub))


def drop_stale_srs(root: str, srs_list: tuple[str, ...] | list[str]) -> None:
    """Delete ``tiles/srs=<v>`` subtrees NOT in ``srs_list``.

    Per-SRS writes only overwrite their own subtree, so an unversioned
    rerun into the same root with a different srs_list would otherwise
    leave a prior build's sibling projections live on read-back."""
    import shutil
    tiles_dir = f"{root}/tiles"
    if not os.path.isdir(tiles_dir):
        return
    keep = {f"srs={_escape_partition(s.replace(':', '_'))}"
            for s in srs_list}
    for name in os.listdir(tiles_dir):
        if name.startswith("srs=") and name not in keep:
            shutil.rmtree(f"{tiles_dir}/{name}", ignore_errors=True)


def write_points(points: DataFrame, root: str, mode: str = "overwrite",
                 num_files: int = 1) -> None:
    """Write (mapKey, features) point bundles."""
    (points.repartition(num_files, "mapKey").sortWithinPartitions("mapKey")
     .write.mode(mode).parquet(f"{root}/points"))


def build_id(now: float | None = None) -> str:
    """Millisecond-resolved lexicographically-sortable build id,
    shared by EVERY versioned plan driver (backfill/media/training/
    web/crawl). Derived from UTC (gmtime), never localtime: local
    time repeats an hour at a DST fall-back, and a build id from the
    repeated hour would sort BEFORE already-written builds, breaking
    :func:`finalise_build`'s keep-N rotation (the newest build would
    be rotated away) and :func:`list_builds`' oldest-first ordering.
    ``now`` (epoch seconds) is injectable for tests."""
    t = time.time() if now is None else now
    return (time.strftime("%Y%m%d_%H%M%S", time.gmtime(t))
            + f"_{int(t * 1000) % 1000:03d}")


def write_manifest(root: str, meta: dict | None = None) -> None:
    """Atomically publish ``root/manifest.json`` (``meta`` plus fresh
    ``generated``/``generated_unix`` stamps) through
    :func:`maps_spark.sources.commit.write_json`."""
    commit.write_json(f"{root}/manifest.json", {
        **(meta or {}),
        "generated": time.strftime("%Y%m%d_%H%M", time.gmtime()),
        "generated_unix": int(time.time())})


def read_manifest(root: str) -> dict:
    with open(f"{root}/manifest.json") as f:
        return json.load(f)


def resolve_root(root: str) -> str:
    """Active data directory: versioned builds resolve through the
    manifest pointer (the ZK-metastore read, MapTables.java:105+);
    unversioned layouts are their own root."""
    try:
        build_id = read_manifest(root).get("build_id")
    except FileNotFoundError:
        build_id = None
    return f"{root}/builds/{build_id}" if build_id else root


def finalise_build(root: str, build_id: str | None,
                   meta: dict | None = None, keep: int = 2) -> dict:
    """FinaliseBackfill semantics (FinaliseBackfill.java:65-135,157-199):
    atomically repoint the manifest at the finished build, then drop all
    but the newest ``keep`` builds (lexicographic timestamp ids) — the
    manifest swap is the build's one commit point (see
    :mod:`maps_spark.sources.commit`). ``build_id=None`` finalises an
    unversioned layout: the manifest alone, no pointer, no rotation.
    Returns the published manifest."""
    import shutil
    write_manifest(root, meta if build_id is None
                   else {"build_id": build_id, **(meta or {})})
    builds_dir = f"{root}/builds"
    if build_id is not None and os.path.isdir(builds_dir):
        builds = sorted(os.listdir(builds_dir))
        for old in builds[:-keep] if keep else builds:
            if old != build_id:
                shutil.rmtree(f"{builds_dir}/{old}", ignore_errors=True)
    return read_manifest(root)


def list_builds(root: str) -> list[dict]:
    """The retained builds of a versioned store, oldest first:
    [{"build_id", "active"}]. The keep-N rotation retains exactly the
    builds a rollback can target."""
    try:
        active = read_manifest(root).get("build_id")
    except FileNotFoundError:
        active = None
    builds_dir = f"{root}/builds"
    ids = sorted(os.listdir(builds_dir)) if os.path.isdir(builds_dir) \
        else []
    return [{"build_id": b, "active": b == active} for b in ids]


def pin_build(root: str, build_id: str) -> dict:
    """Roll back (or forward) by atomically repointing the manifest at
    a RETAINED build — the operational point of the keep-2 rotation:
    a bad deploy reverts with one manifest swap, no data movement.
    Earlier manifest metadata for that build is not reconstructed;
    the new manifest records the pin. Raises if the build directory
    does not exist (rotation already dropped it)."""
    if not os.path.isdir(f"{root}/builds/{build_id}"):
        raise FileNotFoundError(
            f"build {build_id!r} is not retained under {root}/builds")
    try:
        prev = read_manifest(root).get("build_id")
    except FileNotFoundError:
        prev = None
    write_manifest(root, {"build_id": build_id,
                          "pinned_from": prev})
    return read_manifest(root)


def read_tiles(spark: SparkSession, root: str) -> DataFrame:
    return spark.read.parquet(f"{resolve_root(root)}/tiles")


def read_points(spark: SparkSession, root: str) -> DataFrame:
    return spark.read.parquet(f"{resolve_root(root)}/points")


def etag(root: str) -> str | None:
    """Serving ETag: the active build's generated date
    (TileResource.java:494-497 uses the table date the same way)."""
    try:
        return str(read_manifest(root).get("generated"))
    except FileNotFoundError:
        return None


def get_point_bytes(spark: SparkSession, root: str,
                    map_key: str) -> bytes | None:
    """Point-bundle lookup (HBaseMaps.java:213-222 equivalent)."""
    rows = (read_points(spark, root)
            .where(F.col("mapKey") == map_key)
            .select("features").collect())
    return bytes(rows[0].features) if rows else None


def get_tile_png(spark: SparkSession, root: str, map_key: str, srs: str,
                 z: int, x: int, y: int, style: str = "classic.point",
                 scale: float = 1.0) -> bytes:
    """Point-lookup + rasterize: the ``.png`` endpoint
    (mapnik-server routes.js:287-300 semantics over the tile index)."""
    from maps_spark.functions.png import render_density_png
    return render_density_png(
        get_tile_bytes(spark, root, map_key, srs, z, x, y),
        style=style, scale=scale)


def get_heat_png(spark: SparkSession, root: str, map_key: str, srs: str,
                 z: int, x: int, y: int, style: str = "purpleHeat.point",
                 scale: float = 1.0, reader=None) -> bytes:
    """Heat-style ``.png``: fetches the FOUR z+1 children of the
    requested tile ((2x,2y)..(2x+1,2y+1), routes.js heatVectorRequest)
    and composites them quadrant-wise (renderer.js:70-100). Pass
    ``scale=0.5`` for the 256 px ``@Hx`` size; a :class:`TileReader`
    makes the four child lookups one cached slice load and serves the
    children's cached decoded columns."""
    from maps_spark.functions.png import render_heat_png
    children = []
    for dy in (0, 1):
        for dx in (0, 1):
            cx, cy = 2 * x + dx, 2 * y + dy
            if reader is not None:
                children.append(reader.get_tile_columns(map_key, srs,
                                                        z + 1, cx, cy))
            else:
                children.append(get_tile_bytes(spark, root, map_key, srs,
                                               z + 1, cx, cy))
    return render_heat_png(children, style=style, scale=scale)


def get_tile_bytes(spark: SparkSession, root: str, map_key: str, srs: str,
                   z: int, x: int, y: int) -> bytes | None:
    """Point lookup; partition pruning on (srs, checklist, z) +
    row-group skip on mapKey/x/y (check ``.explain``:
    PartitionFilters + PushedFilters)."""
    rows = (read_tiles(spark, root)
            .where((F.col("srs") == srs.replace(":", "_")) &
                   (F.col("checklist") == _checklist_of(map_key)) &
                   (F.col("z") == z) & (F.col("mapKey") == map_key) &
                   (F.col("x") == x) & (F.col("y") == y))
            .select("tile").collect())
    return rows[0].tile if rows else None


class TileReader:
    """Serve-time cached reader — the cache2k equivalent of the
    reference's HBaseMaps (HBaseMaps.java:109-144: tile and point
    caches in front of HBase point-gets).

    ``get_tile_bytes``/``get_point_bytes`` above launch one Spark job
    per lookup — correct, but nowhere near the reference's sub-5 ms
    serving envelope. The reader amortizes: ONE partition-pruned Spark
    job loads a whole ``(mapKey, srs, z)`` view-zoom slice into an
    in-process dict, and every subsequent tile of that slice is a dict
    lookup (sub-ms warm). Point bundles cache per mapKey the same way.

    Warm tiles are served from decoded columns: the first
    :meth:`get_tile_columns` call for a tile decodes it into
    :class:`~maps_spark.functions.mvt.TileColumns`, kept in the slice
    entry beside the tile's bytes (which stay for the MVT endpoint,
    :meth:`get_tile_bytes`) and evicted with the slice. A point
    bundle is decoded into
    :class:`~maps_spark.functions.pointpb.PointColumns` when it is
    loaded, and the columns (:meth:`get_point_columns`) are kept beside
    its bytes in the point cache.

    Cache keys embed the active build id, so a ``finalise_build``
    manifest swap invalidates stale entries naturally. The build id is
    re-read from ``manifest.json`` only when the file's (inode, mtime,
    size) changes: every publish renames a new file into place
    (:func:`maps_spark.sources.commit.write_json`), so a lookup costs
    one ``stat``, not a JSON parse. An LRU bound
    (``max_slices``/``max_points``) caps memory. Serving deployments
    shard views across reader processes, so per-slice granularity is
    the right unit: a slice at low/mid zooms is a few MB; the z16
    long tail is point-bundle-backed anyway.
    """

    def __init__(self, spark: SparkSession, root: str,
                 max_slices: int = 64, max_points: int = 1024):
        from collections import OrderedDict
        self.spark, self.root = spark, root
        self.max_slices, self.max_points = max_slices, max_points
        self._slices: dict = OrderedDict()
        self._points: dict = OrderedDict()
        self._manifest: tuple | None = None   # (stat signature, build id)

    def _build_id(self):
        try:
            st = os.stat(f"{self.root}/manifest.json")
        except FileNotFoundError:
            return None
        sig = (st.st_ino, st.st_mtime_ns, st.st_size)
        if self._manifest is None or self._manifest[0] != sig:
            try:
                build = read_manifest(self.root).get("build_id")
            except FileNotFoundError:
                return None
            self._manifest = (sig, build)
        return self._manifest[1]

    @staticmethod
    def _lru_put(cache, key, value, cap):
        cache[key] = value
        cache.move_to_end(key)
        while len(cache) > cap:
            cache.popitem(last=False)

    def slice_df(self, map_key: str, srs: str, z: int) -> DataFrame:
        """The one Spark query behind a cold slice load — exposed so
        tests can audit that it stays partition-pruned on
        (srs, checklist, z) with mapKey pushed to row-group stats."""
        return (read_tiles(self.spark, self.root)
                .where((F.col("srs") == srs.replace(":", "_")) &
                       (F.col("checklist") == _checklist_of(map_key)) &
                       (F.col("z") == z) & (F.col("mapKey") == map_key))
                .select("x", "y", "tile"))

    def _tile_entry(self, map_key: str, srs: str, z: int, x: int,
                    y: int) -> list | None:
        """The cached ``[bytes, columns or None]`` of one tile."""
        key = (self._build_id(), map_key, srs.replace(":", "_"), int(z))
        if key not in self._slices:
            rows = self.slice_df(map_key, srs, z).collect()
            self._lru_put(self._slices, key,
                          {(r.x, r.y): [bytes(r.tile), None] for r in rows},
                          self.max_slices)
        else:
            self._slices.move_to_end(key)
        return self._slices[key].get((int(x), int(y)))

    def get_tile_bytes(self, map_key: str, srs: str, z: int,
                       x: int, y: int) -> bytes | None:
        entry = self._tile_entry(map_key, srs, z, x, y)
        return entry[0] if entry else None

    def get_tile_columns(self, map_key: str, srs: str, z: int, x: int,
                         y: int):
        """The tile's :class:`~maps_spark.functions.mvt.TileColumns`,
        decoded on its first request, or None."""
        from maps_spark.functions import mvt
        entry = self._tile_entry(map_key, srs, z, x, y)
        if entry is None:
            return None
        if entry[1] is None:
            entry[1] = mvt.decode_columns(entry[0])
        return entry[1]

    def _point_entry(self, map_key: str) -> tuple:
        """The cached ``(bytes, columns)`` of a view's point bundle,
        both None when it has none; decoded when loaded."""
        from maps_spark.functions import pointpb
        key = (self._build_id(), map_key)
        if key not in self._points:
            blob = get_point_bytes(self.spark, self.root, map_key)
            cols = None if blob is None else pointpb.decode_features(blob)
            self._lru_put(self._points, key, (blob, cols), self.max_points)
        else:
            self._points.move_to_end(key)
        return self._points[key]

    def get_point_bytes(self, map_key: str) -> bytes | None:
        return self._point_entry(map_key)[0]

    def get_point_columns(self, map_key: str):
        """The view's point bundle as
        :class:`~maps_spark.functions.pointpb.PointColumns`, or None."""
        return self._point_entry(map_key)[1]


def pyramid_invariant(spark: SparkSession, root: str,
                      srs: str | None = None) -> DataFrame:
    """Distributed build-sanity check — the cross-zoom conservation
    law of the pyramid as ONE query over the tile store: for every
    (srs, view), the visible-region (buffer-excluded) year-count
    total must be IDENTICAL at every zoom level, and equal to the
    view's plottable occurrence count. A lost tile, a double-counted
    buffer band, or a broken rollup shows up as
    ``n_distinct_totals > 1`` (or a total that disagrees with the
    source — which the hash gate checks against the raw data).

    Scale shape: tiles decode in an Arrow-batched ``mapInPandas``
    stage (each executor decodes its own partition's tiles — payloads
    never move), then two count-aggregations whose keys are
    (srs, view, z) and (srs, view) — tiny results. This is the ops
    canary to run after every build, next to :func:`tile_diff`.

    Output: (srs, mapKey, n_zooms, n_distinct_totals, total).
    """
    import pandas as pd

    tiles = read_tiles(spark, root)
    if srs is not None:
        tiles = tiles.where(F.col("srs") == srs.replace(":", "_"))

    def run(batches):
        from maps_spark.functions.mvt import tile_totals
        for pdf in batches:
            out = {"srs": [], "mapKey": [], "z": [], "t": []}
            for s, mk, z, payload in zip(pdf["srs"], pdf["mapKey"],
                                         pdf["z"], pdf["tile"]):
                tt = tile_totals(bytes(payload), exclude_buffer=True)
                out["srs"].append(s)
                out["mapKey"].append(mk)
                out["z"].append(int(z))
                out["t"].append(int(sum(tt.values())))
            yield pd.DataFrame(out)

    per_tile = (tiles.select("srs", "mapKey", "z", "tile")
                .mapInPandas(run, "srs string, mapKey string, "
                                  "z int, t long"))
    per_zoom = (per_tile.groupBy("srs", "mapKey", "z")
                .agg(F.sum("t").alias("zt")))
    return (per_zoom.groupBy("srs", "mapKey")
            .agg(F.count("*").cast("long").alias("n_zooms"),
                 F.countDistinct("zt").cast("long")
                 .alias("n_distinct_totals"),
                 F.max("zt").alias("total")))


def points_invariant(spark: SparkSession, root: str) -> DataFrame:
    """The point-store half of the build-sanity pair (see
    :func:`pyramid_invariant`): decode every small view's protobuf
    bundle executor-side and report its distinct location count and
    total occurrence count — which the hash gate recomputes straight
    from the raw data, proving conservation through the point-mode
    aggregation, protobuf encode, storage, and decode.

    Output: (mapKey, n_locations, total).
    """
    import pandas as pd

    pts = read_points(spark, root)

    def run(batches):
        from maps_spark.functions.pointpb import decode_features
        for pdf in batches:
            out = {"mapKey": [], "n_locations": [], "total": []}
            for mk, blob in zip(pdf["mapKey"], pdf["features"]):
                cols = decode_features(bytes(blob))
                out["mapKey"].append(mk)
                out["n_locations"].append(len(cols))
                out["total"].append(int(cols.count.sum()))
            yield pd.DataFrame(out)

    return pts.mapInPandas(
        run, "mapKey string, n_locations long, total long")


def tile_diff(spark: SparkSession, root_a: str, root_b: str) -> DataFrame:
    """Build-over-build tile diff — the ops tool for the versioned
    lifecycle (what changed between yesterday's build and today's,
    before repointing a canary): per tile address, ``added`` /
    ``removed`` / ``changed``, decided on tile-content digests so the
    join ships 16-byte hashes, never tile payloads (the
    ``corpus_diff`` pattern applied to the tile index). Unchanged
    tiles are omitted — at 100 TB the diff is the interesting
    minority, not the index.

    Output: (srs, checklist, z, mapKey, x, y, change).
    """
    keys = ["srs", "checklist", "z", "mapKey", "x", "y"]

    def digests(root, name):
        return (read_tiles(spark, root)
                .select(*keys, F.md5(F.col("tile")).alias(name)))

    a = digests(root_a, "ha")
    b = digests(root_b, "hb")
    j = a.join(b, keys, "full_outer")
    change = (F.when(F.col("ha").isNull(), F.lit("added"))
              .when(F.col("hb").isNull(), F.lit("removed"))
              .when(F.col("ha") != F.col("hb"), F.lit("changed")))
    return (j.select(*keys, change.alias("change"))
            .where(F.col("change").isNotNull()))
