"""Incremental tile refresh via Structured Streaming.

The reference is batch-only (SURVEY §2.9): a full backfill rebuilds
every tile. At 100 TB a daily full rebuild is the dominant cost, so this
module adds the missing incremental path as new scope:

- ``stream_pixel_deltas``: readStream over newly-landed occurrence
  files -> the same explode/project/groupBy as the batch pipeline, in
  update mode. The pixel-count aggregation is associative, so deltas
  merge exactly into existing pyramid levels.
- ``merge_into_pixels``: foreachBatch upsert of deltas into the staged
  max-zoom pixel table (hash-bucketed, dynamic partition overwrite —
  untouched buckets are neither read nor rewritten).
- ``merge_into_tiles``: re-encodes ONLY tiles whose pixel set changed
  (including buffer-band neighbours) from the merged store and upserts
  them into a bucketed MVT tile store — the re-encode working set is
  proportional to the delta's bucket/tile footprint, not the corpus.

Event-time semantics: the events table's ``ts`` is TIMESTAMP(MICROS)
parquet (read as TIMESTAMP_NTZ); a 10-minute watermark bounds state for
the windowed variant.

Every store write here publishes through :mod:`maps_spark.sources.commit`
(staged bucket swaps, the replay marker, the quarantine report); the
crash contract is stated there.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from maps_spark.operators import pyramid as PY
from maps_spark.sources import commit
from maps_spark.sources.occurrence import occurrence_plan


class BatchQuarantined(ValueError):
    """A micro-batch failed its promotion contract and was quarantined
    before any store write."""


def quarantine_gate(batch_df: DataFrame, expectations: dict | None,
                    store_root: str, batch_id: int) -> dict | None:
    """Per-batch promotion contract for streaming stores (VERDICT r8
    #7): evaluate ``expectations``
    (:func:`operators.expectations.evaluate_contract` shape) on the
    micro-batch BEFORE any store write. A poisoned batch must not
    append forever just because it arrived through a stream instead
    of a batch driver.

    On failure the rejection report is persisted under
    ``<store>/_meta/quarantine/batch_<id>.json`` and
    :class:`BatchQuarantined` is raised — the streaming query stops,
    the replay marker is NOT advanced and nothing was appended, so
    the store stays at its pre-batch state; restarting after fixing
    the input re-delivers the same batch. (With the single
    high-water replay marker, stopping is the only way to honor
    "marker not advanced": letting later batches commit would raise
    the mark past the quarantined batch and a replay would skip it.)
    """
    if expectations is None:
        return None
    from maps_spark.operators.expectations import evaluate_contract
    if not any(k in expectations for k in ("conditions", "unique")):
        # a typo'd contract ({"condtions": ...}) must fail loudly —
        # evaluate_contract would see no rules and rubber-stamp every
        # batch forever (the same guard promotion_gate applies)
        raise ValueError(
            f"expectations contract has no recognized keys "
            f"(got {sorted(expectations)}; expected 'conditions' "
            f"and/or 'unique')")
    gate = evaluate_contract(batch_df, expectations)
    if gate["ok"]:
        return gate
    path = f"{store_root.rstrip('/')}/_meta/quarantine/batch_{batch_id}.json"
    commit.write_json(path, {"batch_id": batch_id, **gate}, default=str)
    raise BatchQuarantined(
        f"batch {batch_id} failed expectations {gate['failed']}; "
        f"no store write, replay marker not advanced (report: {path})")


def _stream_parquet(spark: SparkSession, path: str,
                    max_files_per_trigger: int = 4):
    """The one parquet file-stream reader; it also accepts a
    single-file path (FileStreamSource requires a directory; testdata
    tables are bare files, a landing zone is a directory)."""
    schema = spark.read.parquet(path).schema
    reader = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files_per_trigger))
    if os.path.isfile(path):
        return reader.option(
            "pathGlobFilter", os.path.basename(path)).parquet(
            os.path.dirname(path))
    return reader.parquet(path)


def run_file_stream(spark: SparkSession, input_path: str, marker: str,
                    process, max_files_per_trigger: int = 1):
    """Shared landing-zone wiring: parquet file stream -> replay-
    guarded foreachBatch (:func:`maps_spark.sources.commit.guarded`)
    -> availableNow drain. ``availableNow`` drains the backlog and
    stops; a live feed would use a processing-time trigger with the
    same body."""
    return (_stream_parquet(spark, input_path, max_files_per_trigger)
            .writeStream.foreachBatch(commit.guarded(marker, process))
            .trigger(availableNow=True).start())


def stream_occurrence(spark: SparkSession, input_dir: str,
                      nation_dir: str) -> DataFrame:
    """Streaming occurrence view over files landing in ``input_dir``.

    The static nation dim joins stream-static (broadcast) — supported
    natively by Structured Streaming.
    """
    stream = _stream_parquet(spark, input_dir)
    stream.createOrReplaceTempView("events")
    (spark.read.parquet(nation_dir)
     .createOrReplaceTempView("nation"))
    return occurrence_plan(spark)


def stream_pixel_deltas(occ: DataFrame, srs: str = "EPSG:3857",
                        zoom: int = 8) -> DataFrame:
    """Per-pixel counts — the streaming twin of ``pyramid.pixel_table``
    (same Column expressions, same semantics).

    On a BATCH DataFrame (the ``foreachBatch`` path ``run_refresh``
    uses) this is a plain aggregation, so the result is a true
    per-batch delta. On a STREAMING DataFrame in update mode it is a
    stateful aggregation emitting CUMULATIVE counts — do NOT sum-merge
    that variant across batches (cumulative + sum double-counts);
    ``run_refresh`` deliberately aggregates inside ``foreachBatch`` so
    no unbounded per-pixel streaming state is kept."""
    keyed = PY.keyed_occurrence(occ)
    from maps_spark.functions import projections as P
    px, py = P.pixel_cols(srs, "lat", "lng", zoom)
    return (keyed
            .select("mapKey", "borYear", px.alias("px"), py.alias("py"))
            .where(F.col("px").isNotNull())
            .groupBy("mapKey", "px", "py", "borYear")
            .agg(F.count("*").alias("cnt")))


def windowed_event_counts(spark: SparkSession, input_dir: str,
                          window: str = "1 hour",
                          watermark: str = "10 minutes") -> DataFrame:
    """Watermarked event-time aggregation over the raw event stream
    (late data beyond the watermark is dropped, state is bounded)."""
    from maps_spark.operators.sessions import TS_US_SPARK
    stream = _stream_parquet(spark, input_dir)
    with_time = stream.withColumn(
        "event_time", F.timestamp_micros(F.expr(TS_US_SPARK).cast("long")))
    return (with_time
            .withWatermark("event_time", watermark)
            .groupBy(F.window("event_time", window).alias("w"), "event_type")
            .agg(F.count("*").alias("n"),
                 F.sum("value").alias("total_value"))
            .select(F.col("w.start").alias("window_start"),
                    "event_type", "n", "total_value"))


N_BUCKETS = 256


def _applied_marker(batch_id: int) -> str:
    return f"_applied-{batch_id}"


def _buckets_already_applied(store: str, buckets, batch_id) -> set:
    """Buckets whose LIVE directory already carries this batch's
    applied marker — i.e. they were swapped by a crashed earlier
    attempt of the same batch and must not be re-merged (the replay
    double-count window of VERDICT r10 #5)."""
    if batch_id is None:
        return set()
    return {b for b in buckets
            if os.path.isfile(os.path.join(
                store, f"bucket={b}", _applied_marker(batch_id)))}


def _mark_applied(staged: str, buckets, batch_id) -> None:
    """Mark each staged bucket with the applied batch id (an
    underscore file — invisible to parquet readers; the next
    successful batch replaces the whole directory, so markers never
    accumulate). A replay after a crash mid-swap skips the marked
    buckets and re-merges the rest from their pre-batch state."""
    if batch_id is None:
        return
    for b in buckets:
        src = os.path.join(staged, f"bucket={b}")
        if os.path.isdir(src):
            open(os.path.join(src, _applied_marker(batch_id)),
                 "w").close()


def merge_into_pixels(delta: DataFrame, pixel_store: str,
                      n_buckets: int = N_BUCKETS,
                      batch_id: int | None = None) -> None:
    """foreachBatch body: merge a delta micro-batch into the LIVE
    bucketed pixel store (sum on conflict). Parquet has no MERGE, so
    the store is hive-partitioned by ``bucket = xxhash64(mapKey) mod
    n_buckets`` and each batch:

    1. buckets the delta and collects the touched bucket ids (bounded
       by ``n_buckets`` — a few hundred ints, driver-safe);
    2. reads ONLY those buckets back (partition-pruned scan; untouched
       buckets are never read);
    3. re-aggregates existing+delta and overwrites ONLY the touched
       partitions via dynamic partition overwrite.

    Untouched bucket directories are neither read nor rewritten, so the
    per-batch working set is proportional to the delta, and batches
    accumulate: batch N merges into the result of batches 1..N-1. A
    Delta/Iceberg deployment would use MERGE INTO directly.
    """
    from pyspark.errors import AnalysisException

    spark = delta.sparkSession
    # repair any crashed earlier swap BEFORE listing/reading the store
    # (a bucket renamed aside must be restored; a stale .old dropped)
    commit.recover(pixel_store)
    bucketed = delta.withColumn(
        "bucket", F.pmod(F.xxhash64("mapKey"), F.lit(n_buckets)).cast("int"))
    touched = [r[0] for r in bucketed.select("bucket").distinct().collect()]
    # buckets a crashed attempt of THIS batch already swapped carry
    # its applied marker: re-merging them would double-count the delta
    done = _buckets_already_applied(pixel_store, touched, batch_id)
    touched = [b for b in touched if b not in done]
    if not touched:
        return
    if done:
        bucketed = bucketed.where(F.col("bucket").isin(touched))
    merged = bucketed
    try:
        existing = (spark.read.parquet(pixel_store)
                    .where(F.col("bucket").isin(touched)))
        merged = existing.unionByName(bucketed)
    except AnalysisException:  # first batch: store does not exist yet
        pass
    merged = (merged
              .groupBy("bucket", "mapKey", "px", "py", "borYear")
              .agg(F.sum("cnt").alias("cnt")))
    # ONE materialization, not two: the merged rows go straight to a
    # staging tree (reads of the live store execute during this write,
    # so no lineage cut is needed), then the touched bucket
    # directories swap in by rename (commit.rewrite). The previous shape —
    # localCheckpoint() to legalize overwrite-in-place, then a dynamic
    # partition overwrite — serialized every merged row twice (block
    # store + parquet), the measured bulk of merge-mode batch cost
    # (guide §5: materialize once). Crash window is unchanged: a
    # partially-applied batch is replayed (marker not yet advanced)
    # exactly as a partially-committed dynamic overwrite was.
    def _write(staged: str) -> None:
        # repartition by the write's partition key so each bucket
        # directory receives ONE file, not one per aggregation task
        # (the groupBy hashes on the full pixel key, spreading every
        # bucket across every task: |tasks| x |touched buckets| tiny
        # files, re-opened by every later batch's pruned read — guide
        # §6: small files hurt twice)
        (merged.repartition("bucket")
         .write.mode("overwrite").partitionBy("bucket").parquet(staged))
        _mark_applied(staged, touched, batch_id)

    commit.rewrite(pixel_store, _write,
                   parts=[f"bucket={b}" for b in touched])


def append_pixel_deltas(delta: DataFrame, pixel_store: str,
                        n_buckets: int = N_BUCKETS) -> None:
    """foreachBatch body, LSM variant: append the bucketed delta as a
    new file-set and let reads fold (merge-on-read). Per-batch write
    work is O(delta) — nothing of the existing store is read or
    rewritten, which keeps per-batch wall time FLAT as the store
    grows (the measured merge-mode growth was the store-rewrite
    fraction, `BENCH_local.json` batch_secs). The costs move to the
    read side (fold over appended deltas — bounded by running
    :func:`compact_pixel_store` on the same cadence as the dedup
    store's compaction) and to small-file accumulation (same
    compaction)."""
    (delta.withColumn(
        "bucket", F.pmod(F.xxhash64("mapKey"), F.lit(n_buckets))
        .cast("int"))
     # one file per touched bucket per batch, not one per delta task
     # per bucket (guide §6) — the fold-on-read path re-opens every
     # appended file of a touched bucket on every later read
     .repartition("bucket")
     .write.mode("append").partitionBy("bucket").parquet(pixel_store))


def fold_pixels(df: DataFrame) -> DataFrame:
    """Merge-on-read fold: sum per-batch deltas per pixel key. On a
    merge-mode (already unique-key) store this is a no-op fold that
    returns the identical row set."""
    return (df.groupBy("mapKey", "px", "py", "borYear")
            .agg(F.sum("cnt").alias("cnt")))


def _mode_path(pixel_store: str) -> str:
    return os.path.join(pixel_store, "_meta", "mode.json")


def _store_mode_marker(pixel_store: str) -> str | None:
    """The store's recorded maintenance mode, or None when no
    ``_meta/mode.json`` marker exists (store absent, or pre-marker)."""
    return (commit.read_json(_mode_path(pixel_store)) or {}).get(
        "pixel_mode")


def _store_mode(pixel_store: str) -> str:
    """The store's maintenance mode from its ``_meta/mode.json``
    marker; stores from before the marker existed (always merge-mode)
    default to ``"merge"``."""
    return _store_mode_marker(pixel_store) or "merge"


def compact_pixel_store(spark: SparkSession, pixel_store: str) -> dict:
    """Fold an append-mode pixel store's accumulated deltas into one
    unique-key file-set per touched bucket (a validated
    :func:`maps_spark.sources.commit.rewrite` — run
    :func:`maps_spark.sources.commit.recover` on the store path at
    startup). Unlike ``compact_dir`` this rewrite
    CHANGES row counts (it folds duplicates), so validation compares
    the conserved quantities instead: total cnt mass and distinct
    key count. The store's existing bucket assignment is preserved —
    re-bucketing a live store is not supported (a key split across
    two bucket counts would fail the distinct-key validation)."""
    import shutil

    df = spark.read.parquet(pixel_store)
    want_mass, want_keys = df.agg(
        F.sum("cnt"), F.count_distinct(
            "mapKey", "px", "py", "borYear")).first()
    folded = (df.groupBy("bucket", "mapKey", "px", "py", "borYear")
              .agg(F.sum("cnt").alias("cnt")).localCheckpoint())
    marker_dir = os.path.join(pixel_store, "_meta")

    def _write(staged: str) -> None:
        # compaction exists to cut file counts: one file per bucket out
        (folded.repartition("bucket")
         .write.mode("overwrite").partitionBy("bucket").parquet(staged))
        # the replay-guard marker lives under <store>/_meta — copy it
        # INTO the staging tree before the swap, so there is no crash
        # window where the live store exists without its marker
        # (losing it would re-apply a redelivered batch on restart)
        if os.path.isdir(marker_dir):
            shutil.copytree(marker_dir, os.path.join(staged, "_meta"))

    got = {}

    def _check(staged: str) -> str | None:
        got["mass"], got["rows"] = (spark.read.parquet(staged)
                                    .agg(F.sum("cnt"), F.count("*"))
                                    .first())
        if got["mass"] != want_mass or got["rows"] != want_keys:
            return (f"pixel compaction validation failed for "
                    f"{pixel_store}: mass {got['mass']} != {want_mass} "
                    f"or rows {got['rows']} != distinct keys {want_keys}")
        return None

    commit.rewrite(pixel_store, _write, _check)
    return {"rows": int(got["rows"]), "mass": int(got["mass"] or 0)}


def merge_into_tiles(delta: DataFrame, pixel_store: str, tile_store: str,
                     srs: str, zoom: int,
                     n_buckets: int = N_BUCKETS,
                     fold: bool = False,
                     batch_id: int | None = None) -> None:
    """Re-encode ONLY the tiles whose pixel set changed and upsert them
    into a bucketed MVT tile store. Call after :func:`merge_into_pixels`
    has folded ``delta`` into ``pixel_store``.

    The touched-tile set is ``tile_rows(delta)`` — the same buffer
    fan-out the encoder uses, so neighbour tiles that receive buffer
    copies of a changed pixel are re-encoded too (a tile's bytes depend
    on pixels up to ``buffer`` px outside it; re-encoding only the
    containing tile would leave stale buffer bands). From the merged
    store, only the touched mapKeys' hash-bucket partitions are read
    (partition-pruned), their pixels fan out to tile rows, and a
    broadcast semi-join on the touched (mapKey, tileX, tileY) keys cuts
    the re-encode working set to exactly the affected tiles. The tile
    store upserts with the same dynamic-partition-overwrite pattern as
    the pixel store: untouched tile buckets are neither read nor
    rewritten.

    Scale note: the pruned read is per-bucket, not per-tile, so one
    delta row in a hot view (e.g. ``0:0``) reads that view's bucket and
    re-encodes only the touched tiles from it — working set is
    O(bucket + affected tiles), not O(corpus).
    """
    from pyspark.errors import AnalysisException

    from maps_spark.operators import pyramid as PY

    spark = delta.sparkSession
    commit.recover(tile_store)
    touched_tiles = (PY.tile_rows(delta, srs, zoom)
                     .select("mapKey", "tileX", "tileY").distinct()
                     .localCheckpoint())
    buckets = (touched_tiles
               .select(F.pmod(F.xxhash64("mapKey"), F.lit(n_buckets))
                       .cast("int").alias("bucket"))
               .distinct().collect())
    touched_buckets = [r[0] for r in buckets]
    # skip buckets a crashed earlier attempt of this batch already
    # swapped (their tiles are re-encoded from the ALREADY-merged
    # pixel store, so re-encoding is idempotent — but the skip keeps
    # replays cheap and the applied markers uniform across stores)
    done = _buckets_already_applied(tile_store, touched_buckets,
                                    batch_id)
    touched_buckets = [b for b in touched_buckets if b not in done]
    if not touched_buckets:
        return
    merged = (spark.read.parquet(pixel_store)
              .where(F.col("bucket").isin(touched_buckets)).drop("bucket"))
    if fold:  # append-mode store: fold per-batch deltas before encode
        merged = fold_pixels(merged)
    trows = PY.tile_rows(merged, srs, zoom).join(
        F.broadcast(touched_tiles), ["mapKey", "tileX", "tileY"],
        "left_semi")
    fresh = (PY.encode_mvt(trows.withColumn("z", F.lit(zoom)))
             .withColumn("bucket", F.pmod(F.xxhash64("mapKey"),
                                          F.lit(n_buckets)).cast("int")))
    out = fresh
    try:
        existing = (spark.read.parquet(tile_store)
                    .where(F.col("bucket").isin(touched_buckets)))
        keep = existing.join(
            F.broadcast(touched_tiles
                        .select(F.col("mapKey"), F.col("tileX").alias("x"),
                                F.col("tileY").alias("y"))),
            ["mapKey", "x", "y"], "left_anti")
        out = keep.unionByName(fresh)
    except AnalysisException:  # first merge: tile store does not exist
        pass
    # same single-materialization staged bucket swap as
    # merge_into_pixels: the upsert rows cover exactly the touched
    # buckets, so writing them once to staging and renaming those
    # bucket directories in replaces the localCheckpoint +
    # dynamic-overwrite double write
    def _write(staged: str) -> None:
        # one file per bucket directory (as in merge_into_pixels)
        (out.repartition("bucket")
         .write.mode("overwrite").partitionBy("bucket").parquet(staged))
        _mark_applied(staged, touched_buckets, batch_id)

    commit.rewrite(tile_store, _write,
                   parts=[f"bucket={b}" for b in touched_buckets])


def read_pixel_store(spark: SparkSession, pixel_store: str) -> DataFrame:
    """Read the pixel store without the internal bucket column. One
    entry point for both store modes: the ``_meta/mode.json`` marker
    says whether per-batch deltas need the merge-on-read fold —
    merge-mode stores (already unique-keyed) stay a plain
    partition-prunable scan with no extra shuffle."""
    commit.recover(pixel_store)  # no-op outside a crash window
    df = spark.read.parquet(pixel_store).drop("bucket")
    return fold_pixels(df) if _store_mode(pixel_store) == "append" \
        else df


def read_tile_store(spark: SparkSession, tile_store: str) -> DataFrame:
    """Read the incrementally-maintained tile store (mapKey, z, x, y,
    tile) without the internal bucket column."""
    commit.recover(tile_store)  # no-op outside a crash window
    return spark.read.parquet(tile_store).drop("bucket")


def run_refresh(spark: SparkSession, input_dir: str, nation_dir: str,
                pixel_store: str, srs: str = "EPSG:3857", zoom: int = 8,
                tile_store: str | None = None,
                pixel_mode: str = "merge",
                expectations: dict | None = None):
    """Wire the incremental refresh: stream -> per-batch delta -> merge
    -> (optional) incremental tile re-encode.

    The per-pixel aggregation runs INSIDE ``foreachBatch`` (a plain
    batch agg over that micro-batch's rows), so each merge receives a
    true additive delta and Spark keeps no unbounded per-pixel
    aggregation state between batches — at 100 TB the state store would
    otherwise grow with the number of distinct (mapKey, px, py, year)
    groups, which is the corpus size. With ``tile_store`` set, each
    batch also re-encodes the tiles its delta touched from the merged
    pixel state, so served MVTs stay fresh without a full rebuild.

    ``pixel_mode`` picks the store maintenance strategy:

    - ``"merge"`` (default): sum-on-conflict rewrite of touched
      buckets per batch — reads stay pre-folded, but per-batch cost
      includes rewriting every touched bucket, which grows with the
      store when batch keys spread across it (measured in
      ``BENCH_local.json`` batch_secs);
    - ``"append"``: LSM-style O(delta) append, merge-on-read
      (:func:`read_pixel_store` folds), periodic
      :func:`compact_pixel_store` — per-batch wall time stays flat.

    ``expectations`` is an optional per-batch promotion contract
    (see :func:`quarantine_gate`): a failing batch is quarantined —
    no store write, replay marker not advanced, report persisted —
    and the query stops.
    """
    if pixel_mode not in ("merge", "append"):
        raise ValueError(f"unknown pixel_mode {pixel_mode!r}")
    # A store keeps the mode it was created with: running append on a
    # merge-mode store would add per-batch delta rows the (marker-
    # driven) read path never folds — point reads would silently
    # return split counts. Refuse the mismatch up front (ADVICE r7).
    existing = _store_mode_marker(pixel_store)
    if existing is None and os.path.isdir(pixel_store):
        # pre-marker stores were always merge-mode; an existing store
        # directory without a marker is one of those
        existing = "merge"
    if existing is not None and existing != pixel_mode:
        raise ValueError(
            f"pixel store {pixel_store} was created with "
            f"pixel_mode={existing!r}; refusing pixel_mode="
            f"{pixel_mode!r} — compact/rebuild the store to switch "
            "modes")
    occ = stream_occurrence(spark, input_dir, nation_dir)
    marker = pixel_store.rstrip("/") + "/_meta/last_batch.json"

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        # Neither a sum-on-conflict merge nor a delta append is
        # idempotent, so the body runs under the replay guard: the
        # marker is committed after both merges land (a Delta/Iceberg
        # sink would make the merge itself transactional instead).
        quarantine_gate(batch_df, expectations, pixel_store, batch_id)
        delta = stream_pixel_deltas(batch_df, srs, zoom).localCheckpoint()
        if pixel_mode == "append":
            append_pixel_deltas(delta, pixel_store)
        else:
            merge_into_pixels(delta, pixel_store, batch_id=batch_id)
        if not os.path.exists(_mode_path(pixel_store)):
            commit.write_json(_mode_path(pixel_store),
                              {"pixel_mode": pixel_mode})
        if tile_store is not None:
            merge_into_tiles(delta, pixel_store, tile_store, srs, zoom,
                             fold=(pixel_mode == "append"),
                             batch_id=batch_id)

    return (occ.writeStream.foreachBatch(commit.guarded(marker, _merge))
            .trigger(availableNow=True).start())
