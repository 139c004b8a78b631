"""Streaming incremental IMAGE dedup: media batches landing as files
are dHashed and checked against a persisted perceptual-hash store.

The text pipeline's incremental question (:mod:`streaming.dedup` —
"is this NEW doc a near-dup of anything accepted?") applies verbatim
to images at crawl scale, with the minhash/LSH machinery swapped for
:func:`maps_spark.operators.multimodal.image_dhash` and its 8x8-bit
Hamming bands. Store layout mirrors the text store:

- ``store/hashes`` (media_id, hash_hi, hash_lo) — accepted images;
- ``store/bands``  (bidx, bb, bval, media_id), partitioned by
  ``(bidx, bb)`` with ``bb = bval mod BAND_SUBBUCKETS`` — a batch
  probes ONLY its touched sub-bucket directories, so the probe reads
  O(batch), not O(store). Two-level like the text store: per-batch
  appends land in ``store/bands_l0`` (one output commit, not one per
  touched directory); compaction folds L0 into the path-pruned L1;
- ``store/dupes``  (media_id, dup_of, hamming, batch_id) — rejects.

Accepted images append; rejects are logged and never indexed, so the
store holds canonical images only. The foreachBatch body is guarded
by the shared batch-id marker (at-least-once replays of the
non-idempotent append are skipped). Candidate sides both go through
the shared ``cap_buckets`` guard (flat-image band floods stay
bounded); verification is the exact two-word popcount.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from maps_spark.operators.dedup import cap_buckets
from maps_spark.operators.multimodal import image_dhash
from maps_spark.streaming.dedup import BAND_SUBBUCKETS, _try_read
from maps_spark.streaming.refresh import run_file_stream


def dhash_band_rows(h: DataFrame, id_col: str = "media_id",
                    sub: int = BAND_SUBBUCKETS) -> DataFrame:
    """(media_id, bidx, bb, bval): the eight 8-bit dHash bands as
    rows (the same band split dhash_near_pairs uses wide), plus the
    store sub-bucket key."""
    entries = []
    for b in range(4):
        entries.append(F.struct(
            F.lit(b).alias("bidx"),
            (F.expr(f"hash_lo div {1 << (8 * b)}") % 256)
            .cast("int").alias("bval")))
        entries.append(F.struct(
            F.lit(b + 4).alias("bidx"),
            (F.expr(f"hash_hi div {1 << (8 * b)}") % 256)
            .cast("int").alias("bval")))
    return (h.select(F.col(id_col).alias("media_id"),
                     F.explode(F.array(*entries)).alias("e"))
            .select("media_id", "e.bidx",
                    F.pmod(F.col("e.bval"), F.lit(sub)).alias("bb"),
                    "e.bval"))


def read_store_bands(spark: SparkSession, store_dir: str,
                     touched: list[tuple[int, int]] | None = None,
                     seg_hits: list[list[tuple[int, int]] | None] |
                     None = None) -> DataFrame | None:
    """dHash band index through the shared two-level reader
    (image key-column names); ``seg_hits`` (from the per-segment
    Bloom-stats gate) narrows each compacted L1 segment's read."""
    from maps_spark.streaming.dedup import read_two_level
    return read_two_level(spark, f"{store_dir}/bands",
                          f"{store_dir}/bands_l0", touched,
                          ("bidx", "bb"), seg_hits=seg_hits)


def _hamming(hi_a, lo_a, hi_b, lo_b) -> F.Column:
    return (F.bit_count(hi_a.bitwiseXOR(hi_b))
            + F.bit_count(lo_a.bitwiseXOR(lo_b))).cast("int")


def process_media_batch(media: DataFrame, store_dir: str,
                        batch_id: int = 0, max_hamming: int = 6,
                        max_band_df: int = 10_000) -> None:
    """Dedup one batch of images against the store (and itself):
    dHash, band-probe, popcount-verify, append novel hashes."""
    spark = media.sparkSession
    h = (image_dhash(media).where(F.col("decode_ok"))
         .select("media_id", "hash_hi", "hash_lo").localCheckpoint())
    batch_bands = cap_buckets(dhash_band_rows(h), ["bidx", "bval"],
                              max_band_df).localCheckpoint()

    # within-batch candidates (smaller id wins as canonical)
    a, b = batch_bands.alias("a"), batch_bands.alias("b")
    cand = (a.join(b, ["bidx", "bval"])
            .where(F.col("a.media_id") > F.col("b.media_id"))
            .select(F.col("a.media_id").alias("media_id"),
                    F.col("b.media_id").alias("dup_of")))
    from maps_spark.sources.bloom import probe_keys
    from maps_spark.sources.maintenance import list_segments
    segs = list_segments(f"{store_dir}/bands")
    touched, seg_hits = probe_keys(spark, batch_bands,
                                   [f"{s}/_stats" for s in segs],
                                   ("bidx", "bb"), "bval")
    store_bands = read_store_bands(spark, store_dir, touched,
                                   seg_hits=seg_hits)
    # retraction is merge-on-read (same contract as the text store):
    # a tombstoned image stops matching NOW; purge_media_tombstones
    # makes the deletion physical
    from maps_spark.streaming.dedup import _try_read
    tomb = _try_read(spark, f"{store_dir}/tombstones")
    if store_bands is not None:
        # guide §3.2 (same as the text store's probe): the bucket key
        # IS the join key, so a broadcast semi-join on the batch's
        # exact (bidx, bval) set keeps or drops whole buckets —
        # cap_buckets counts and the cross join's matches are
        # unchanged, but downstream work is O(possible matches). The
        # dHash key space is <= 8 x 256 keys, so the broadcast is
        # always tiny (no batch-size gate needed).
        batch_keys = batch_bands.select("bidx", "bval").distinct()
        store_bands = store_bands.join(F.broadcast(batch_keys),
                                       ["bidx", "bval"], "left_semi")
    if store_bands is not None and tomb is not None:
        store_bands = store_bands.join(
            tomb.select("media_id").distinct(), "media_id",
            "left_anti")
    all_hashes = h
    if store_bands is not None:
        store_bands = cap_buckets(store_bands, ["bidx", "bval"],
                                  max_band_df)
        cross = (batch_bands.join(
            store_bands.withColumnRenamed("media_id", "dup_of"),
            ["bidx", "bval"])
            .where(F.col("media_id") != F.col("dup_of"))
            .select("media_id", "dup_of"))
        cand = cand.unionByName(cross)
        store_hashes = _try_read(spark, f"{store_dir}/hashes")
        needed = store_hashes.join(
            cross.select(F.col("dup_of").alias("media_id")).distinct(),
            "media_id", "left_semi")
        all_hashes = h.unionByName(needed)
    cand = cand.distinct()

    ha = all_hashes.select(F.col("media_id"),
                           F.col("hash_hi").alias("hi_a"),
                           F.col("hash_lo").alias("lo_a"))
    hb = all_hashes.select(F.col("media_id").alias("dup_of"),
                           F.col("hash_hi").alias("hi_b"),
                           F.col("hash_lo").alias("lo_b"))
    near = (cand.join(ha, "media_id").join(hb, "dup_of")
            .select("media_id", "dup_of",
                    _hamming(F.col("hi_a"), F.col("lo_a"),
                             F.col("hi_b"), F.col("lo_b"))
                    .alias("hamming"))
            .where(F.col("hamming") <= max_hamming))
    # one verdict per rejected image: closest match, ties to the
    # smallest canonical id
    best = F.min(F.struct("hamming", "dup_of")).alias("b")
    dupes = (near.groupBy("media_id").agg(best)
             .select("media_id", F.col("b.dup_of").alias("dup_of"),
                     F.col("b.hamming").alias("hamming"))
             .withColumn("batch_id", F.lit(batch_id))
             .localCheckpoint())

    novel = h.select("media_id").join(dupes, "media_id", "left_anti")
    dupes.coalesce(1).write.mode("append").parquet(f"{store_dir}/dupes")
    # one file per batch, not one per shuffle partition: the probe
    # re-opens the whole hashes file set every batch (guide §6).
    # coalesce, not repartition — narrow, so the tiny per-batch append
    # pays no extra exchange (the small-batch floor of r10)
    (h.join(novel, "media_id", "left_semi").coalesce(1)
     .write.mode("append").parquet(f"{store_dir}/hashes"))
    # L0 append: one commit per batch; a partitioned append would pay
    # the commit protocol once per touched (bidx, bb) directory (~512)
    (batch_bands.join(novel, "media_id", "left_semi")
     .coalesce(1).sortWithinPartitions("bidx", "bval")
     .write.mode("append").parquet(f"{store_dir}/bands_l0"))


def retract_media(spark: SparkSession, store_dir: str, media_ids
                  ) -> dict:
    """Retract canonical images (takedown — for media the most
    common retraction trigger): append the ids to
    ``store/tombstones``. Immediate by merge-on-read (the probe
    anti-joins the set), physical at the next
    :func:`maps_spark.sources.maintenance.purge_media_tombstones`.
    The rejection log is kept as history; re-submitting a retracted
    id is undefined until the purge — same contract as the text
    store's :func:`maps_spark.streaming.dedup.retract_docs`."""
    if not isinstance(media_ids, DataFrame):
        media_ids = spark.createDataFrame(
            [(int(i),) for i in media_ids], "media_id long")
    n = media_ids.count()
    (media_ids.select("media_id").coalesce(1)
     .write.mode("append").parquet(f"{store_dir}/tombstones"))
    return {"retracted": int(n)}


def accepted_ids(spark: SparkSession, store_dir: str) -> DataFrame:
    from maps_spark.streaming.dedup import _try_read
    acc = spark.read.parquet(f"{store_dir}/hashes").select("media_id")
    tomb = _try_read(acc.sparkSession, f"{store_dir}/tombstones")
    if tomb is not None:
        acc = acc.join(tomb.select("media_id").distinct(), "media_id",
                       "left_anti")
    return acc


def rejected(spark: SparkSession, store_dir: str) -> DataFrame:
    return spark.read.parquet(f"{store_dir}/dupes")


def run_incremental_image_dedup(spark: SparkSession, input_path: str,
                                store_dir: str,
                                max_files_per_trigger: int = 1,
                                compact_every: int | None = None,
                                expectations: dict | None = None,
                                **kwargs):
    """Wire the stream: media files -> per-batch image dedup vs the
    store (availableNow backlog drain, marker-guarded replays).

    ``compact_every=k`` folds the band L0 into the path-pruned L1 and
    compacts the flat tables at the START of every k-th trigger —
    the same crash-safe cadence as the text dedup runner (the prior
    batch's replay marker is already durable, and commit.recover
    precedes every compaction and the first trigger)."""
    marker = store_dir.rstrip("/") + "/_meta/last_batch.json"
    state = {"n": 0}

    def _body(df: DataFrame, bid: int) -> None:
        from maps_spark.streaming.refresh import quarantine_gate
        quarantine_gate(df, expectations, store_dir, bid)
        if compact_every:
            from maps_spark.sources.commit import recover
            from maps_spark.sources.maintenance import (
                compact_media_store, recover_segments)
            recover(store_dir)
            recover_segments(f"{store_dir}/bands")
            if state["n"] and state["n"] % compact_every == 0:
                compact_media_store(spark, store_dir)
        process_media_batch(df, store_dir, bid, **kwargs)
        state["n"] += 1

    return run_file_stream(spark, input_path, marker, _body,
                           max_files_per_trigger)
