"""The media-curation driver: raw media binaries -> deduplicated
feature store, end to end — the multimodal counterpart of
:mod:`maps_spark.plans.training` (same versioned-build / manifest-swap
lifecycle, reusing the tile store's manifest helpers).

Pipeline (each stage is an engine operator tested on its own; this
driver only composes them):

1. **decode + features** — :func:`operators.multimodal
   .extract_image_features` runs the REAL codecs (PPM/PNG via
   magic-byte dispatch) in one Arrow-batched ``mapInPandas`` stage;
   undecodable payloads get ``decode_ok = false``, they are counted
   and dropped, never crash the run.
2. **near-dup** — :func:`operators.similarity.embedding_near_dupes`
   over the feature vectors (bucketed candidate generation, exact
   cosine verify) marks visually-duplicate media; lowest media_id per
   duplicate pair survives (the SemDeDup keep rule applied to pixels).
3. **store** — survivors write as a feature table partitioned for
   downstream ANN indexing (:mod:`maps_spark.sources.ann_index` can
   build directly over it).

The manifest records the funnel (media in -> decoded -> kept) so a
run is auditable; ``versioned=True`` builds into
``out_root/builds/<ts>/`` with atomic manifest swap + keep-2 rotation.

At 100 TB the expensive stage is the decode — it scales with input
partitions and never leaves the executor (Arrow batches, no
driver traffic); the dedup stage works on feature vectors (a few
hundred bytes each), not pixels.
"""

from __future__ import annotations

import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from maps_spark.sources.tile_store import build_id as _build_id, finalise_build


def run_media_curation(spark: SparkSession, media: DataFrame,
                       out_root: str, grid: int = 3,
                       dup_threshold: float = 0.995,
                       max_bucket: int = 256,
                       versioned: bool = True,
                       keep_builds: int = 2) -> dict:
    """Run decode -> features -> near-dup -> feature store; returns
    the manifest dict. ``media`` follows MEDIA_SCHEMA (binary payload
    + typed metadata)."""
    from maps_spark.operators.multimodal import extract_image_features
    from maps_spark.operators.similarity import embedding_near_dupes

    t0 = time.time()
    build_id = _build_id() if versioned else None
    out_dir = f"{out_root}/builds/{build_id}" if versioned else out_root

    n_in = media.count()
    feats = extract_image_features(media, grid=grid).localCheckpoint()
    decoded = feats.where(F.col("decode_ok"))
    n_decoded = decoded.count()

    vecs = decoded.select(F.col("media_id").alias("vec_id"),
                          F.col("feat").alias("embedding"))
    pairs = embedding_near_dupes(vecs, threshold=dup_threshold,
                                 dim=3 + grid * grid * 3,
                                 max_bucket=max_bucket)
    # keep rule: the lower id of every near-dup pair survives; any
    # media that appears as the HIGHER id of a pair drops
    drops = (pairs.select(F.greatest("doc_a", "doc_b").alias("media_id"))
             .distinct())
    kept = decoded.join(drops, "media_id", "left_anti")
    n_kept = kept.count()

    (kept.repartition("kind")
     .write.mode("overwrite").partitionBy("kind")
     .parquet(f"{out_dir}/features"))

    manifest = {
        "stage": "media_curation", "grid": grid,
        "dup_threshold": dup_threshold,
        "funnel": {"media_in": int(n_in), "decoded": int(n_decoded),
                   "undecodable": int(n_in - n_decoded),
                   "kept": int(n_kept),
                   "near_dups_dropped": int(n_decoded - n_kept)},
        "build_sec": round(time.time() - t0, 2),
    }
    return finalise_build(out_root, build_id, manifest,
                          keep=keep_builds)


def run_pair_curation(spark: SparkSession, media: DataFrame,
                      captions: DataFrame, out_root: str, grid: int = 3,
                      img_threshold: float = 0.995,
                      min_tokens: int = 4, max_tokens: int = 512,
                      max_bucket: int = 256,
                      versioned: bool = True,
                      keep_builds: int = 2) -> dict:
    """Image-TEXT pair curation — the contrastive-training-data prep
    (CLIP/LAION-style recipe from the public literature): decode,
    caption-gate, align, and cross-modally dedup (image, caption)
    pairs into a versioned training table.

    Stages (all existing audited operators; this driver composes):

    1. decode + features: :func:`extract_image_features`;
       ``decode_ok = false`` media drop (counted, never crash).
    2. caption gate: whitespace token count in
       ``[min_tokens, max_tokens]`` — the deterministic core of the
       public caption filters (length windows; the fancier quality
       heuristics live in :func:`operators.text.quality_score` and can
       be pre-applied by the caller).
    3. align: inner join ``media_id = doc_id`` (the caller supplies
       the pairing — a crawl pipeline joins on page/url key the same
       way).
    4. cross-modal dedup: a pair drops iff a LOWER-id pair has a
       near-duplicate image (feature cosine >= ``img_threshold``, the
       bucketed :func:`embedding_near_dupes` plan) AND the byte-exact
       same caption — the "same image, same text, different crawl"
       duplicate class; same image with new text survives (it is new
       supervision), as does same text with a new image.

    Scale: decode is the only pixel-touching stage; dedup joins ship
    feature vectors and 16-byte caption digests, never payloads. The
    funnel (in -> decoded -> caption_ok -> aligned -> kept) lands in
    the manifest for auditability.
    """
    from maps_spark.operators.multimodal import extract_image_features
    from maps_spark.operators.similarity import embedding_near_dupes

    t0 = time.time()
    build_id = _build_id() if versioned else None
    out_dir = f"{out_root}/builds/{build_id}" if versioned else out_root

    n_media = media.count()
    feats = extract_image_features(media, grid=grid).localCheckpoint()
    decoded = feats.where(F.col("decode_ok")).drop("decode_ok", "kind")
    n_decoded = decoded.count()

    n_tok = F.size(F.filter(F.split(F.col("text"), " "),
                            lambda x: x != ""))
    good_caps = (captions
                 .select("doc_id", "text", n_tok.alias("n_tokens"))
                 .where((F.col("n_tokens") >= min_tokens) &
                        (F.col("n_tokens") <= max_tokens)))
    n_caps_ok = good_caps.count()

    pairs = (decoded.join(good_caps,
                          decoded["media_id"] == good_caps["doc_id"])
             .select("media_id", "feat", "text", "n_tokens",
                     F.md5("text").alias("cap_h"))
             .localCheckpoint())
    n_aligned = pairs.count()

    img_dups = embedding_near_dupes(
        pairs.select(F.col("media_id").alias("vec_id"),
                     F.col("feat").alias("embedding")),
        threshold=img_threshold, dim=3 + grid * grid * 3,
        max_bucket=max_bucket).select("doc_a", "doc_b")
    # annotate the (already bucketed+capped) image-dup pairs with each
    # side's caption digest — two id-equi-joins, linear in |img_dups|;
    # a caption self-join here would go quadratic on hot boilerplate
    # captions ("photo", alt-text defaults)
    caps = pairs.select("media_id", "cap_h")
    drops = (img_dups
             .join(caps.select(F.col("media_id").alias("doc_a"),
                               F.col("cap_h").alias("ha")), "doc_a")
             .join(caps.select(F.col("media_id").alias("doc_b"),
                               F.col("cap_h").alias("hb")), "doc_b")
             .where(F.col("ha") == F.col("hb"))
             .select(F.col("doc_b").alias("media_id")).distinct())
    kept = pairs.join(drops, "media_id", "left_anti")
    n_kept = kept.count()

    (kept.drop("cap_h").write.mode("overwrite")
     .parquet(f"{out_dir}/pairs"))
    # release the two checkpoint block sets — a long-lived session
    # curating repeatedly would otherwise accumulate executor storage
    pairs.unpersist()
    feats.unpersist()

    manifest = {
        "stage": "pair_curation", "grid": grid,
        "img_threshold": img_threshold,
        "funnel": {"media_in": int(n_media), "decoded": int(n_decoded),
                   "captions_ok": int(n_caps_ok),
                   "aligned": int(n_aligned), "kept": int(n_kept),
                   "cross_modal_dups_dropped": int(n_aligned - n_kept)},
        "build_sec": round(time.time() - t0, 2),
    }
    return finalise_build(out_root, build_id, manifest,
                          keep=keep_builds)


def read_pairs(spark: SparkSession, out_root: str) -> DataFrame:
    """The active build's curated (image-feature, caption) pair table."""
    from maps_spark.sources.tile_store import resolve_root
    return spark.read.parquet(f"{resolve_root(out_root)}/pairs")


def read_media_features(spark: SparkSession, out_root: str) -> DataFrame:
    """The active build's feature table (resolved through the manifest
    pointer, like the tile store)."""
    from maps_spark.sources.tile_store import resolve_root
    return spark.read.parquet(f"{resolve_root(out_root)}/features")
