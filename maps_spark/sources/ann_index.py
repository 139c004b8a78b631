"""Persisted IVF ANN index: build once, serve partition-pruned queries.

:func:`maps_spark.operators.similarity.ivf_topk` retrains its coarse
quantizer on every call — right for one-shot analytics, wrong for a
serving path. This module splits the lifecycle the same way the tile
pipeline does (build → sorted/partitioned store → pruned lookups):

- ``build_ivf_index`` trains the deterministic k-means once, assigns
  every corpus vector to its nearest centroid, and writes the vectors
  as Parquet partitioned by ``cluster`` (plus a tiny ``centroids``
  table and a manifest, reusing the tile-store manifest helpers);
- ``query_ivf_index`` loads the centroid table (a few KB), computes
  each query's ``n_probe`` clusters, and reads ONLY those cluster
  partitions — the scan is directory-pruned exactly like a tile
  lookup, so serve cost is O(probed clusters), not O(corpus).

At 10^9 vectors the cluster count should scale to ~sqrt(n) so each
partition stays file-system friendly; the build is one Arrow pass plus
a partitioned write, and incremental adds append to their cluster
partition without touching the rest.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from maps_spark.operators.similarity import (cluster_assign_udf, cosine_col,
                                             ivf_centroids)
from maps_spark.sources import commit
from maps_spark.sources.tile_store import read_manifest, write_manifest


def build_ivf_index(emb: DataFrame, root: str, n_clusters: int = 16,
                    kmeans_iters: int = 2, train_sample: int = 2048,
                    id_col: str = "vec_id", vec_col: str = "embedding"
                    ) -> None:
    """Train the quantizer and write the cluster-partitioned index."""
    spark = emb.sparkSession
    train = np.array(
        [r[0] for r in emb.select(vec_col).orderBy(id_col)
         .limit(train_sample).collect()], dtype=np.float64)
    cent = ivf_centroids(train, n_clusters, kmeans_iters)
    assigned = emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"),
        F.element_at(cluster_assign_udf(cent, 1)(F.col(vec_col)), 1)
        .alias("cluster"))
    (assigned.repartition("cluster").write.mode("overwrite")
     .partitionBy("cluster").parquet(f"{root}/vectors"))
    spark.createDataFrame(
        [(i, [float(x) for x in cent[i]]) for i in range(len(cent))],
        "cluster int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/centroids")
    # the IVF and PQ indexes share one root (the co-located layout):
    # each keeps the manifest keys the other already wrote
    write_manifest(root, {**commit.read_json(f"{root}/manifest.json", {}),
                          "n_clusters": int(len(cent)),
                          "dim": int(cent.shape[1]),
                          "kmeans_iters": kmeans_iters,
                          "train_sample": train_sample})


def load_centroids(spark: SparkSession, root: str) -> np.ndarray:
    rows = (spark.read.parquet(f"{root}/centroids")
            .orderBy("cluster").collect())
    return np.array([r.centroid for r in rows], dtype=np.float64)


def query_ivf_index(spark: SparkSession, root: str, queries: DataFrame,
                    k: int = 10, n_probe: int = 4,
                    id_col: str = "vec_id", vec_col: str = "embedding"
                    ) -> DataFrame:
    """Top-k against the stored index, reading only probed clusters.

    Output matches :func:`similarity.ivf_topk` exactly for the same
    build parameters: (query_id, neighbor_id, rank, cos_scaled).
    """
    cent = load_centroids(spark, root)
    qb = (queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"),
        F.explode(cluster_assign_udf(cent, n_probe)(F.col(vec_col)))
        .alias("cluster"))
        .localCheckpoint())  # probe set must not recompute per use
    probed = sorted({r.cluster for r in
                     qb.select("cluster").distinct().collect()})
    # partition-pruned scan: only the probed cluster directories load
    cb = (spark.read.parquet(f"{root}/vectors")
          .where(F.col("cluster").isin(probed)))
    tomb = _vec_tombstones(spark, root)
    if tomb is not None:
        # retraction filter BEFORE ranking: a retracted neighbor
        # frees its top-k slot instead of leaving a hole
        cb = cb.join(tomb, "vec_id", "left_anti")
    cb = cb.select("cluster", F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").alias("cvec"))
    scored = (cb.join(F.broadcast(qb), "cluster")
              .where(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      F.floor(cosine_col("qvec", "cvec") * 1e9).cast("long")
                      .alias("cos_scaled")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_scaled").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cos_scaled"))


def index_stats(spark: SparkSession, root: str) -> dict:
    """Manifest + per-cluster occupancy (skew visibility for rebalance
    decisions)."""
    sizes = (spark.read.parquet(f"{root}/vectors")
             .groupBy("cluster").agg(F.count("*").alias("n")).collect())
    return {"manifest": read_manifest(root),
            "cluster_sizes": {r.cluster: r.n for r in sizes}}


def upsert_ivf_index(emb_new: DataFrame, root: str,
                     id_col: str = "vec_id", vec_col: str = "embedding"
                     ) -> dict:
    """Incremental index growth WITHOUT retraining: assign the new
    batch with the STORED centroids and append each vector to its
    cluster partition. Ids already present are skipped (idempotent —
    safe to replay a failed batch); replacing a changed vector is a
    delete+compact concern, not an upsert.

    The existing-id probe reads ONLY the cluster directories the new
    batch lands in (partition-pruned, like the query path), so upsert
    cost is O(batch + touched clusters), not O(index). Quantizer drift
    is the operator's trade-off: centroids stay fixed until the next
    ``build_ivf_index``; watch :func:`index_stats` occupancy skew to
    decide when to retrain (the same minor-vs-major compaction split
    HBase applies to regions).

    Returns {"appended": n, "skipped_existing": m, "clusters": [...]}.
    """
    spark = emb_new.sparkSession
    cent = load_centroids(spark, root)
    assigned = (emb_new.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"),
        F.element_at(cluster_assign_udf(cent, 1)(F.col(vec_col)), 1)
        .alias("cluster")).localCheckpoint())
    touched = sorted({r.cluster for r in
                      assigned.select("cluster").distinct().collect()})
    existing = (spark.read.parquet(f"{root}/vectors")
                .where(F.col("cluster").isin(touched))
                .select("vec_id"))
    fresh = assigned.join(existing, "vec_id", "left_anti").localCheckpoint()
    n_fresh = fresh.count()
    if n_fresh:
        (fresh.repartition("cluster").write.mode("append")
         .partitionBy("cluster").parquet(f"{root}/vectors"))
    return {"appended": int(n_fresh),
            "skipped_existing": int(assigned.count() - n_fresh),
            "clusters": [int(c) for c in touched]}


def _vec_tombstones(spark: SparkSession, root: str) -> DataFrame | None:
    import os
    p = f"{root.rstrip('/')}/tombstones"
    if not os.path.isdir(p):
        return None
    return spark.read.parquet(p).select("vec_id").distinct()


def retract_vectors(spark: SparkSession, root: str, vec_ids) -> dict:
    """Retract vectors from the served index (the delete half of the
    delete+compact split :func:`upsert_ivf_index` defers to): append
    the ids to ``root/tombstones``. Serving is correct immediately —
    both query paths anti-join the set BEFORE ranking, so a retracted
    neighbor frees its top-k slot instead of leaving a hole — and
    :func:`purge_ann_tombstones` makes the deletion physical. A
    retracted id stays dead to upserts until the purge (the
    existing-id skip still sees its stored row); re-adding means
    purge first or use a new id."""
    if not isinstance(vec_ids, DataFrame):
        vec_ids = spark.createDataFrame(
            [(int(i),) for i in vec_ids], "vec_id long")
    n = vec_ids.count()
    (vec_ids.select("vec_id").coalesce(1)
     .write.mode("append").parquet(f"{root.rstrip('/')}/tombstones"))
    return {"retracted": int(n)}


def purge_ann_tombstones(spark: SparkSession, root: str,
                         target_file_bytes: int = 128 * 1024 * 1024
                         ) -> dict | None:
    """Physically drop retracted vectors: filtered rewrite of the
    cluster-partitioned vectors table and the flat pq_codes
    (:func:`maps_spark.sources.maintenance.purge_rows`), then clear
    the tombstone set. Idempotent on replay (tombstones are cleared
    last). O(index) — run on takedown cadence, not per batch."""
    import os
    import shutil
    from maps_spark.sources.maintenance import purge_rows
    tpath = f"{root.rstrip('/')}/tombstones"
    if not os.path.isdir(tpath):
        return None
    # self-repair a crashed earlier purge or cluster compaction first
    vec = f"{root.rstrip('/')}/vectors"
    commit.recover(root)
    commit.recover(vec)
    ids = (spark.read.parquet(tpath)
           .select("vec_id").distinct().localCheckpoint())
    out: dict = {"tombstones": ids.count()}
    if os.path.isdir(vec):
        out["vectors"] = purge_rows(spark, vec, ids, "vec_id",
                                    partition_by=("cluster",),
                                    sort_within=("vec_id",),
                                    target_file_bytes=target_file_bytes)
    pq = f"{root.rstrip('/')}/pq_codes"
    if os.path.isdir(pq):
        out["pq_codes"] = purge_rows(spark, pq, ids, "vec_id",
                                     sort_within=("vec_id",),
                                     target_file_bytes=target_file_bytes)
    shutil.rmtree(tpath)
    return out


# -- PQ index: compressed codes beside the IVF partitions ----------------

def build_pq_index(emb: DataFrame, root: str, m: int = 8,
                   n_cent: int = 16, iters: int = 2,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   scale: int = 1_000_000,
                   train_sample: int | None = None) -> None:
    """Train PQ codebooks (operators.similarity.pq_encode) and persist
    the compressed index: one row per vector holding its ``m`` codes
    (the 256x memory cut that lets a billion-vector index serve from
    RAM), plus the codebook table and a manifest. IVF partitions WHAT
    gets scanned; this stores HOW CHEAP each scan row is — a real
    deployment layers both (partition by coarse cluster, store codes
    inside each partition).

    ``train_sample`` bounds codebook TRAINING to the id-ordered
    sample (same rule as :func:`build_ivf_index`'s coarse quantizer)
    while encoding still covers every vector — the index-build cost
    drops ~corpus/sample with no serving change."""
    from maps_spark.operators.similarity import pq_encode
    spark = emb.sparkSession
    codebooks, codes = pq_encode(emb, m, n_cent, iters, vec_col,
                                 id_col, scale,
                                 train_sample=train_sample)
    packed = (codes.groupBy("vec_id")
              .agg(F.transform(
                  F.array_sort(F.collect_list(
                      F.struct("subspace", "code"))),
                  lambda s: s["code"]).alias("codes"),
                   F.sum("dist2").cast("long").alias("dist2")))
    packed.write.mode("overwrite").parquet(f"{root}/pq_codes")
    rows = [(s, j, [int(v) for v in codebooks[s][j]])
            for s in range(m) for j in range(len(codebooks[s]))]
    spark.createDataFrame(
        rows, "subspace int, code int, centroid array<long>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/pq_books")
    write_manifest(root, {**commit.read_json(f"{root}/manifest.json", {}),
                          "pq_m": m, "pq_n_cent": n_cent,
                          "pq_iters": iters, "pq_scale": scale,
                          "pq_train_sample": train_sample})


def load_pq_codebooks(spark: SparkSession,
                      root: str) -> list[list[list[int]]]:
    """Codebooks back as the nested list pq_query_lut consumes (a few
    KB — driver-side by design, like the IVF centroid table)."""
    rows = (spark.read.parquet(f"{root}/pq_books")
            .orderBy("subspace", "code").collect())
    m = max(r["subspace"] for r in rows) + 1
    books: list[list[list[int]]] = [[] for _ in range(m)]
    for r in rows:
        books[r["subspace"]].append(list(r["centroid"]))
    return books


def query_pq_index(spark: SparkSession, root: str, queries: DataFrame,
                   k_results: int = 10, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Serve ADC top-k from the persisted codes: load the codebooks
    (KB), build the query LUT, unpack the stored code rows and run the
    shared scoring core. The scan touches ONLY the m-byte codes — the
    original vectors never leave the build path.

    Output: (qid, vec_id, adist2, rank) — identical to the in-memory
    :func:`maps_spark.operators.similarity.pq_topk` (the gate proves
    the store round-trip loses nothing)."""
    from maps_spark.operators.similarity import adc_topk, pq_query_lut
    manifest = read_manifest(root)
    books = load_pq_codebooks(spark, root)
    lut = pq_query_lut(queries, books, id_col, vec_col,
                       scale=int(manifest.get("pq_scale", 1_000_000)))
    codes = spark.read.parquet(f"{root}/pq_codes")
    tomb = _vec_tombstones(spark, root)
    if tomb is not None:
        codes = codes.join(tomb, "vec_id", "left_anti")
    codes = codes.select("vec_id", F.posexplode("codes")
                         .alias("subspace", "code"))
    return adc_topk(codes, lut, k_results)


def upsert_pq_index(emb_new: DataFrame, root: str,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> dict:
    """Incremental PQ growth without retraining: encode the new batch
    against the STORED codebooks
    (operators.similarity.pq_encode_with_books — identical codes to a
    from-scratch encode under the same books) and append the packed
    rows. Ids already present are skipped (idempotent replay, same
    contract as :func:`upsert_ivf_index`); codebook drift is the
    documented trade-off — retrain with :func:`build_pq_index` when
    quantization error creeps (the per-vector total quantization
    distance IS stored — compare the ``dist2`` tail of pq_codes
    between builds)."""
    from maps_spark.operators.similarity import pq_encode_with_books
    spark = emb_new.sparkSession
    books = load_pq_codebooks(spark, root)
    manifest = read_manifest(root)
    codes = pq_encode_with_books(
        emb_new, books, id_col, vec_col,
        scale=int(manifest.get("pq_scale", 1_000_000)))
    packed = (codes.groupBy("vec_id")
              .agg(F.transform(
                  F.array_sort(F.collect_list(
                      F.struct("subspace", "code"))),
                  lambda s: s["code"]).alias("codes"),
                   F.sum("dist2").cast("long").alias("dist2"))
              .localCheckpoint())
    existing = spark.read.parquet(f"{root}/pq_codes").select("vec_id")
    fresh = packed.join(existing, "vec_id", "left_anti") \
        .localCheckpoint()
    n_fresh = fresh.count()
    if n_fresh:
        fresh.write.mode("append").parquet(f"{root}/pq_codes")
    return {"appended": int(n_fresh),
            "skipped_existing": int(packed.count() - n_fresh)}
