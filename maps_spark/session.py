"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]``; the same configuration keys are the
ones that matter on a 1000-executor cluster (see BASELINE.md: the
reference tuned ``spark.sql.shuffle.partitions`` to 2000 for 70x8 cores;
we default to 4 x cores locally and expect the cluster deployment to set
it to ~3-4 x total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def get_spark(
    app_name: str = "maps-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the tile pipeline.

    Notes on the choices (all matter at 100 TB, cost nothing locally):

    - AQE on: runtime coalescing of the many small post-rollup partitions
      at low zooms, and skew-join splitting for hot map keys (the "0:0"
      all-data view is ~100% skewed by construction — the reference
      handles this with app-level dictionary encoding; AQE + salting in
      :mod:`maps_spark.operators.pyramid` handle it here).
    - Arrow enabled: every Python-side encode (MVT/protobuf/minhash) is a
      pandas UDF; Arrow batching is the difference between 10x and 100x
      slower than JVM.
    - ``maxRecordsPerFile`` mirrors MapBuilder.java:187 (10M records ≈
      100 MB files at production row width) so the snapshot/staged tables
      neither produce tiny files nor unsplittable monsters.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The streaming dedup stores probe hive sub-bucket dirs by
        # explicit path list (bounded by the band fan-out, <=1024).
        # Above the default threshold (32 paths) Spark runs a cluster
        # job with one task PER PATH to list them — measured 3-4 s of
        # pure scheduling per probe on local[32] for a listing the
        # driver does in milliseconds. Driver-side listing stays the
        # right call on a real cluster too: these reads are a few
        # thousand sequential metadata RPCs at most, cheaper than a
        # 1024-task job.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                "4096")
        .config("spark.sql.files.maxRecordsPerFile", "10000000")
        # Task-side output commit (v2): partitioned writes (the band
        # index's ~1024 hive dirs per segment) finalize in parallel
        # across tasks instead of one driver-side merge per partition
        # dir at job commit. Safe for every writer in this repo: the
        # stores publish through staging dirs that are validated then
        # renamed (or manifest-swapped) — nothing relies on job-commit
        # atomicity, so v2's weaker failure story costs nothing.
        .config("spark.hadoop.mapreduce.fileoutputcommitter"
                ".algorithm.version", "2")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Generated-class cache (static). Spark's default holds 100
        # classes; the ad-hoc query mix compiled ~150 distinct ones
        # (warm-up plus 4 rounds), so each warm query evicted the
        # classes of another and recompiled its own. 2000 entries hold
        # that working set with >10x headroom; at the measured ~21 KB
        # source key + ~4 KB bytecode per class, a full cache is ~50 MB
        # of driver heap.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # Shuffle codec, env-parameterized for the A/B protocol
        # (guide §2.3: zstd trades CPU for ratio; there is no
        # universal answer — measure at the deployment's real shuffle
        # sizes). Local default stays lz4 (the measured winner at
        # sf0.1 shuffle volumes; see OPTIMIZATION_r11.md).
        .config("spark.io.compression.codec",
                os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def sql_over(spark: SparkSession, query: str, **frames: DataFrame
             ) -> DataFrame:
    """``spark.sql(query, **frames)`` without unpersisting the frames.

    PySpark binds each DataFrame argument as a temp view and drops the
    view once the query is analysed. Dropping a temp view uncaches the
    cache entry whose plan is the view's, so binding a persisted frame
    itself (the keyed occurrence snapshot) unpersists it for every
    later query, which then recomputes it. (A projection of all its
    columns counts as the same plan.) Each frame is bound through an
    always-true filter instead: the view gets a plan of its own, the
    optimizer removes the filter, and the query still reads the
    frame's cache."""
    return spark.sql(query, **{k: df.where(F.lit(True))
                               for k, df in frames.items()})
