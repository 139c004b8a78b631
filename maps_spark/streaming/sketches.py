"""Streaming sketch maintenance: per-batch CMS / quantile-sketch
deltas merged into a persisted sketch store.

The batch sketches (:mod:`maps_spark.operators.sessions`:
``cms_build``, ``value_sketch``) are mergeable by COUNTER ADDITION —
exactly the property that makes them the right state for a stream: a
micro-batch's sketch is a tiny (<= depth*width / 63*subs rows) delta,
and folding it into the store is an integer sum, so the maintained
store is BIT-IDENTICAL to a batch build over everything ever seen
(pinned in tests — no approximation drift, the approximation lives
only in the sketch definition itself).

Crash safety (counter addition is NOT idempotent, so at-least-once
redelivery needs more than a skip marker): each batch writes a NEW
versioned snapshot ``<store>/{cms,values}/v=<batch_id>`` derived from
the previous COMMITTED version, and the replay marker
(:func:`maps_spark.sources.commit.commit_batch`) doubles as the
version pointer — the single commit point, under the contract stated
in :mod:`maps_spark.sources.commit`. A crash before the marker
advances leaves orphan ``v=<id>`` dirs that the redelivery recomputes
from the old committed version (no double-add); once it advanced, the
replay guard skips the redelivery. Old versions are dropped AFTER the
advance (keep-1).

Per batch: build the batch sketch (map-side-combined, O(batch)), read
the tiny committed store, sum counters, write the next version, flip.
Counters never exceed the fixed bin space — no growth, no compaction.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from maps_spark.operators.sessions import cms_build, value_sketch
from maps_spark.sources.commit import applied_batch, guarded
from maps_spark.streaming.refresh import _stream_parquet, quarantine_gate

SKETCHES = ("cms", "values", "hitters")


def _versioned(store_root: str, which: str, version: int) -> str:
    return f"{store_root}/{which}/v={version}"


def _merge_version(delta: DataFrame, store_root: str, which: str,
                   key_cols: list[str], prev: int, version: int) -> None:
    spark = delta.sparkSession
    merged = delta
    if prev >= 0:
        existing = spark.read.parquet(_versioned(store_root, which, prev))
        merged = existing.unionByName(delta)
    out = (merged.groupBy(*key_cols).agg(F.sum("cnt").alias("cnt"))
           .localCheckpoint())  # cut lineage before the overwrite
    (out.coalesce(1).write.mode("overwrite")
     .parquet(_versioned(store_root, which, version)))


def _drop_stale_versions(store_root: str, which: str,
                         keep_version: int) -> None:
    base = f"{store_root}/{which}"
    if not os.path.isdir(base):
        return
    for name in os.listdir(base):
        if name.startswith("v=") and name != f"v={keep_version}":
            shutil.rmtree(f"{base}/{name}", ignore_errors=True)


def _update_hitters(batch_df: DataFrame, store_root: str, key_col: str,
                    width: int, depth: int, prev: int, version: int,
                    top_k: int, top_m: int) -> None:
    """Rolling heavy-hitter candidates: union of the previous top-k
    and this batch's top-m exact keys, re-estimated against the
    already-updated CMS version, cut to top-k by (est, key). A key
    admitted once stays until displaced; the policy catches any key
    that is top-m in at least one batch (the standard CMS+candidate
    recipe — a key that is never batch-prominent can hide, which is
    the documented trade-off vs exact counting)."""
    from maps_spark.operators.sessions import cms_estimate
    spark = batch_df.sparkSession
    batch_top = (batch_df.groupBy(key_col)
                 .agg(F.count("*").alias("n"))
                 .orderBy(F.desc("n"), key_col).limit(top_m)
                 .select(F.col(key_col).alias("key")))
    cands = batch_top
    if prev >= 0:
        old = spark.read.parquet(
            _versioned(store_root, "hitters", prev)).select("key")
        cands = cands.unionByName(old).distinct()
    sketch = spark.read.parquet(_versioned(store_root, "cms", version))
    est = cms_estimate(sketch, cands, key_col="key",
                       width=width, depth=depth)
    out = (est.orderBy(F.desc("est"), "key").limit(top_k)
           .localCheckpoint())
    (out.coalesce(1).write.mode("overwrite")
     .parquet(_versioned(store_root, "hitters", version)))


def run_sketch_refresh(spark: SparkSession, input_dir: str,
                       store_root: str, key_col: str = "user_id",
                       value_col: str = "value",
                       width: int = 1024, depth: int = 4,
                       top_k: int = 16, top_m: int = 32,
                       expectations: dict | None = None):
    """Maintain ``store_root/cms`` (frequency) and ``store_root/values``
    (quantiles) over an event file stream. availableNow-triggered like
    the pixel refresh; both stores must equal the batch sketches of the
    union of all batches, counter for counter — including across the
    crash/redelivery cases described in the module docstring."""
    stream = _stream_parquet(spark, input_dir)
    marker = store_root.rstrip("/") + "/_meta/last_batch.json"

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        prev = applied_batch(marker)
        quarantine_gate(batch_df, expectations, store_root, batch_id)
        _merge_version(cms_build(batch_df, key_col, width, depth),
                       store_root, "cms", ["d", "bucket"],
                       prev, batch_id)
        _merge_version(value_sketch(batch_df, value_col),
                       store_root, "values", ["bin"], prev, batch_id)
        _update_hitters(batch_df, store_root, key_col, width, depth,
                        prev, batch_id, top_k, top_m)

    merge = guarded(marker, _merge)  # the marker is the commit point

    def _body(batch_df: DataFrame, batch_id: int) -> None:
        merge(batch_df, batch_id)
        for which in SKETCHES:
            _drop_stale_versions(store_root, which, applied_batch(marker))

    return (stream.writeStream.foreachBatch(_body)
            .trigger(availableNow=True).start())


def read_sketch_store(spark: SparkSession, store_root: str,
                      which: str) -> DataFrame:
    """``which`` in {'cms', 'values', 'hitters'}: the COMMITTED table
    (resolved through the version marker — half-written snapshots are
    never visible)."""
    marker = store_root.rstrip("/") + "/_meta/last_batch.json"
    version = applied_batch(marker)
    if version < 0:
        raise FileNotFoundError(f"no committed sketch store under "
                                f"{store_root}")
    return spark.read.parquet(_versioned(store_root, which, version))
