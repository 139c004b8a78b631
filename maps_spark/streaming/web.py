"""Streaming web ingest: arriving HTML pages -> curated text store.

The landing-zone front of :mod:`maps_spark.plans.web`, incremental:
each micro-batch of raw (doc_id, source, html) pages is extracted
(:func:`operators.html.extract_main_text`), thin pages are dropped,
the survivors are normalized, and the batch appends to a curated docs
store together with its per-page extraction stats — so the downstream
batch stages (quality / dedup / mixture) always have a current,
already-extracted corpus without re-parsing old HTML.

Per-batch cost is O(batch): extraction and normalization are pure
codegen projections over the batch, the append touches only new
files, and the replay guard is the shared batch-id marker (the
append is not idempotent, so redelivered batch ids are skipped —
same contract as :mod:`streaming.classify` / ``dedup`` / ``ann``).

The maintained store must equal the batch twin — extract + normalize
over the union of all landed pages — row for row; the test pins that,
including across a restart.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def extract_batch(pages: DataFrame,
                  min_doc_chars: int = 100) -> DataFrame:
    """The per-batch (and batch-twin) transformation — exactly the
    shared stage-1 funnel both web drivers use
    (:func:`operators.html.extract_and_normalize`), so the streaming
    store and the batch driver can never drift apart."""
    from maps_spark.operators.html import extract_and_normalize
    return extract_and_normalize(pages, min_doc_chars)


def run_web_ingest(spark: SparkSession, input_path: str,
                   store_root: str, min_doc_chars: int = 100,
                   max_files_per_trigger: int = 1,
                   expectations: dict | None = None):
    """Wire the stream: page files -> per-batch extract/normalize ->
    append-only curated docs store (``store_root/docs``, one
    ``batch_id`` column per arrival batch). ``availableNow`` drains
    the backlog and stops (landing-zone sweep mode). ``expectations``
    quarantines a failing batch before any append (see
    :func:`maps_spark.streaming.refresh.quarantine_gate`)."""
    from maps_spark.streaming.refresh import run_file_stream
    marker = store_root.rstrip("/") + "/_meta/last_batch.json"

    def _body(batch_df: DataFrame, batch_id: int) -> None:
        from maps_spark.streaming.refresh import quarantine_gate
        quarantine_gate(batch_df, expectations, store_root, batch_id)
        (extract_batch(batch_df, min_doc_chars)
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(f"{store_root}/docs"))

    return run_file_stream(spark, input_path, marker, _body,
                           max_files_per_trigger)


def read_web_store(spark: SparkSession, store_root: str) -> DataFrame:
    """The curated docs store without the internal batch column."""
    return spark.read.parquet(f"{store_root}/docs").drop("batch_id")
