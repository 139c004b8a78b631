"""Streaming classification: score arriving documents with a stored
NB model.

The landing-zone shape: documents arrive as Parquet files, each
micro-batch is scored against the persisted model
(:mod:`maps_spark.sources.nb_model` — no retraining scan per batch)
and appended to a partitioned predictions store. The foreachBatch body
is replay-guarded with the same batch-id marker as the other streaming
writers (:mod:`maps_spark.streaming.dedup` / ``ann``), so
at-least-once replays of the non-idempotent append are skipped.

Per-batch cost is O(batch): one broadcast of the #classes constants,
one equi-join of the batch's term frequencies against the vocab x
classes delta table, one per-document argmax window.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from maps_spark.sources.nb_model import load_nb_model, read_manifest


def run_streaming_classification(spark: SparkSession, input_path: str,
                                 model_root: str, out_root: str,
                                 max_files_per_trigger: int = 1,
                                 text_col: str | None = None):
    """Wire the stream: document files -> per-batch model scoring ->
    append-only predictions store (``out_root/predictions``, one
    ``batch_id`` column per arrival batch).

    ``availableNow`` drains the backlog and stops — the landing-zone
    sweep mode; a live feed would use a processing-time trigger with
    the same body.
    """
    from maps_spark.operators.classify import nb_score
    from maps_spark.streaming.refresh import run_file_stream

    classes, delta = load_nb_model(spark, model_root)
    tc = text_col or read_manifest(model_root).get("text_col", "text")
    marker = out_root.rstrip("/") + "/_meta/last_batch.json"

    def _body(batch_df: DataFrame, batch_id: int) -> None:
        (nb_score(batch_df, classes, delta, tc)
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(f"{out_root}/predictions"))

    return run_file_stream(spark, input_path, marker, _body,
                           max_files_per_trigger)
