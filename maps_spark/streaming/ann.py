"""Streaming ANN ingest: embedding files landing in a directory are
appended to the persisted IVF index, batch by batch.

Completes the index lifecycle split of :mod:`maps_spark.sources.
ann_index`: ``build_ivf_index`` is the periodic retrain,
``upsert_ivf_index`` the incremental add — this module wires the latter
into Structured Streaming so a landing zone of embedding parquet files
feeds the served index continuously. Per micro-batch cost is
O(batch + touched clusters) (see the upsert's pruned existing-id
probe); the foreachBatch body is replay-guarded with the same batch-id
marker as the pixel refresh, and the upsert itself is idempotent on
ids, so the pipeline is at-least-once safe twice over.

Quantizer drift: the stream never retrains — centroids stay those of
the last ``build_ivf_index``. Monitor ``index_stats`` occupancy and
rebuild out-of-band when skew grows; the stream keeps appending against
the new centroids the moment the manifest swaps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from maps_spark.sources.ann_index import upsert_ivf_index


def run_ann_ingest(spark: SparkSession, input_path: str, root: str,
                   max_files_per_trigger: int = 1,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   expectations: dict | None = None,
                   compact_every: int | None = None):
    """Wire the stream: embedding files -> per-batch index upsert.

    ``availableNow`` drains the backlog and stops (landing-zone sweep);
    a live feed would use a processing-time trigger with the same body.
    Requires an existing index at ``root`` (build_ivf_index first).

    ``compact_every=k`` runs :func:`maps_spark.sources.maintenance.
    compact_ann_store` at the START of every k-th trigger — each
    upsert appends one file-set per touched cluster partition, and
    without the cadence the serving scan's open-file cost grows with
    batch count. Size-tiered per cluster dir: only small files are
    rewritten, graduated ones hardlink through (same crash contract
    as the dedup store — the prior batch's replay marker is already
    durable, and commit.recover precedes every compaction and the
    first trigger)."""
    from maps_spark.streaming.refresh import (quarantine_gate,
                                              run_file_stream)
    marker = root.rstrip("/") + "/_meta/last_batch.json"
    state = {"n": 0}

    def _body(batch_df: DataFrame, batch_id: int) -> None:
        quarantine_gate(batch_df, expectations, root, batch_id)
        if compact_every:
            from maps_spark.sources.commit import recover
            from maps_spark.sources.maintenance import compact_ann_store
            recover(f"{root.rstrip('/')}/vectors")
            recover(f"{root.rstrip('/')}/pq_codes")
            if state["n"] and state["n"] % compact_every == 0:
                compact_ann_store(spark, root)
        upsert_ivf_index(batch_df, root, id_col=id_col, vec_col=vec_col)
        state["n"] += 1

    return run_file_stream(spark, input_path, marker, _body,
                           max_files_per_trigger)
