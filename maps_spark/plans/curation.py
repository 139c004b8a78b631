"""Incremental corpus re-curation: only the docs a snapshot diff
touched pay curation cost.

:func:`maps_spark.operators.corpus.curate_corpus` is the batch funnel;
re-running it on 100 TB because 0.1% of pages changed is the classic
waste. This driver keeps a persistent verdict table plus the streaming
dedup signature store (:mod:`maps_spark.streaming.dedup`) and, per new
snapshot:

1. :func:`operators.corpus.corpus_diff` computes the (added, changed,
   removed) trigger sets — one digest full-outer join;
2. only added/changed docs run the quality gate (pure codegen on the
   delta);
3. quality survivors run ONE :func:`streaming.dedup.process_batch`
   against the accumulated signature store — exact + near-dup vs the
   whole accepted corpus at O(delta) cost (the store probe reads only
   touched ``(band, bb)`` sub-buckets);
4. the verdict table is upserted: removed docs drop out, touched docs
   get their new stage, untouched verdicts survive unchanged.

Verdict stages match ``curate_corpus`` (quality / exact_dup /
near_dup / kept), so a full rebuild and an incremental pass agree on
the stage vocabulary; exact agreement of verdicts is NOT guaranteed
(incremental dedup is first-accepted-wins across batches, batch
curation is lowest-id-wins globally) — the trade every incremental
dedup makes, stated here rather than hidden.

Crash safety: the snapshot (``docs``) and its verdicts are one state
directory, ``<state_dir>/snapshot``, staged whole and published with
one swap; the batch counter is committed after it. A crash anywhere
rolls back to the previous snapshot and the retry re-runs the same
batch id (the contract of :mod:`maps_spark.sources.commit`).

Staleness: a CHANGED doc re-enters the batch but its previous
signature stays in the append-only store (self-matches are excluded in
``process_batch``); until the periodic full rebuild /
``compact_dedup_store`` pass, a later doc can still match the old
version's signature — the same stale-entry window HBase has between
compactions, bounded by rebuild cadence.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from maps_spark.sources import commit


def _snapshot(state_dir: str) -> str:
    return f"{state_dir}/snapshot"


def read_verdicts(spark: SparkSession, state_dir: str) -> DataFrame:
    """(doc_id, stage) for every doc in the current corpus state."""
    commit.recover(_snapshot(state_dir))  # no-op outside a crash window
    return spark.read.parquet(f"{_snapshot(state_dir)}/verdicts")


def run_incremental_curation(spark: SparkSession, new_docs: DataFrame,
                             state_dir: str,
                             text_col: str = "text",
                             min_tokens: int = 16,
                             threshold: float = 0.5,
                             batch_id: int | None = None) -> dict:
    """Fold a new corpus snapshot into the curation state.

    First call (empty ``state_dir``) curates everything (the whole
    snapshot IS the delta); later calls pay O(changed docs). Returns
    the delta funnel counts.
    """
    from maps_spark.operators.corpus import corpus_diff
    from maps_spark.operators.text import quality_score
    from maps_spark.streaming.dedup import process_batch, rejected

    snap = _snapshot(state_dir)
    # committed state = the batch counter exists (it is written LAST,
    # after the snapshot swap): a run that crashed mid-way leaves
    # partial files but no counter advance, and its retry must re-run
    # as the same logical batch, not treat debris as state
    have_state = os.path.isfile(_counter_path(state_dir))
    commit.recover(snap)  # roll a crashed swap back
    new_docs = new_docs.select("doc_id", text_col).localCheckpoint()

    if have_state:
        old_docs = spark.read.parquet(f"{snap}/docs")
        diff = corpus_diff(old_docs, new_docs).localCheckpoint()
        touched = (diff.where(F.col("change").isin("added", "changed"))
                   .select("doc_id"))
        removed = diff.where(F.col("change") == "removed").select("doc_id")
        delta = new_docs.join(touched, "doc_id")
    else:
        removed = None
        delta = new_docs
    n_delta = delta.count()

    q = quality_score(delta.select("doc_id", text_col),
                      min_tokens=min_tokens)
    q_fail = (q.where(~F.col("keep")).select("doc_id")
              .withColumn("stage", F.lit("quality")))
    survivors = delta.join(q.where(F.col("keep")).select("doc_id"),
                           "doc_id")

    # Replay guard (ADVICE r3): the signature-store append inside
    # process_batch is the one non-idempotent step. The batch counter
    # is only committed after the whole run succeeds, so a crash
    # anywhere after the append makes the RETRY reuse the same bid —
    # and the store marker (same mechanism as streaming.dedup's
    # foreachBatch body) then skips the duplicate append; verdicts
    # re-derive idempotently from the store's rejected table.
    bid = batch_id if batch_id is not None else _peek_batch(state_dir)
    store = f"{state_dir}/dedup_store"

    def _append(df: DataFrame, b: int) -> None:
        process_batch(df, store, batch_id=b, text_col=text_col,
                      threshold=threshold)

    commit.guarded(f"{store}/_meta/last_batch.json", _append)(
        survivors, bid)
    rej = (rejected(spark, store)
           .where(F.col("batch_id") == bid)
           .select("doc_id",
                   F.when(F.col("jaccard_est") >= 1.0, "exact_dup")
                   .otherwise("near_dup").alias("stage")))
    delta_verdicts = (delta.select("doc_id")
                      .join(q_fail.unionByName(rej), "doc_id", "left")
                      .withColumn("stage",
                                  F.coalesce("stage", F.lit("kept"))))

    # upsert: untouched old verdicts + delta verdicts - removed docs
    if have_state:
        old_v = read_verdicts(spark, state_dir)
        keepers = old_v.join(delta_verdicts.select("doc_id"),
                             "doc_id", "left_anti")
        if removed is not None:
            keepers = keepers.join(removed, "doc_id", "left_anti")
        merged = keepers.unionByName(delta_verdicts).localCheckpoint()
    else:
        merged = delta_verdicts.localCheckpoint()
    n_corpus = merged.count()

    # docs and verdicts are staged together and published by ONE swap:
    # two swaps could leave new docs beside old verdicts, and the retry
    # would then see an empty diff
    def _write(staged: str) -> None:
        merged.write.parquet(f"{staged}/verdicts")
        new_docs.write.parquet(f"{staged}/docs")

    def _check(staged: str) -> str | None:
        got = spark.read.parquet(f"{staged}/verdicts").count()
        return None if got == n_corpus else (
            f"curation validation failed for {state_dir}: {got} staged "
            f"verdicts != {n_corpus}")

    commit.rewrite(snap, _write, _check)
    # the run is now durable (never rewind on explicit ids)
    commit.write_json(_counter_path(state_dir),
                      max(bid, _peek_batch(state_dir) - 1))

    stages = {r["stage"]: r["n"] for r in
              delta_verdicts.groupBy("stage")
              .agg(F.count("*").alias("n")).collect()}
    return {"batch_id": bid, "delta_docs": int(n_delta),
            "delta_stages": stages,
            "corpus_docs": int(n_corpus)}


def _counter_path(state_dir: str) -> str:
    return f"{state_dir}/_meta/batch_counter"


def _peek_batch(state_dir: str) -> int:
    """Next batch id WITHOUT advancing the counter: a crashed run's
    retry draws the same id, which is what lets the store marker
    dedupe the signature append."""
    p = _counter_path(state_dir)
    if os.path.isfile(p):
        with open(p) as f:
            return int(f.read().strip()) + 1
    return 0
