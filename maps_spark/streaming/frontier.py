"""Streaming crawl-frontier maintenance: arriving pages -> frontier
store.

Each micro-batch of crawled (doc_id, source, html) pages appends its
three frontier inputs — link-reference instances
(:func:`operators.html.candidate_refs`), the batch's own crawled URLs
(:func:`operators.html.page_urls`) and its site->domain edges
(:func:`operators.html.site_domain_edges`) — to an append-only store.
All three are pure per-page projections, so per-batch cost is
O(batch); nothing is re-aggregated at write time (merge-on-read:
:func:`read_frontier` runs the exact shared
:func:`operators.html.frontier_assemble` over the accumulated
inputs, so a URL referenced in batch 1 and crawled in batch 3 drops
out of the frontier the moment batch 3 lands — incremental
aggregation could never retract it).

The replay guard is the shared batch-id marker (appends are not
idempotent, so redelivered batch ids are skipped — same contract as
``streaming.web`` / ``dedup`` / ``classify``). The equality pinned in
tests: after any number of batches, read_frontier(store) ==
frontier_candidates(all landed pages), row for row, including across
a restart.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def run_frontier_ingest(spark: SparkSession, input_path: str,
                        store_root: str,
                        max_files_per_trigger: int = 1,
                        expectations: dict | None = None):
    """Wire the stream: crawled-page files -> per-batch refs/seen/
    edges appends under ``store_root``. ``availableNow`` drains the
    backlog and stops (landing-zone sweep mode). ``expectations``
    quarantines a failing batch before any append (see
    :func:`maps_spark.streaming.refresh.quarantine_gate`)."""
    from maps_spark.operators.html import (_links_with_source,
                                           candidate_refs, page_urls,
                                           site_domain_edges)
    from maps_spark.streaming.refresh import run_file_stream
    marker = store_root.rstrip("/") + "/_meta/last_batch.json"

    def _body(batch_df: DataFrame, batch_id: int) -> None:
        from maps_spark.streaming.refresh import quarantine_gate
        quarantine_gate(batch_df, expectations, store_root, batch_id)
        batch_df = batch_df.localCheckpoint()  # one read per projection
        # one materialized href extraction feeds refs AND edges — the
        # batch's HTML is regex-parsed once
        links = _links_with_source(batch_df).localCheckpoint()
        refs = candidate_refs(batch_df, links=links)
        edges = site_domain_edges(batch_df, links=links)
        for name, df in (("refs", refs),
                         ("seen", page_urls(batch_df)),
                         ("edges", edges)):
            (df.withColumn("batch_id", F.lit(batch_id))
             .write.mode("append").parquet(f"{store_root}/{name}"))

    return run_file_stream(spark, input_path, marker, _body,
                           max_files_per_trigger)


def read_frontier(spark: SparkSession, store_root: str,
                  pr_iters: int = 3,
                  prior_ranks: DataFrame | None = None,
                  ranks_out: list | None = None) -> DataFrame:
    """The current frontier: the shared batch assembly over the
    accumulated store — anti-join of refs against every URL crawled
    so far, reference counts, PageRank-scored domains.

    At crawl scale reads dominate: recomputing ``pr_iters`` power
    iterations from uniform over the full accumulated edge store on
    every read is the expensive part. ``prior_ranks`` warm-starts the
    PageRank from a previous round's persisted (node, rank_scaled)
    table, so callers pass ``pr_iters=1`` and get ranks ≈ a 3-step
    cold start (pinned in tests). ``ranks_out``, if a list, receives
    the rank table actually used — the crawl driver persists it for
    the NEXT round's warm start without recomputing."""
    from maps_spark.operators.graph import pagerank
    from maps_spark.operators.html import frontier_assemble
    root = store_root.rstrip("/")
    refs = spark.read.parquet(f"{root}/refs").drop("batch_id")
    seen = (spark.read.parquet(f"{root}/seen").drop("batch_id")
            .distinct())
    edges = spark.read.parquet(f"{root}/edges").drop("batch_id")
    ranks = pagerank(edges, iters=pr_iters, warm_start=prior_ranks)
    if ranks_out is not None:
        ranks_out.append(ranks)
    return frontier_assemble(refs, seen, edges, ranks=ranks)
