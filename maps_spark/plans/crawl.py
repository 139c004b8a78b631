"""Crawl-scheduling driver: crawled pages -> next fetch plan.

The crawl sibling of :mod:`maps_spark.plans.web` — same
versioned-build / manifest-swap lifecycle — closing the loop a real
web pipeline runs between fetch rounds. Each stage is an engine
operator with its own oracle-checked gate; this driver composes them
and records the per-stage funnel:

1. **frontier** — :func:`operators.html.frontier_candidates`:
   outlinks resolved absolute + normalized, anti-joined against the
   crawled set, PageRank-scored per domain;
2. **robots** — :func:`operators.html.apply_robots` (skipped when
   ``rules=None``): disallow-prefix filtering per domain;
3. **politeness shards** — :func:`operators.html.frontier_shards`:
   per-host cap, host-hash shard assignment, written as
   ``shard=k`` hive partitions so fetch worker k reads its shard
   directory and owns all of its hosts' rate limits.

Scale: everything inherits the operators' shapes (one shared HTML
parse, norm_href-keyed anti-join + agg, broadcast PageRank table,
domain-partitioned cap window); the funnel counts are the only
driver-side values.
"""

from __future__ import annotations

import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from maps_spark.sources.tile_store import build_id as _build_id, finalise_build


def run_crawl_plan(spark: SparkSession, pages: DataFrame,
                   out_root: str, rules: DataFrame | None = None,
                   per_host_cap: int = 5, n_shards: int = 8,
                   pr_iters: int = 3, versioned: bool = True,
                   keep_builds: int = 2) -> dict:
    """Run the scheduling pipeline; returns the manifest dict.

    ``pages`` is any (doc_id, source, html) frame of crawled pages;
    ``rules`` an optional (domain, disallow) robots table. Each build
    also persists its PageRank table (``node_ranks``) so the next
    round — :func:`run_crawl_round` over a frontier store — can
    warm-start the rank refresh instead of re-iterating from uniform.
    """
    from maps_spark.operators.graph import pagerank
    from maps_spark.operators.html import (_links_with_source,
                                           candidate_refs,
                                           frontier_assemble, page_urls,
                                           site_domain_edges,
                                           transient_mark)

    t0 = time.time()
    mark = transient_mark()
    build_id = _build_id() if versioned else None
    out_dir = f"{out_root}/builds/{build_id}" if versioned else out_root

    # decomposed frontier_candidates: one materialized link
    # projection feeds refs + edges (HTML parsed once), and the rank
    # table is computed HERE so it can be persisted for warm starts
    links = _links_with_source(pages).localCheckpoint()
    edges = site_domain_edges(pages, links=links)
    ranks = pagerank(edges, iters=pr_iters)  # localCheckpointed inside
    cand = frontier_assemble(candidate_refs(pages, links=links),
                             page_urls(pages), edges, ranks=ranks)
    cand = cand.localCheckpoint()  # barrier: counted + filtered below
    n_cand = cand.count()

    return _plan_and_write(spark, cand, ranks, n_cand, out_root,
                           out_dir, build_id, rules, per_host_cap,
                           n_shards, pr_iters, versioned, keep_builds,
                           t0, iters_used=pr_iters, mark=mark)


def run_crawl_round(spark: SparkSession, store_root: str,
                    out_root: str, rules: DataFrame | None = None,
                    per_host_cap: int = 5, n_shards: int = 8,
                    pr_iters: int = 3, warm_iters: int = 1,
                    keep_builds: int = 2,
                    redirects: DataFrame | None = None,
                    fetch_log: DataFrame | None = None,
                    sitemaps: DataFrame | None = None,
                    fetched: DataFrame | None = None,
                    robots_bodies: DataFrame | None = None) -> dict:
    """One scheduling round of the closed crawl loop: assemble the
    current frontier from the streaming store
    (:mod:`maps_spark.streaming.frontier` — everything ingested so
    far), warm-starting PageRank from the PREVIOUS round's persisted
    ``node_ranks`` when one exists (``warm_iters`` refresh steps
    instead of ``pr_iters`` from uniform), then robots -> politeness
    shards -> versioned fetch plan, exactly like
    :func:`run_crawl_plan`. The loop a deployment runs:

        ingest batch k (run_frontier_ingest) -> run_crawl_round ->
        fetch workers read their shard (read_fetch_plan) -> fetched
        pages land as batch k+1 -> ...

    The protocol layer plugs in through optional inputs the fetch
    workers produce alongside the pages themselves:

    - ``sitemaps`` (domain, xml): announced URLs merge into the
      frontier first (:func:`operators.crawl.merge_sitemap_locs`) —
      sitemap-only candidates enter the plan with ``via='sitemap'``;
    - ``redirects`` (src_url, dst_url): candidates canonicalize
      through the redirect graph (:func:`operators.crawl.
      apply_redirects`) BEFORE planning, so a page already crawled
      under its final URL is never refetched under an alias (and
      vice versa — aliases collapse onto one planned fetch);
    - ``fetch_log`` (url, attempt, status): per-URL retry state
      (:func:`operators.crawl.fetch_schedule`) — permanently failed
      ('drop': 404 / budget exhausted) and already-succeeded ('done')
      URLs leave the plan before the per-host cap is spent on them;
      transient failures stay with their backoff in ``next_delay_s``;
    - ``fetched`` (norm_href, fetched_at): the crawl ledger's last-
      fetch dates — with ``sitemaps``, announced URLs whose lastmod
      postdates their fetch re-enter the plan as ``via='recrawl'``
      candidates (:func:`operators.crawl.recrawl_candidates`); they
      are exempt from the fetch log's 'done' drop (done-but-stale is
      exactly what a recrawl is) but not from its 404 'drop';
    - ``robots_bodies`` (domain, body): raw robots.txt bodies — RFC
      9309 filtering (longest match, Allow wins ties) via
      :func:`operators.crawl.apply_robots_v2`, with each domain's
      ``Crawl-delay:`` carried onto its planned rows as
      ``crawl_delay_s`` so the shard worker spaces that host's
      fetches. Independent of the structured v1 ``rules`` (both
      apply when both are given — the conservative union).

    Always versioned — the round history IS the crawl ledger."""
    from maps_spark.operators.crawl import (apply_redirects,
                                            merge_sitemap_locs,
                                            recrawl_candidates)
    from maps_spark.operators.html import transient_mark
    from maps_spark.streaming.frontier import read_frontier

    t0 = time.time()
    mark = transient_mark()
    build_id = _build_id()
    out_dir = f"{out_root}/builds/{build_id}"

    prior = read_node_ranks(spark, out_root)
    # an empty prior (a degenerate round with no edges) is NOT a warm
    # start — every node would fall back to uniform and the single
    # refresh iteration would silently replace the 3-step cold start
    warm = prior is not None and len(prior.take(1)) > 0
    iters_used = warm_iters if warm else pr_iters
    holder: list = []
    cand = read_frontier(spark, store_root, pr_iters=iters_used,
                         prior_ranks=prior if warm else None,
                         ranks_out=holder)
    if sitemaps is not None or redirects is not None:
        seen = (spark.read.parquet(f"{store_root.rstrip('/')}/seen")
                .drop("batch_id").distinct())
        if sitemaps is not None:
            cand = merge_sitemap_locs(cand, sitemaps, seen, holder[0])
        if redirects is not None:
            cand = apply_redirects(cand, redirects, seen,
                                   ranks=holder[0])
    if sitemaps is not None and fetched is not None:
        # AFTER apply_redirects: recrawl candidates are deliberately
        # SEEN URLs — the canonicalization step's seen anti-join
        # would (correctly, for discovery) drop them
        ranks = holder[0]
        dr = ranks.select(F.col("node").alias("domain"),
                          F.col("rank_scaled").alias("_drr"))
        rc = (recrawl_candidates(sitemaps, fetched)
              .join(dr, "domain", "left")
              .select("norm_href", "domain",
                      F.lit(0).cast("long").alias("n_refs"),
                      F.lit(0).cast("long").alias("n_ref_docs"),
                      F.coalesce("_drr", F.lit(0)).cast("long")
                      .alias("domain_rank"),
                      F.lit("recrawl").alias("via")))
        if "via" not in cand.columns:
            cand = cand.withColumn("via", F.lit("links"))
        cand = cand.unionByName(rc)
    cand = cand.localCheckpoint()
    n_cand = cand.count()
    return _plan_and_write(spark, cand, holder[0], n_cand, out_root,
                           out_dir, build_id, rules, per_host_cap,
                           n_shards, pr_iters, True, keep_builds,
                           t0, warm_started=warm, iters_used=iters_used,
                           mark=mark, fetch_log=fetch_log,
                           robots_bodies=robots_bodies,
                           protocol={"sitemaps": sitemaps is not None,
                                     "redirects": redirects is not None,
                                     "fetch_log": fetch_log is not None,
                                     "recrawl": fetched is not None,
                                     "robots_v2":
                                         robots_bodies is not None})


def _plan_and_write(spark: SparkSession, cand, ranks, n_cand: int,
                    out_root: str, out_dir: str, build_id,
                    rules, per_host_cap: int, n_shards: int,
                    pr_iters: int, versioned: bool, keep_builds: int,
                    t0: float, warm_started: bool = False,
                    iters_used: int | None = None,
                    mark: int = 0, fetch_log=None,
                    robots_bodies=None,
                    protocol: dict | None = None) -> dict:
    """Shared back half of the two plan builders: robots filter,
    retry-schedule filter, politeness shards, fetch-plan +
    node_ranks writes, manifest. ``iters_used`` records the PageRank
    step count this plan's ranks ACTUALLY ran (warm refreshes use
    fewer than the configured ``pr_iters``); ``mark`` scopes the
    transient release to caches this pipeline registered."""
    from maps_spark.operators.html import (apply_robots,
                                           frontier_shards,
                                           release_transients)
    release_transients(mark)  # this pipeline's link/block caches

    allowed = apply_robots(cand, rules) if rules is not None else cand
    if robots_bodies is not None:
        from maps_spark.operators.crawl import (apply_robots_v2,
                                                parse_robots_v2)
        allowed = apply_robots_v2(allowed,
                                  parse_robots_v2(robots_bodies))
    if fetch_log is not None:
        # fold the retry schedule in BEFORE the per-host cap: a
        # dropped (404 / budget-exhausted) or already-succeeded URL
        # must not consume one of its host's fetch slots. Recrawl
        # candidates are exempt from the 'done' drop — done-but-stale
        # is what a recrawl IS — but a 404'd URL never recrawls.
        from maps_spark.operators.crawl import fetch_schedule
        from maps_spark.operators.html import with_norm_url
        sched = with_norm_url(fetch_schedule(fetch_log), "url").select(
            "norm_href",
            F.col("action").alias("_action"), "next_delay_s")
        drops = sched.where(F.col("_action").isin("drop", "done")) \
            .select("norm_href", "_action")
        allowed = allowed.join(drops, "norm_href", "left")
        keep = F.col("_action").isNull()
        if "via" in allowed.columns:
            keep = keep | ((F.col("_action") == "done") &
                           (F.col("via") == "recrawl"))
        allowed = allowed.where(keep).drop("_action")
        allowed = (allowed.join(
            sched.where(F.col("_action") == "retry")
            .select("norm_href",
                    F.col("next_delay_s").alias("_delay")),
            "norm_href", "left")
            .withColumn("next_delay_s",
                        F.coalesce("_delay", F.lit(0)).cast("long"))
            .drop("_delay"))
    plan = frontier_shards(allowed, per_host_cap, n_shards)
    if robots_bodies is not None:
        from maps_spark.operators.crawl import robots_crawl_delay
        plan = (plan.join(
            F.broadcast(robots_crawl_delay(robots_bodies)),
            "domain", "left")
            .withColumn("crawl_delay_s",
                        F.coalesce("crawl_delay_s", F.lit(0))
                        .cast("long")))
    for col, default in (("via", F.lit("links")),
                         ("next_delay_s", F.lit(0).cast("long")),
                         ("crawl_delay_s", F.lit(0).cast("long"))):
        if col not in plan.columns:
            plan = plan.withColumn(col, default)
    plan = plan.localCheckpoint()  # barrier: stats + shard write
    n_allowed = allowed.count() if (rules is not None
                                    or robots_bodies is not None
                                    or fetch_log is not None) else n_cand
    n_plan, n_hosts = plan.agg(
        F.count("*"), F.countDistinct("domain")).first()

    (plan.repartition("shard")
     .write.mode("overwrite").partitionBy("shard")
     .parquet(f"{out_dir}/fetch_plan"))
    # the rank table this plan scored with, for the next round's
    # warm start (driver state stays zero — it's a parquet table)
    ranks.write.mode("overwrite").parquet(f"{out_dir}/node_ranks")

    manifest = {
        "stage": "crawl_plan", "per_host_cap": per_host_cap,
        "n_shards": n_shards, "pr_iters": pr_iters,
        "pr_iters_used": (pr_iters if iters_used is None
                          else iters_used),
        "warm_started": warm_started,
        "robots": rules is not None,
        "protocol": protocol or {"sitemaps": False,
                                 "redirects": False,
                                 "fetch_log": False},
        "funnel": {"candidates": int(n_cand),
                   "allowed": int(n_allowed),
                   "planned": int(n_plan or 0),
                   "hosts": int(n_hosts or 0)},
        "build_sec": round(time.time() - t0, 2),
    }
    return finalise_build(out_root, build_id, manifest,
                          keep=keep_builds)


def read_node_ranks(spark: SparkSession,
                    out_root: str) -> DataFrame | None:
    """The active build's persisted (node, rank_scaled) PageRank
    table, or None when no build has one yet (first round)."""
    from pyspark.errors.exceptions.captured import AnalysisException

    from maps_spark.sources.tile_store import resolve_root
    try:
        return spark.read.parquet(
            f"{resolve_root(out_root)}/node_ranks")
    except (AnalysisException, FileNotFoundError, OSError):
        return None


FETCH_PLAN_SCHEMA = ("norm_href string, domain string, "
                     "host_rank long, n_refs long, n_ref_docs long, "
                     "domain_rank long, via string, "
                     "next_delay_s long, crawl_delay_s long, "
                     "shard long")


def read_fetch_plan(spark: SparkSession, out_root: str,
                    shard: int | None = None) -> DataFrame:
    """Fetch-worker entry: the active build's plan, optionally pruned
    to one shard directory (partition-pruned read — a worker never
    lists the other shards' files); the worker turns its shard into
    an executable politeness schedule with
    :func:`operators.crawl.fetch_timeline` (crawl_delay spacing +
    retry backoff). An EMPTY plan (a converged crawl:
    everything already fetched or robots-blocked) writes no parquet
    part files under the dynamic partitioning, so the schema cannot
    be inferred — that normal terminal state comes back as an empty
    frame with the declared schema instead of an AnalysisException."""
    from pyspark.errors.exceptions.captured import AnalysisException

    from maps_spark.sources.tile_store import resolve_root
    try:
        df = spark.read.parquet(f"{resolve_root(out_root)}/fetch_plan")
        # Hive partition-column inference types shard=k as INT; the
        # empty-plan fallback declares it LONG — cast so both paths
        # match FETCH_PLAN_SCHEMA and union/compare cleanly.
        df = df.withColumn("shard", F.col("shard").cast("long"))
    except AnalysisException:
        df = spark.createDataFrame([], FETCH_PLAN_SCHEMA)
    return df.where(F.col("shard") == shard) if shard is not None else df
