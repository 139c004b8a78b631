"""Raw-web corpus driver: HTML pages -> training shards, end to end.

The web sibling of :mod:`maps_spark.plans.training` — same
versioned-build / manifest-swap lifecycle — but starting one stage
earlier, at raw HTML, the way every public web-corpus recipe
(C4 / CCNet / RefinedWeb-style) does. Each stage is an engine
operator with its own oracle-checked gate; this driver only composes
them and records the per-stage survivor funnel:

1. **extract** — :func:`operators.html.extract_main_text` strips
   boilerplate block-by-block; pages whose main text is too thin
   (fewer than ``min_doc_chars`` kept chars) are dropped here;
2. **normalize** — :func:`operators.text.normalize_text` canonical
   whitespace/case form (all later hashing/dedup sees this form);
3. **quality** — :func:`operators.text.quality_ensemble` rank-combines
   the text signals per source; documents under
   ``quality_min_scaled`` are dropped;
4. **decontaminate** — :func:`operators.corpus.bloom_contamination`
   against the supplied benchmark (skipped when ``benchmark=None``);
5. **dedup** — exact (md5 group-agg, canonical lowest id) then
   minhash-LSH near-dup clusters (canonical member kept);
6. **mix / pack / shard** — :func:`operators.mixture.mix_sample`,
   :func:`operators.packing.pack_sequences`,
   :func:`operators.packing.write_training_shards` — identical back
   half to the training-prep driver.

Scale: extract/normalize/quality are projection-side codegen (no
shuffle before stage 3's per-source window); contamination probes a
broadcast bloom filter; dedup inherits the capped-bucket LSH design;
the funnel counts are the only driver-side values.
"""

from __future__ import annotations

import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from maps_spark.sources.tile_store import (build_id as _build_id,
                                           finalise_build, read_manifest)

QUALITY_WEIGHTS = {"n_tokens": 600_000, "n_stopwords": 400_000}


def run_web_corpus(spark: SparkSession, sf_dir: str, out_root: str,
                   pages: DataFrame | None = None,
                   benchmark: DataFrame | None = None,
                   weights: dict[str, float] | None = None,
                   budget_tokens: int | None = None,
                   min_doc_chars: int = 100,
                   quality_weights: dict[str, int] | None = None,
                   quality_min_scaled: int = 200_000,
                   seq_budget: int = 512, n_shards: int = 8,
                   site_template: bool = False,
                   versioned: bool = True,
                   keep_builds: int = 2,
                   expectations: dict | None = None) -> dict:
    """Run the web pipeline; returns the manifest dict.

    ``pages`` is any (doc_id, source, html) frame — a real deployment
    points it at crawl output; the default synthesizes pages from the
    sf documents table (same generator as the ``html_extract`` gate).
    ``benchmark`` is a (doc_id, text) frame of eval sets to
    decontaminate against. ``weights``/``budget_tokens`` follow
    :func:`plans.training.run_training_prep` semantics.
    """
    from maps_spark.operators.corpus import bloom_contamination
    from maps_spark.operators.dedup import (dedup_clusters,
                                            minhash_lsh_pairs)
    from maps_spark.operators.html import (extract_and_normalize,
                                           synthesize_html)
    from maps_spark.operators.mixture import mix_sample
    from maps_spark.operators.packing import (pack_sequences,
                                              write_training_shards)
    from maps_spark.operators.text import (quality_ensemble,
                                           text_features)

    t0 = time.time()
    build_id = _build_id() if versioned else None
    out_dir = f"{out_root}/builds/{build_id}" if versioned else out_root

    if pages is None:
        pages = synthesize_html(
            spark.read.parquet(f"{sf_dir}/documents.parquet"))
    gate = None
    if expectations is not None:
        # promotion contract on the INPUT pages, before any build
        # work: a failed non-waived rule (or above-tolerance drift vs
        # the prior build's recorded profile) aborts with no writes
        # and no manifest swap (the prior build stays active)
        from maps_spark.operators.expectations import promotion_gate
        try:
            prior = read_manifest(out_root)
        except (FileNotFoundError, ValueError):
            prior = None
        gate = promotion_gate(pages, expectations, prior)
        if not gate["ok"]:
            return {"stage": "web_corpus", "promoted": False,
                    "rejected_build_id": build_id,
                    "expectations": gate["expectations"],
                    "drift": gate["drift"]}
    n_pages = pages.count()

    # 1+2: the shared extract/thin-filter/normalize funnel (also the
    # streaming ingest body — one definition, no drift)
    from maps_spark.operators.html import (release_transients,
                                           transient_mark)
    mark = transient_mark()
    docs = (extract_and_normalize(pages, min_doc_chars,
                                  site_template=site_template)
            .select("doc_id", "source", "text")
            .localCheckpoint())  # barrier: signals + joins below
    release_transients(mark)  # site-template block cache, if any
    n_extracted = docs.count()

    # 3: rank-normalized quality ensemble per source
    qw = quality_weights or QUALITY_WEIGHTS
    sigs = (text_features(docs)
            .join(docs.select("doc_id", "source"), "doc_id")
            .select("doc_id", "source", *sorted(qw)))
    good = quality_ensemble(sigs, qw).where(
        F.col("score_scaled") >= quality_min_scaled).select("doc_id")
    docs_q = docs.join(good, "doc_id")
    n_quality = docs_q.count()

    # 4: benchmark decontamination (bloom probe, broadcast filter)
    if benchmark is not None:
        dirty = (bloom_contamination(docs_q, benchmark)
                 .where(F.col("flagged")).select("doc_id"))
        docs_c = docs_q.join(dirty, "doc_id", "left_anti")
    else:
        docs_c = docs_q
    # barrier: n_clean + the dedup chain below would otherwise each
    # recompute the quality window and bloom probe
    docs_c = docs_c.localCheckpoint()
    n_clean = docs_c.count()

    # 5: exact then near dedup (canonical = lowest doc_id, like
    # operators.corpus.curate_corpus)
    th = docs_c.withColumn("th", F.md5("text"))
    keepers = th.groupBy("th").agg(F.min("doc_id").alias("keeper"))
    exact = (th.join(keepers, "th")
             .where(F.col("doc_id") == F.col("keeper"))
             .drop("th", "keeper")
             .localCheckpoint())  # consumers: LSH pairs + final join
    clus = dedup_clusters(minhash_lsh_pairs(exact))
    final = (exact.join(clus.where(~F.col("keep")).select("doc_id"),
                        "doc_id", "left_anti")
             .localCheckpoint())  # barrier: mix + pack + shards
    n_final = final.count()

    # 6: mixture -> packing -> shards (training-prep back half)
    if weights is None and budget_tokens is None:
        sampled = final
        budget_tokens = 0
    else:
        srcs = [r["source"] for r in
                final.select("source").distinct().collect()]
        w = weights or {s: 1.0 / len(srcs) for s in srcs}
        if budget_tokens is None:
            budget_tokens = int(final.agg(F.sum(
                F.size(F.split("text", " ")))).first()[0] or 0)
        sampled_ids = mix_sample(final, w, budget_tokens)
        sampled = final.join(sampled_ids.select("doc_id"), "doc_id")
    n_sampled, n_tokens = (sampled.agg(
        F.count("*"), F.sum(F.size(F.split("text", " ")))).first())

    packed = pack_sequences(sampled, budget=seq_budget)
    n_seqs = packed.agg(F.countDistinct("seq_id")).first()[0]
    with_pack = sampled.join(packed.select(
        "doc_id", "n_tokens", "seq_id", "seq_offset"), "doc_id")
    write_training_shards(with_pack, f"{out_dir}/shards", n_shards)

    manifest = {
        "sf_dir": sf_dir, "stage": "web_corpus",
        "min_doc_chars": min_doc_chars,
        "site_template": site_template,
        "quality_min_scaled": quality_min_scaled,
        "decontaminated": benchmark is not None,
        "seq_budget": seq_budget, "n_shards": n_shards,
        "budget_tokens": int(budget_tokens),
        "funnel": {"pages_in": int(n_pages),
                   "extracted": int(n_extracted),
                   "quality": int(n_quality),
                   "decontaminated": int(n_clean),
                   "deduped": int(n_final),
                   "sampled": int(n_sampled),
                   "sampled_tokens": int(n_tokens or 0),
                   "sequences": int(n_seqs or 0)},
        "build_sec": round(time.time() - t0, 2),
    }
    if gate is not None:
        manifest["expectations"] = gate["expectations"]
        if gate["profile"] is not None:
            manifest["profile"] = gate["profile"]
        if gate["drift"] is not None:
            manifest["drift"] = gate["drift"]
    return finalise_build(out_root, build_id, manifest,
                          keep=keep_builds)


def read_web_shards(spark: SparkSession, out_root: str) -> DataFrame:
    """Loader entry: the active build's shard table."""
    from maps_spark.sources.tile_store import resolve_root
    return spark.read.parquet(f"{resolve_root(out_root)}/shards")
