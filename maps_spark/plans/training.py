"""The training-prep driver: raw documents -> training shards, end to
end — the training-data counterpart of :mod:`maps_spark.plans.backfill`
(same versioned-build / manifest-swap lifecycle, reusing the tile
store's manifest helpers).

Pipeline (each stage is an engine operator with its own oracle-checked
gate; this driver only composes them):

1. **curate** — :func:`operators.corpus.curate_corpus` tags every doc
   with its drop stage (quality / exact_dup / near_dup / kept);
2. **mix** — :func:`operators.mixture.mix_sample` draws the
   token-budgeted per-source sample from the survivors (deterministic
   id-hash membership, no RNG);
3. **pack** — :func:`operators.packing.pack_sequences` assigns every
   sampled doc its packed-sequence id/offset (distributed prefix-sum);
4. **shard** — :func:`operators.packing.write_training_shards` writes
   the shuffled corpus as sorted round-robin ``shard=k`` partitions a
   data-parallel loader can stream.

The manifest records the funnel (docs in -> kept -> sampled -> token
count -> sequences) so a run is auditable; ``versioned=True`` builds
into ``out_root/builds/<ts>/`` and atomically repoints the manifest on
success (keep-2 rotation), so loaders never see a half-written corpus.
"""

from __future__ import annotations

import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from maps_spark.sources.tile_store import (build_id as _build_id,
                                           finalise_build, read_manifest)


def run_training_prep(spark: SparkSession, sf_dir: str, out_root: str,
                      weights: dict[str, float] | None = None,
                      budget_tokens: int | None = None,
                      seq_budget: int = 512, n_shards: int = 8,
                      versioned: bool = True,
                      keep_builds: int = 2,
                      expectations: dict | None = None) -> dict:
    """Run the four-stage prep; returns the manifest dict.

    ``weights=None`` keeps every source at weight 1 (the mixture stage
    then only enforces the token budget); ``budget_tokens=None``
    disables downsampling entirely (rate 1.0 everywhere).
    """
    from maps_spark.operators.corpus import curate_corpus
    from maps_spark.operators.mixture import mix_sample
    from maps_spark.operators.packing import (pack_sequences,
                                              write_training_shards)

    t0 = time.time()
    build_id = _build_id() if versioned else None
    out_dir = f"{out_root}/builds/{build_id}" if versioned else out_root

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    gate = None
    if expectations is not None:
        # promotion contract on the input snapshot, before any build
        # work: a failed non-waived rule (or above-tolerance drift vs
        # the prior build's recorded profile) aborts with no writes
        # and no manifest swap (the prior build stays active)
        from maps_spark.operators.expectations import promotion_gate
        try:
            prior = read_manifest(out_root)
        except (FileNotFoundError, ValueError):
            prior = None
        gate = promotion_gate(docs, expectations, prior)
        if not gate["ok"]:
            return {"stage": "training_prep", "promoted": False,
                    "rejected_build_id": build_id,
                    "expectations": gate["expectations"],
                    "drift": gate["drift"]}
    n_in = docs.count()

    verdicts = curate_corpus(docs)
    kept = (docs.join(verdicts.where(F.col("stage") == "kept")
                      .select("doc_id"), "doc_id")
            .localCheckpoint())  # barrier: 3 consumers below
    n_kept = kept.count()

    if weights is None and budget_tokens is None:
        # nothing to rebalance: keep every curation survivor
        sampled = kept
        budget_tokens = 0
    else:
        srcs = [r["source"] for r in
                kept.select("source").distinct().collect()]
        # equal weights NORMALIZED to sum 1: the budget is a
        # corpus-total token target and mix_plan allocates
        # budget*w_s tokens per source
        w = weights or {s: 1.0 / len(srcs) for s in srcs}
        if budget_tokens is None:
            budget_tokens = int(kept.agg(F.sum(
                F.size(F.split("text", " ")))).first()[0] or 0)
        sampled_ids = mix_sample(kept, w, budget_tokens)
        sampled = kept.join(sampled_ids.select("doc_id"), "doc_id")
    n_sampled, n_tokens = (sampled.agg(
        F.count("*"), F.sum(F.size(F.split("text", " ")))).first())

    packed = pack_sequences(sampled, budget=seq_budget)
    n_seqs = packed.agg(F.countDistinct("seq_id")).first()[0]
    with_pack = sampled.join(packed.select(
        "doc_id", "n_tokens", "seq_id", "seq_offset"), "doc_id")
    write_training_shards(with_pack, f"{out_dir}/shards", n_shards)

    manifest = {
        "sf_dir": sf_dir, "stage": "training_prep",
        "seq_budget": seq_budget, "n_shards": n_shards,
        "budget_tokens": int(budget_tokens),
        "funnel": {"docs_in": int(n_in), "kept": int(n_kept),
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


def read_training_shards(spark: SparkSession, out_root: str) -> DataFrame:
    """Loader entry: the active build's shard table (resolve through
    the manifest pointer, like the tile store)."""
    from maps_spark.sources.tile_store import resolve_root
    return spark.read.parquet(f"{resolve_root(out_root)}/shards")
