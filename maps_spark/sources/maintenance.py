"""Store maintenance: small-file compaction for append-mode stores.

The streaming sinks append per micro-batch — the incremental dedup
store (:mod:`maps_spark.streaming.dedup`) adds one file set per batch
to ``sigs``/``bands``/``hashes``/``dupes`` — so after thousands of
batches a scan pays thousands of file opens and the NameNode/listing
cost grows without bound. The reference sidesteps this because HBase
compacts regions itself (minor/major compactions); a Parquet store
needs the equivalent as an explicit maintenance pass, the same way
Delta/Iceberg expose OPTIMIZE.

``compact_dir`` rewrites one directory to ``ceil(bytes / target)``
files via a staging dir that is row-count-validated before any swap,
preserving hive partition columns (``partition_by``) so
partition-pruned readers are unaffected.

Every rewrite here is a :func:`maps_spark.sources.commit.rewrite`
(stage, validate, swap) and every segment manifest a
:func:`~maps_spark.sources.commit.write_json`; the crash contract and
its recovery rule are stated once, in :mod:`maps_spark.sources.commit`.
Run maintenance under the store's write lock (e.g. between streaming
triggers) and call :func:`~maps_spark.sources.commit.recover` on the
store at startup.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

from maps_spark.sources import commit


def _count_star():
    import pyspark.sql.functions as F
    return F.count(F.lit(1))


def dir_stats(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) under ``path`` (recursive)."""
    n, size = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def _write_staging_stats(spark: SparkSession, staging: str,
                         stats: tuple[tuple[str, str], str] | None,
                         sub: int | None = None) -> None:
    """Build the per-sub-bucket Bloom stats for a staged band-index
    rewrite, INSIDE the staging dir (``_stats/`` — underscore-hidden
    from parquet readers of the data) so the swap publishes data and
    stats atomically (:mod:`maps_spark.sources.bloom`).

    ``sub`` must carry the store's adaptive sub-bucket modulus when
    the rewritten data was folded with one (ADVICE r10: stats written
    WITHOUT the sub column over coarse-folded data would make
    ``probe_keys`` look up global-space keys in a coarse-space table —
    silent Bloom false negatives)."""
    if stats is None:
        return
    from maps_spark.sources.bloom import write_stats
    keys, value_col = stats
    write_stats(spark.read.parquet(staging), f"{staging}/_stats",
                keys, value_col, sub=sub)


def _sized_writer(df, size: int, target_file_bytes: int,
                  partition_by: tuple[str, ...] = (),
                  sort_within: tuple[str, ...] = ()):
    """An overwrite writer for ``df`` in ``ceil(size / target)`` files
    (per partition directory when ``partition_by`` is set), sorted
    within files so row-group min/max stats stay selective."""
    n_files = max(1, -(-size // target_file_bytes))
    # partitioned writes spread across the cluster: hashing on the
    # partition keys keeps one file per directory per target size,
    # while max(n_files, parallelism) tasks write their key subsets'
    # directories CONCURRENTLY — a single-task write serializes ~1024
    # directory commits and was the measured bulk of a fold
    n_write = max(n_files, df.sparkSession.sparkContext
                  .defaultParallelism) if partition_by else n_files
    out = df.repartition(n_write, *partition_by)
    if sort_within:
        out = out.sortWithinPartitions(*sort_within)
    writer = out.write.mode("overwrite")
    return writer.partitionBy(*partition_by) if partition_by else writer


def compact_dir(spark: SparkSession, path: str,
                target_file_bytes: int = 128 * 1024 * 1024,
                partition_by: tuple[str, ...] = (),
                sort_within: tuple[str, ...] = (),
                stats: tuple[tuple[str, str], str] | None = None,
                sub: int | None = None) -> dict:
    """Rewrite the parquet directory at ``path`` into
    ``max(1, ceil(total_bytes / target_file_bytes))`` files (per
    partition directory when ``partition_by`` is set), optionally
    sorted within files so row-group min/max stats stay selective.

    Returns {"files_before", "files_after", "bytes", "rows"}. The
    rewrite is staged and validated (row count vs the source) BEFORE
    the swap (:func:`maps_spark.sources.commit.rewrite`).
    """
    n_before, size = dir_stats(path)
    df = spark.read.parquet(path)
    writer = _sized_writer(df, size, target_file_bytes, partition_by,
                           sort_within)
    n_rows = df.count()

    def _check(staged: str) -> str | None:
        # parquet footer counts, no data scan
        staged_rows = spark.read.parquet(staged).count()
        if staged_rows != n_rows:
            return (f"compaction validation failed for {path}: "
                    f"{staged_rows} staged rows != {n_rows} source rows")
        _write_staging_stats(spark, staged, stats, sub=sub)
        return None

    commit.rewrite(path, writer.parquet, _check)
    n_after, _ = dir_stats(path)
    return {"files_before": n_before, "files_after": n_after,
            "bytes": size, "rows": n_rows}


# ---------------------------------------------------------------------
# Segmented band-index L1 (size-tiered LSM)
#
# The first design folded L0 into ONE hive-partitioned L1 directory by
# rewriting the whole of L1 every compaction — O(store) writes per
# fold, so lifetime write cost grew quadratically with batch count
# (the thing that breaks first at 1000x store size). The L1 is now a
# LIST of immutable hive-partitioned segment directories under the
# band root, published through an atomically-swapped ``_manifest.json``:
#
# - a fold writes L0 into a NEW segment — O(delta), never touching
#   the accumulated store;
# - segments of similar size (log4 tiers) merge only when a tier
#   accumulates ``tier_fanout`` members, so every byte is rewritten
#   O(log_fanout(store)) times over the store's lifetime instead of
#   once per compaction (size-tiered compaction, the LSM discipline
#   HBase/RocksDB apply to the same problem — the reference leans on
#   HBase's own minor/major compactions here);
# - each segment carries its own ``_stats`` Bloom tables, so the probe
#   prunes per segment, and segment count is bounded at
#   ``tier_fanout x tiers`` = O(log store).
#
# Crash contract (manifest is the single source of truth): publish
# order is (1) stage + rename the seg dir (commit.rewrite), (2) swap
# the manifest (commit.write_json), (3) delete consumed inputs (L0 /
# merged-away segments). A crash before (2) leaves an orphan directory
# the manifest never names — :func:`recover_segments` drops it and the
# inputs are refolded; a crash after (2) is converged by the L0
# fingerprint check (fold) or by recover_segments dropping the
# now-unreferenced old segments (merge). Duplicate rows can therefore
# never accrete.
# ---------------------------------------------------------------------

SEG_PREFIX = "seg-"

# Scale-adaptive sub-bucket fan-out (guide §2: partitioning must adapt
# to data size, not be a constant tuned for one scale). A segment's
# hive fan-out is bands x sub directories; the probe prunes by
# directory, so a LARGE segment wants the full fan-out (read
# granularity), while a SMALL segment at the same fan-out pays ~1024
# directory commits to write a few MB (the measured ~15 s of a ~20 s
# fold at sf0.1) and ~1024 tiny file opens per stats/merge read.
# ``_adaptive_sub`` picks the largest power-of-two sub <= max_sub such
# that each sub-bucket directory still holds >= SUB_TARGET_BYTES /
# (its band fan-out share) — i.e. fan-out doubles only when the
# segment doubles past the target. Powers of two dividing the global
# probe modulus mean ``bh mod sub = (bh mod MAX) mod sub``, so the
# batch's touched set translates per segment without rereading
# anything. Each segment records its own ``sub`` in the manifest and
# its ``_stats`` table; readers fall back to the full fan-out for
# pre-adaptive segments.
SUB_TARGET_BYTES = 8 * 1024 * 1024


def _adaptive_sub(size_hint: int, max_sub: int) -> int:
    sub = 1
    while sub < max_sub and size_hint >= SUB_TARGET_BYTES * sub * 2:
        sub *= 2
    return sub


def _manifest_path(root: str) -> str:
    return os.path.join(root, "_manifest.json")


def read_segment_manifest(root: str) -> dict | None:
    """The segmented store's source of truth:
    ``{"segments": [{"name", "bytes", "rows"}, ...], "next": int,
    "last_l0": str | None}``. ``None`` when ``root`` has no segmented
    level (empty store). Underscore-prefixed, so parquet readers of
    the data directories never see it."""
    import json
    p = _manifest_path(root)
    if not os.path.isfile(p):
        return None
    with open(p) as f:
        return json.load(f)


def list_segments(root: str) -> list[str]:
    """Absolute paths of the live segment directories in manifest
    order (oldest first); ``[]`` when the store has no compacted
    level yet."""
    m = read_segment_manifest(root)
    if m is None:
        return []
    return [os.path.join(root, s["name"]) for s in m["segments"]]


def recover_segments(root: str) -> str | None:
    """Startup repair for a crash during a segment publish: drop every
    ``seg-*`` directory under ``root`` (staged ones included) that the
    manifest does not name. Safe by the publish order (rename, THEN
    manifest swap, THEN input deletion): an unreferenced segment means
    the crash hit before the manifest swap, and its source data (L0,
    or the pre-merge segments) is still live and will be re-folded."""
    if not os.path.isdir(root):
        return None
    m = read_segment_manifest(root)
    live = {s["name"] for s in m["segments"]} if m else set()
    dropped = False
    for name in os.listdir(root):
        if name.startswith(SEG_PREFIX) and name not in live:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
            dropped = True
    return "cleaned" if dropped else None


def _l0_fingerprint(l0: str) -> str:
    """Deterministic identity of the current L0 contents (sorted
    relative file names + sizes) — the idempotence token that lets a
    replayed fold (crash between manifest swap and L0 cleanup)
    recognise the L0 it already published and converge by deleting it
    instead of folding it twice."""
    import hashlib
    entries = []
    for r, _dirs, files in os.walk(l0):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(r, f)
                entries.append(f"{os.path.relpath(p, l0)}:"
                               f"{os.path.getsize(p)}")
    return hashlib.md5("\n".join(sorted(entries)).encode()).hexdigest()


def _publish_segment(spark: SparkSession, root: str, df, size_hint: int,
                     target_file_bytes: int,
                     partition_by: tuple[str, ...],
                     sort_within: tuple[str, ...],
                     stats: tuple[tuple[str, str], str] | None,
                     seg_name: str,
                     sub_mod: tuple[str, str, int] | None = None
                     ) -> tuple[int, int, int | None]:
    """Write ``df`` as a validated immutable segment directory
    ``root/seg_name`` (:func:`maps_spark.sources.commit.rewrite`: stage,
    count validation + per-segment Bloom ``_stats``, one rename).
    Returns (bytes, rows, sub). The caller
    swaps the manifest afterwards — until then the directory is
    invisible to readers and recover_segments may drop it.

    ``sub_mod = (sub_col, value_col, max_sub)`` recomputes the
    sub-bucket partition column as ``value mod _adaptive_sub(...)``
    before the write (see SUB_TARGET_BYTES above) and returns the
    chosen sub so the caller can record it in the manifest."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation
    sub = None
    if sub_mod is not None:
        sub_col, value_col, max_sub = sub_mod
        sub = _adaptive_sub(size_hint, max_sub)
        df = df.withColumn(
            sub_col, F.pmod(F.col(value_col).cast("long"), F.lit(sub)))
    obs = Observation()
    writer = _sized_writer(df.observe(obs, _count_star().alias("n")),
                           size_hint, target_file_bytes, partition_by,
                           sort_within)

    def _check(staged: str) -> str | None:
        n_rows = obs.get["n"]
        if stats is not None:
            # ONE pass over the staged bytes builds the Bloom stats AND
            # yields the validation count (sum of per-sub-bucket n) —
            # the separate footer-count job re-listed every partition
            from maps_spark.sources.bloom import write_stats
            keys, value_col = stats
            staged_rows = write_stats(spark.read.parquet(staged),
                                      f"{staged}/_stats", keys,
                                      value_col, sub=sub)
        else:
            # footer-only count of the staged bytes, no data scan
            staged_rows = spark.read.parquet(staged).count()
        if staged_rows != n_rows:
            return (f"segment validation failed for {root}/{seg_name}: "
                    f"{staged_rows} staged rows != {n_rows} source rows")
        return None

    seg = os.path.join(root, seg_name)
    commit.rewrite(seg, writer.parquet, _check)
    _n, size = dir_stats(seg)
    return size, obs.get["n"], sub


def _size_tier(n_bytes: int) -> int:
    """log4 size class — segments in the same tier are within ~4x of
    each other and merge together."""
    return max(1, n_bytes).bit_length() // 2


def fold_l0_segments(spark: SparkSession, live: str, l0: str,
                     target_file_bytes: int = 128 * 1024 * 1024,
                     partition_by: tuple[str, ...] = (),
                     sort_within: tuple[str, ...] = (),
                     stats: tuple[tuple[str, str], str] | None = None,
                     tier_fanout: int = 4,
                     sub_mod: tuple[str, str, int] | None = None
                     ) -> dict | None:
    """LSM maintenance for a two-level band index: fold the
    unpartitioned L0 append directory into a NEW hive-partitioned
    segment of the ``live`` root — O(L0), never rewriting the
    accumulated store — then run size-tiered merges
    (:func:`_merge_segment_tiers`) so segment count stays
    O(log store). Returns a summary dict, or None when neither level
    exists."""
    has_l0 = os.path.isdir(l0)
    if not has_l0 and read_segment_manifest(live) is None:
        return None
    os.makedirs(live, exist_ok=True)
    recover_segments(live)
    m = read_segment_manifest(live) or {"segments": [], "next": 1,
                                        "last_l0": None}
    folded = None
    if has_l0:
        fp = _l0_fingerprint(l0)
        if m["segments"] and m.get("last_l0") == fp:
            # replayed fold: this exact L0 is already published
            shutil.rmtree(l0)
        elif spark.read.parquet(l0).count() == 0:
            # zero-row L0 (e.g. every batch doc was a duplicate):
            # nothing to publish — an empty partitioned segment would
            # have no directories to read back
            shutil.rmtree(l0)
        else:
            n_l0, size_l0 = dir_stats(l0)
            l0_df = spark.read.parquet(l0)
            # within-L0 dropDuplicates is O(delta) insurance; levels
            # never overlap (batch appends are replay-marker-guarded,
            # fold replays are fingerprint-guarded)
            df = l0_df.select(*sorted(l0_df.columns)).dropDuplicates()
            name = f"{SEG_PREFIX}{m['next']:08d}"
            size, rows, sub = _publish_segment(
                spark, live, df, size_l0, target_file_bytes,
                partition_by, sort_within, stats, name, sub_mod)
            entry = {"name": name, "bytes": size, "rows": rows}
            if sub is not None:
                entry["sub"] = sub
            m = {"segments": m["segments"] + [entry],
                 "next": m["next"] + 1, "last_l0": fp}
            commit.write_json(_manifest_path(live), m)
            shutil.rmtree(l0)  # folded; the L0 level restarts empty
            folded = {"files": n_l0, "bytes": size, "rows": rows}
    merges = _merge_segment_tiers(spark, live, target_file_bytes,
                                  partition_by, sort_within, stats,
                                  tier_fanout, sub_mod)
    m = read_segment_manifest(live) or {"segments": []}
    return {"segments": len(m["segments"]),
            "rows": sum(s.get("rows", 0) for s in m["segments"]),
            "bytes": sum(s.get("bytes", 0) for s in m["segments"]),
            "folded": folded, "merges": merges}


def _merge_segment_tiers(spark: SparkSession, root: str,
                         target_file_bytes: int,
                         partition_by: tuple[str, ...],
                         sort_within: tuple[str, ...],
                         stats: tuple[tuple[str, str], str] | None,
                         tier_fanout: int,
                         sub_mod: tuple[str, str, int] | None = None
                         ) -> list[dict]:
    """Merge segments within a log4 size tier whenever the tier
    accumulates ``tier_fanout`` members; cascade until no tier is
    over-full. The merged output is >= fanout x its inputs, so every
    byte climbs at least one tier per rewrite — per-byte lifetime
    write cost is O(log_fanout(store)), the size-tiered LSM bound."""
    merges: list[dict] = []
    while True:
        m = read_segment_manifest(root)
        if m is None or len(m["segments"]) < tier_fanout:
            return merges
        tiers: dict[int, list[dict]] = {}
        for s in m["segments"]:
            tiers.setdefault(_size_tier(s.get("bytes", 0)), []).append(s)
        group = None
        for _tier, members in sorted(tiers.items()):  # smallest first
            if len(members) >= tier_fanout:
                group = members
                break
        if group is None:
            return merges
        names = {s["name"] for s in group}
        size_hint = sum(s.get("bytes", 0) for s in group)
        parts = [spark.read.parquet(os.path.join(root, s["name"]))
                 for s in group]
        df = parts[0]
        cols = sorted(df.columns)
        df = df.select(*cols)
        for p in parts[1:]:
            df = df.unionByName(p.select(*cols))
        # NO cross-segment dropDuplicates here: segments are disjoint
        # by construction (batch appends are replay-marker-guarded,
        # folds fingerprint-guarded, publishes manifest-swapped — the
        # convergence pytests pin all three), and the extra full
        # shuffle doubled every merge's cost. The purge path, whose
        # inputs CAN overlap, keeps its dropDuplicates.
        name = f"{SEG_PREFIX}{m['next']:08d}"
        size, rows, sub = _publish_segment(
            spark, root, df, size_hint, target_file_bytes,
            partition_by, sort_within, stats, name, sub_mod)
        kept = [s for s in m["segments"] if s["name"] not in names]
        entry = {"name": name, "bytes": size, "rows": rows}
        if sub is not None:
            entry["sub"] = sub
        m2 = {"segments": kept + [entry],
              "next": m["next"] + 1, "last_l0": m.get("last_l0")}
        commit.write_json(_manifest_path(root), m2)
        for s in group:  # manifest no longer names them; drop
            shutil.rmtree(os.path.join(root, s["name"]),
                          ignore_errors=True)
        merges.append({"merged": len(group), "bytes": size,
                       "rows": rows})


def compact_dir_tiered(spark: SparkSession, path: str,
                       target_file_bytes: int = 128 * 1024 * 1024,
                       sort_within: tuple[str, ...] = (),
                       min_merge_bytes: int | None = None) -> dict:
    """Size-tiered compaction of a FLAT append directory (the
    sigs/hashes/dupes tables, the crawl frontier): merge only the
    small files, hardlink the already-big ones into the staging copy
    unchanged — O(small bytes) per call instead of :func:`compact_dir`'s
    O(directory) full rewrite, which at 1000x store size is the
    difference between maintenance and rewriting the corpus every few
    batches.

    Merge rule (RocksDB-universal-style): take the ascending-size
    prefix of the sub-half-target files whose total is >= 2x its
    largest member — the merged output then at least doubles every
    input, so a byte is rewritten at most log2(target / append) times
    over the store's lifetime. For the rule only, sizes are clamped
    up to ``min_merge_bytes`` (default ``target/64``): files that
    small cost nothing to rewrite, and without the clamp a handful of
    uneven tiny appends would never satisfy the doubling test and the
    file count would grow unboundedly. Files >= target/2 have
    graduated and are never rewritten (hardlinks — same-filesystem
    rename semantics, like every swap here; an object-store
    deployment would copy).

    Same validated staged rewrite as :func:`compact_dir`."""
    names = [f for f in os.listdir(path) if f.endswith(".parquet")]
    sized = sorted(((f, os.path.getsize(os.path.join(path, f)))
                    for f in names), key=lambda t: t[1])
    total = sum(s for _, s in sized)
    half = target_file_bytes // 2
    if min_merge_bytes is None:
        min_merge_bytes = target_file_bytes // 64
    merge = [t for t in sized if t[1] < half]
    eff = [max(s, min_merge_bytes) for _, s in merge]
    while merge and sum(eff) < 2 * eff[-1]:
        merge.pop()
        eff.pop()
    if len(merge) < 2:
        return {"files_before": len(sized), "files_after": len(sized),
                "bytes": total, "rows": None, "skipped": True}
    keep = [f for f, _ in sized if f not in {f for f, _ in merge}]
    df = spark.read.parquet(*(os.path.join(path, f) for f, _ in merge))
    writer = _sized_writer(df, sum(s for _, s in merge),
                           target_file_bytes, sort_within=sort_within)
    n_rows = df.count()  # parquet footer counts only
    live_rows = spark.read.parquet(path).count()

    def _write(staged: str) -> None:
        writer.parquet(staged)
        for f in keep:  # graduated files: hardlink, zero rewrite
            os.link(os.path.join(path, f), os.path.join(staged, f))

    def _check(staged: str) -> str | None:
        staged_rows = spark.read.parquet(staged).count()
        if staged_rows != live_rows:
            return (f"tiered compaction validation failed for {path}: "
                    f"{staged_rows} staged rows != {live_rows} source rows")
        return None

    commit.rewrite(path, _write, _check)
    n_after, _ = dir_stats(path)
    return {"files_before": len(sized), "files_after": n_after,
            "bytes": total, "rows": n_rows, "skipped": False}


def compact_frontier_store(spark: SparkSession, store_root: str,
                           target_file_bytes: int = 128 * 1024 * 1024
                           ) -> dict:
    """Compact the three append-only tables of a streaming crawl
    frontier store (:mod:`maps_spark.streaming.frontier`): every batch
    appends one file-set to refs/seen/edges, so a long-running crawl
    accumulates small files linearly with batch count. Same validated
    rewrite + recovery contract as the dedup store (run between
    triggers; call :func:`maps_spark.sources.commit.recover` on the
    store root on startup). ``batch_id`` is preserved — compaction
    changes file layout only, so ``read_frontier`` assembles
    identically."""
    out = {}
    for sub, sort in (("refs", ("norm_href",)),
                      ("seen", ("norm_href",)),
                      ("edges", ("src",))):
        p = f"{store_root.rstrip('/')}/{sub}"
        if os.path.isdir(p):
            out[sub] = compact_dir_tiered(spark, p, target_file_bytes,
                                          sort_within=sort)
    return out


def compact_dedup_store(spark: SparkSession, store_dir: str,
                        target_file_bytes: int = 128 * 1024 * 1024) -> dict:
    """Compact every table of a streaming dedup signature store
    (:mod:`maps_spark.streaming.dedup`): the flat tables merge only
    their small files (:func:`compact_dir_tiered` — graduated files
    hardlink through unchanged); the band index's L0 appends
    (``bands_l0``) fold into a NEW ``(band, bb)`` hive-partitioned L1
    segment (:func:`fold_l0_segments` — O(delta), size-tiered merges
    only when a tier over-fills), sorted by bucket key within
    files."""
    out = {}
    for sub, sort in (("sigs", ("doc_id",)),
                      ("hashes", ("text_hash",)),
                      ("dupes", ("doc_id",))):
        p = f"{store_dir}/{sub}"
        if os.path.isdir(p):
            out[sub] = compact_dir_tiered(spark, p, target_file_bytes,
                                          sort_within=sort)
    folded = fold_l0_segments(spark, f"{store_dir}/bands",
                              f"{store_dir}/bands_l0", target_file_bytes,
                              partition_by=("band", "bb"),
                              sort_within=("bh",),
                              stats=(("band", "bb"), "bh"),
                              sub_mod=("bb", "bh", 64))
    if folded is not None:
        out["bands"] = folded
    return out


def purge_rows(spark: SparkSession, path: str, ids, key: str,
               partition_by: tuple[str, ...] = (),
               sort_within: tuple[str, ...] = (),
               target_file_bytes: int = 128 * 1024 * 1024) -> dict:
    """Major compaction of one directory: rewrite it WITHOUT the rows
    whose ``key`` appears in ``ids`` (a DataFrame with that column).
    This is the physical-deletion half of tombstone retraction — the
    merge-on-read half (readers anti-join the tombstone set) makes
    deletion immediate; this pass makes it durable, the HBase
    major-compaction split. O(directory) by design: run it rarely,
    on takedown/retention cadence, not per batch.

    Same validated staged rewrite as :func:`compact_dir`; an
    all-purged table is retired (its directory unpublished)."""
    from pyspark.sql import Observation
    df = spark.read.parquet(path)
    keep = df.join(ids.select(key).distinct(), key, "left_anti")
    # early-terminating existence probe (as in purge_segments): an
    # all-purged table has no data to stage
    if not keep.take(1):
        commit.retire(path)
        return {"rows_after": 0, "dropped_dir": True}
    obs = Observation()
    writer = _sized_writer(keep.observe(obs, _count_star().alias("n")),
                           dir_stats(path)[1], target_file_bytes,
                           partition_by, sort_within)

    def _check(staged: str) -> str | None:
        staged_rows = spark.read.parquet(staged).count()
        if staged_rows != obs.get["n"]:
            return (f"purge validation failed for {path}: {staged_rows} "
                    f"staged rows != {obs.get['n']} surviving rows")
        return None

    commit.rewrite(path, writer.parquet, _check)
    return {"rows_after": int(obs.get["n"]), "dropped_dir": False}


def purge_segments(spark: SparkSession, root: str, ids, key: str,
                   partition_by: tuple[str, ...],
                   sort_within: tuple[str, ...] = (),
                   stats: tuple[tuple[str, str], str] | None = None,
                   target_file_bytes: int = 128 * 1024 * 1024,
                   sub_mod: tuple[str, str, int] | None = None
                   ) -> dict | None:
    """Major compaction of a segmented store: merge EVERY live
    segment minus the tombstoned rows into one new segment and swap
    the manifest to it. Crash-safe by the same publish order as
    :func:`_merge_segment_tiers`; replaying after a crash re-purges
    and converges (the tombstone set is still present until the
    caller clears it AFTER this returns)."""
    m = read_segment_manifest(root)
    if m is None or not m["segments"]:
        return None
    parts = [spark.read.parquet(os.path.join(root, s["name"]))
             for s in m["segments"]]
    df = parts[0]
    cols = sorted(df.columns)
    df = df.select(*cols)
    for p in parts[1:]:
        df = df.unionByName(p.select(*cols))
    df = df.join(ids.select(key).distinct(), key, "left_anti") \
        .dropDuplicates()
    # early-terminating existence probe, NOT a count — the store is
    # never materialized driver-side or checkpointed whole
    if not df.take(1):  # everything purged: empty store, no segment
        old = [s["name"] for s in m["segments"]]
        commit.write_json(_manifest_path(root), {
            "segments": [], "next": m["next"],
            "last_l0": m.get("last_l0")})
        for n in old:
            shutil.rmtree(os.path.join(root, n), ignore_errors=True)
        return {"segments": 0, "rows": 0, "bytes": 0}
    size_hint = sum(s.get("bytes", 0) for s in m["segments"])
    name = f"{SEG_PREFIX}{m['next']:08d}"
    size, rows, sub = _publish_segment(spark, root, df, size_hint,
                                       target_file_bytes, partition_by,
                                       sort_within, stats, name, sub_mod)
    entry = {"name": name, "bytes": size, "rows": rows}
    if sub is not None:
        entry["sub"] = sub
    old = [s["name"] for s in m["segments"]]
    commit.write_json(_manifest_path(root), {
        "segments": [entry],
        "next": m["next"] + 1, "last_l0": m.get("last_l0")})
    for n in old:
        shutil.rmtree(os.path.join(root, n), ignore_errors=True)
    return {"segments": 1, "rows": int(rows), "bytes": int(size)}


def compact_ann_store(spark: SparkSession, root: str,
                      target_file_bytes: int = 128 * 1024 * 1024
                      ) -> dict:
    """Compact the persisted ANN index
    (:mod:`maps_spark.sources.ann_index`): every streaming upsert
    appends one file-set per touched ``cluster=`` partition, so a
    long-running ingest accumulates small files linearly with batch
    count. Each cluster directory is a flat parquet dir (the
    partition value lives in the directory name, not the files), so
    the size-tiered merge applies per cluster — only small files are
    rewritten, graduated ones hardlink through. ``pq_codes`` (flat)
    gets the same treatment. Run between triggers; call
    :func:`maps_spark.sources.commit.recover` on ``vectors`` and
    ``pq_codes`` on startup."""
    out = {}
    vec_root = f"{root.rstrip('/')}/vectors"
    if os.path.isdir(vec_root):
        for d in sorted(os.listdir(vec_root)):
            p = os.path.join(vec_root, d)
            if d.startswith("cluster=") and os.path.isdir(p):
                res = compact_dir_tiered(spark, p, target_file_bytes,
                                         sort_within=("vec_id",))
                if not res.get("skipped"):
                    out[d] = res
    pq = f"{root.rstrip('/')}/pq_codes"
    if os.path.isdir(pq):
        res = compact_dir_tiered(spark, pq, target_file_bytes,
                                 sort_within=("vec_id",))
        if not res.get("skipped"):
            out["pq_codes"] = res
    return out


def purge_dedup_tombstones(spark: SparkSession, store_dir: str,
                           target_file_bytes: int = 128 * 1024 * 1024
                           ) -> dict | None:
    """Physical deletion for the dedup store's retractions
    (:func:`maps_spark.streaming.dedup.retract_docs` wrote the
    tombstone set; probes already anti-join it — this pass makes the
    deletion durable): fold any pending L0 so every band row is at
    the segment level, purge sigs/hashes (:func:`purge_rows`) and the
    band segments (:func:`purge_segments`), keep ``dupes`` — issued
    verdicts are history, not index state — then clear the tombstone
    set. Idempotent on replay: a crash anywhere leaves the tombstones
    in place, and re-purging drops nothing new. Run on
    takedown/retention cadence — O(store), the major compaction."""
    tpath = f"{store_dir}/tombstones"
    if not os.path.isdir(tpath):
        return None
    # self-repair first: a crashed earlier purge may have left
    # half-swapped tables or unreferenced segments
    commit.recover(store_dir)
    recover_segments(f"{store_dir}/bands")
    ids = (spark.read.parquet(tpath)
           .select("doc_id").distinct().localCheckpoint())
    out: dict = {"tombstones": ids.count()}
    fold_l0_segments(spark, f"{store_dir}/bands",
                     f"{store_dir}/bands_l0", target_file_bytes,
                     partition_by=("band", "bb"), sort_within=("bh",),
                     stats=(("band", "bb"), "bh"),
                     sub_mod=("bb", "bh", 64))
    for sub, sort in (("sigs", ("doc_id",)),
                      ("hashes", ("text_hash",))):
        p = f"{store_dir}/{sub}"
        if os.path.isdir(p):
            out[sub] = purge_rows(spark, p, ids, "doc_id",
                                  sort_within=sort,
                                  target_file_bytes=target_file_bytes)
    seg = purge_segments(spark, f"{store_dir}/bands", ids, "doc_id",
                         ("band", "bb"), ("bh",),
                         (("band", "bb"), "bh"), target_file_bytes,
                         sub_mod=("bb", "bh", 64))
    if seg is not None:
        out["bands"] = seg
    shutil.rmtree(tpath)
    return out


def purge_media_tombstones(spark: SparkSession, store_dir: str,
                           target_file_bytes: int = 128 * 1024 * 1024
                           ) -> dict | None:
    """Physical deletion for the image store's retractions — the
    dHash twin of :func:`purge_dedup_tombstones`: fold pending L0,
    purge ``hashes`` and the band segments, keep ``dupes`` (history),
    clear the tombstone set. Idempotent on replay."""
    tpath = f"{store_dir}/tombstones"
    if not os.path.isdir(tpath):
        return None
    commit.recover(store_dir)
    recover_segments(f"{store_dir}/bands")
    ids = (spark.read.parquet(tpath)
           .select("media_id").distinct().localCheckpoint())
    out: dict = {"tombstones": ids.count()}
    fold_l0_segments(spark, f"{store_dir}/bands",
                     f"{store_dir}/bands_l0", target_file_bytes,
                     partition_by=("bidx", "bb"),
                     sort_within=("bval",),
                     stats=(("bidx", "bb"), "bval"),
                     sub_mod=("bb", "bval", 64))
    p = f"{store_dir}/hashes"
    if os.path.isdir(p):
        out["hashes"] = purge_rows(spark, p, ids, "media_id",
                                   sort_within=("media_id",),
                                   target_file_bytes=target_file_bytes)
    seg = purge_segments(spark, f"{store_dir}/bands", ids, "media_id",
                         ("bidx", "bb"), ("bval",),
                         (("bidx", "bb"), "bval"), target_file_bytes,
                         sub_mod=("bb", "bval", 64))
    if seg is not None:
        out["bands"] = seg
    shutil.rmtree(tpath)
    return out


def compact_media_store(spark: SparkSession, store_dir: str,
                        target_file_bytes: int = 128 * 1024 * 1024) -> dict:
    """Compact the streaming IMAGE dedup store
    (:mod:`maps_spark.streaming.media`): hashes/dupes merge their
    small files (tiered); the dHash band index's L0 appends fold into
    a new ``(bidx, bb)`` hive-partitioned L1 segment."""
    out = {}
    for sub, sort in (("hashes", ("media_id",)),
                      ("dupes", ("media_id",))):
        p = f"{store_dir}/{sub}"
        if os.path.isdir(p):
            out[sub] = compact_dir_tiered(spark, p, target_file_bytes,
                                          sort_within=sort)
    folded = fold_l0_segments(spark, f"{store_dir}/bands",
                              f"{store_dir}/bands_l0", target_file_bytes,
                              partition_by=("bidx", "bb"),
                              sort_within=("bval",),
                              stats=(("bidx", "bb"), "bval"),
                              sub_mod=("bb", "bval", 64))
    if folded is not None:
        out["bands"] = folded
    return out
