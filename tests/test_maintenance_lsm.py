"""Size-tiered LSM maintenance (:mod:`maps_spark.sources.maintenance`).

The round-10 compaction redesign: folding the band-index L0 must cost
O(delta) — a new immutable segment — never an O(store) rewrite, and
flat append tables must merge only their small files (hardlinking the
graduated ones). These tests pin the write-cost shape (which files
get rewritten), the manifest crash contract (orphans dropped, replays
converge), and that readers see identical rows through every
compaction state.

The reference leans on HBase's own minor/major compactions for the
same problem (tile store regions); a Parquet store needs the LSM
discipline spelled out, which is what is pinned here.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F


def _rows(spark, path):
    return {tuple(r) for r in spark.read.parquet(path).collect()}


def _seg_rows(spark, root):
    from maps_spark.sources.maintenance import list_segments
    out = set()
    for s in list_segments(root):
        out |= {(r["band"], r["bb"], r["bh"], r["doc_id"])
                for r in spark.read.parquet(s).collect()}
    return out


def _write_l0(spark, l0, start, n, offset=0):
    (spark.range(start, start + n)
     .select((F.col("id") % 4).alias("band"),
             (F.col("id") % 8).alias("bb"),
             (F.col("id") * 13 + offset).alias("bh"),
             F.col("id").alias("doc_id"))
     .repartition(2).write.mode("append").parquet(l0))


class TestFoldL0Segments:
    def test_fold_creates_segment_and_clears_l0(self, spark, tmp_path):
        from maps_spark.sources.maintenance import (fold_l0_segments,
                                                    list_segments,
                                                    read_segment_manifest)
        root, l0 = str(tmp_path / "bands"), str(tmp_path / "l0")
        _write_l0(spark, l0, 0, 100)
        expect = _rows(spark, l0)
        out = fold_l0_segments(spark, root, l0,
                               partition_by=("band", "bb"),
                               sort_within=("bh",),
                               stats=(("band", "bb"), "bh"))
        assert out["segments"] == 1 and out["folded"]["rows"] == 100
        assert not os.path.isdir(l0)
        segs = list_segments(root)
        assert len(segs) == 1
        assert os.path.isdir(f"{segs[0]}/_stats")  # per-segment Bloom
        assert _seg_rows(spark, root) == expect
        m = read_segment_manifest(root)
        assert m["segments"][0]["rows"] == 100
        assert m["segments"][0]["bytes"] > 0

    def test_folds_accumulate_segments_not_rewrites(self, spark,
                                                    tmp_path):
        """Each fold publishes a NEW segment; earlier segment files
        are never rewritten (same inode mtimes) — the O(delta) claim
        as a file-level assertion."""
        from maps_spark.sources.maintenance import (fold_l0_segments,
                                                    list_segments)
        root, l0 = str(tmp_path / "bands"), str(tmp_path / "l0")
        _write_l0(spark, l0, 0, 60)
        fold_l0_segments(spark, root, l0, partition_by=("band", "bb"))
        first = list_segments(root)[0]
        before = {p: os.path.getmtime(os.path.join(r, p))
                  for r, _d, fs in os.walk(first) for p in fs}
        _write_l0(spark, l0, 60, 60)
        out = fold_l0_segments(spark, root, l0,
                               partition_by=("band", "bb"))
        assert out["segments"] == 2 and out["merges"] == []
        after = {p: os.path.getmtime(os.path.join(r, p))
                 for r, _d, fs in os.walk(first) for p in fs}
        assert after == before  # untouched
        assert len(_seg_rows(spark, root)) == 120

    def test_tier_merge_caps_segment_count(self, spark, tmp_path):
        """With tier_fanout=2, same-size segments merge pairwise and
        cascade — the store converges to O(log n) segments and no
        rows are lost or duplicated."""
        from maps_spark.sources.maintenance import (fold_l0_segments,
                                                    read_segment_manifest)
        root, l0 = str(tmp_path / "bands"), str(tmp_path / "l0")
        expect = set()
        for i in range(4):
            _write_l0(spark, l0, i * 50, 50)
            expect |= _rows(spark, l0)
            fold_l0_segments(spark, root, l0,
                             partition_by=("band", "bb"),
                             sort_within=("bh",),
                             stats=(("band", "bb"), "bh"),
                             tier_fanout=2)
        m = read_segment_manifest(root)
        # 4 equal folds at fanout 2: pairs merge and the merged pair
        # cascades — far fewer than 4 segments remain
        assert 1 <= len(m["segments"]) <= 2
        assert sum(s["rows"] for s in m["segments"]) == 200
        assert _seg_rows(spark, root) == expect
        # every surviving segment has its own Bloom stats
        from maps_spark.sources.maintenance import list_segments
        assert all(os.path.isdir(f"{s}/_stats")
                   for s in list_segments(root))

    def test_replayed_fold_converges(self, spark, tmp_path):
        """Crash between manifest swap and L0 cleanup: the refold must
        recognise the already-published L0 (fingerprint) and delete it
        instead of folding it twice."""
        from maps_spark.sources.maintenance import fold_l0_segments
        root, l0 = str(tmp_path / "bands"), str(tmp_path / "l0")
        _write_l0(spark, l0, 0, 80)
        keep = str(tmp_path / "l0_copy")
        shutil.copytree(l0, keep)
        fold_l0_segments(spark, root, l0, partition_by=("band", "bb"))
        # simulate the crash: L0 reappears exactly as already folded
        shutil.copytree(keep, l0)
        out = fold_l0_segments(spark, root, l0,
                               partition_by=("band", "bb"))
        assert out["segments"] == 1 and out["folded"] is None
        assert not os.path.isdir(l0)
        assert len(_seg_rows(spark, root)) == 80  # no accretion

    def test_recover_segments_drops_orphans(self, spark, tmp_path):
        """A segment directory the manifest never names (crash before
        the manifest swap) is dropped; live segments survive."""
        from maps_spark.sources.commit import staging
        from maps_spark.sources.maintenance import (fold_l0_segments,
                                                    list_segments,
                                                    recover_segments)
        root, l0 = str(tmp_path / "bands"), str(tmp_path / "l0")
        _write_l0(spark, l0, 0, 40)
        fold_l0_segments(spark, root, l0, partition_by=("band", "bb"))
        live = list_segments(root)
        orphan = os.path.join(root, "seg-99999999")
        os.makedirs(orphan)
        tmp = staging(os.path.join(root, "seg-00000042"))
        os.makedirs(tmp)
        assert recover_segments(root) == "cleaned"
        assert not os.path.isdir(orphan) and not os.path.isdir(tmp)
        assert list_segments(root) == live
        assert len(_seg_rows(spark, root)) == 40


class TestCompactDirTiered:
    def _append(self, spark, path, start, n):
        (spark.range(start, start + n)
         .select(F.col("id").alias("doc_id"),
                 F.md5(F.col("id").cast("string")).alias("text_hash"))
         .coalesce(1).write.mode("append").parquet(path))

    def test_merges_smalls_links_bigs(self, spark, tmp_path):
        """Small files merge; files >= target/2 are HARDLINKED into
        the rewrite (same inode — zero bytes rewritten), and the
        merged store reads identically."""
        from maps_spark.sources.maintenance import compact_dir_tiered
        p = str(tmp_path / "t")
        for i in range(4):
            self._append(spark, p, i * 100, 100)
        expect = _rows(spark, p)
        # tiny target so every existing file counts as "graduated"
        files = [f for f in os.listdir(p) if f.endswith(".parquet")]
        sizes = {f: os.path.getsize(os.path.join(p, f)) for f in files}
        big = max(files, key=lambda f: sizes[f])
        big_inode = os.stat(os.path.join(p, big)).st_ino
        target = sizes[big] * 2 - 1  # big >= target/2, others likely too
        out = compact_dir_tiered(spark, p, target,
                                 sort_within=("doc_id",))
        assert _rows(spark, p) == expect
        if not out["skipped"]:
            assert os.stat(os.path.join(p, big)).st_ino == big_inode

        # big target: everything is small -> one merged file set
        out2 = compact_dir_tiered(spark, p, 1 << 30,
                                  sort_within=("doc_id",))
        assert not out2["skipped"]
        assert out2["files_after"] < out2["files_before"]
        assert _rows(spark, p) == expect

    def test_geometric_rule_skips_lopsided_merge(self, spark, tmp_path):
        """One dominant small + one tiny file: merging would rewrite
        the dominant file for a negligible gain, so the rule (total
        >= 2x largest member, min_merge_bytes=0 to expose the pure
        geometry) excludes it and merges nothing. With the default
        tiny-file clamp the same pair DOES merge — rewriting bytes
        this small is free and bounds the file count."""
        from maps_spark.sources.maintenance import compact_dir_tiered
        p = str(tmp_path / "t")
        self._append(spark, p, 0, 5000)   # dominant
        self._append(spark, p, 5000, 10)  # tiny
        out = compact_dir_tiered(spark, p, 1 << 30, min_merge_bytes=0)
        assert out["skipped"]
        assert out["files_after"] == out["files_before"]
        expect = _rows(spark, p)
        out2 = compact_dir_tiered(spark, p, 1 << 30)
        assert not out2["skipped"]
        assert out2["files_after"] < out2["files_before"]
        assert _rows(spark, p) == expect

    def test_repeated_compaction_is_idempotent(self, spark, tmp_path):
        from maps_spark.sources.maintenance import compact_dir_tiered
        p = str(tmp_path / "t")
        for i in range(3):
            self._append(spark, p, i * 50, 50)
        expect = _rows(spark, p)
        compact_dir_tiered(spark, p, 1 << 30)
        out = compact_dir_tiered(spark, p, 1 << 30)
        assert out["skipped"]  # single merged file: nothing to do
        assert _rows(spark, p) == expect


class TestDedupStoreLsm:
    def test_multi_fold_cadence_equals_uncompacted_twin(self, spark,
                                                        tmp_path):
        """Six batches at compact_every=2 produce multiple folds (and
        with the default fanout no merge yet) — verdicts and accepted
        sets must be bit-identical to the never-compacted twin, and
        the band store must hold exactly one row set (no accretion
        across folds)."""
        from maps_spark.sources.maintenance import list_segments
        from maps_spark.streaming.dedup import (accepted_ids, rejected,
                                                run_incremental_dedup)

        def mk(tag, i):
            base = f"{tag} content words w{i} " * 8
            return [(i * 10 + 1, base), (i * 10 + 2, base + " extra")]

        landing = str(tmp_path / "landing")
        rows = []
        for i in range(6):
            rows = mk("doc", i)
            (spark.createDataFrame(rows, "doc_id long, text string")
             .coalesce(1).write.mode("append").parquet(landing))

        def run(root, every):
            q = run_incremental_dedup(spark, landing, root,
                                      max_files_per_trigger=1,
                                      compact_every=every, threshold=0.5)
            q.awaitTermination(300)
            acc = {r.doc_id for r in
                   accepted_ids(spark, root).collect()}
            rej = {(r.doc_id, r.dup_of, r.jaccard_est, r.batch_id)
                   for r in rejected(spark, root).collect()}
            return acc, rej

        s1, s2 = str(tmp_path / "lsm"), str(tmp_path / "plain")
        assert run(s1, 2) == run(s2, None)
        segs = list_segments(f"{s1}/bands")
        assert len(segs) >= 2  # several folds -> several segments
        # sum of segment rows == the plain store's band rows. The
        # sub-bucket routing key bb is adaptive per segment (bb =
        # bh mod seg.sub), so compare the semantic index content
        # (band, bh, doc_id) and check each segment's bb is exactly
        # its recorded fold of bh.
        from maps_spark.sources.maintenance import read_segment_manifest
        m = read_segment_manifest(f"{s1}/bands")
        lsm_rows = set()
        for s, seg_path in zip(m["segments"], segs):
            rows6 = spark.read.parquet(seg_path).collect()
            sub = s.get("sub", 64)
            assert all(r["bb"] == r["bh"] % sub for r in rows6)
            lsm_rows |= {(r["band"], r["bh"], r["doc_id"])
                         for r in rows6}
        plain = {(r["band"], r["bh"], r["doc_id"]) for r in
                 spark.read.parquet(f"{s2}/bands_l0").collect()}
        assert lsm_rows | {
            (r["band"], r["bh"], r["doc_id"]) for r in
            spark.read.parquet(f"{s1}/bands_l0").collect()} == plain
