"""Structured Streaming refresh: the merged incremental pixel store
must equal the batch pipeline exactly (counts are associative), and the
merge must (a) accumulate across micro-batches and (b) rewrite only the
touched hash-bucket partitions."""

import hashlib
import os

import pyspark.sql.functions as F

from tests.conftest import SF_SMALL


def _dir_digest(root):
    """(relpath -> md5) of every data file under a store directory."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(dirpath, f)
            out[os.path.relpath(p, root)] = hashlib.md5(
                open(p, "rb").read()).hexdigest()
    return out


class TestRefresh:
    def test_stream_merge_equals_batch(self, spark, tmp_path):
        from maps_spark.operators import pyramid as PY
        from maps_spark.sources.occurrence import occurrence_df
        from maps_spark.streaming.refresh import read_pixel_store, run_refresh

        store = str(tmp_path / "pixels")
        q = run_refresh(spark, f"{SF_SMALL}/events.parquet",
                        f"{SF_SMALL}/nation.parquet", store,
                        srs="EPSG:3857", zoom=6)
        q.awaitTermination(300)

        merged = read_pixel_store(spark, store)
        batch = PY.pixel_table(
            PY.keyed_occurrence(occurrence_df(spark, SF_SMALL)),
            "EPSG:3857", 6)
        diff = (merged.exceptAll(batch).count() +
                batch.exceptAll(merged).count())
        assert diff == 0

    def test_multi_batch_accumulates(self, spark, tmp_path):
        """>maxFilesPerTrigger input files -> multiple micro-batches; the
        final store must still equal the batch pipeline over ALL files
        (regression: earlier merge dropped all but the last batch)."""
        from maps_spark.operators import pyramid as PY
        from maps_spark.sources.occurrence import occurrence_df
        from maps_spark.streaming.refresh import read_pixel_store, run_refresh

        landing = str(tmp_path / "landing")
        (spark.read.parquet(f"{SF_SMALL}/events.parquet")
         .repartition(9).write.parquet(landing))
        n_files = len([f for f in os.listdir(landing)
                       if f.endswith(".parquet")])
        assert n_files > 4  # maxFilesPerTrigger=4 -> at least 3 batches

        store = str(tmp_path / "pixels")
        q = run_refresh(spark, landing, f"{SF_SMALL}/nation.parquet",
                        store, srs="EPSG:3857", zoom=6)
        q.awaitTermination(300)

        merged = read_pixel_store(spark, store)
        batch = PY.pixel_table(
            PY.keyed_occurrence(occurrence_df(spark, SF_SMALL)),
            "EPSG:3857", 6)
        diff = (merged.exceptAll(batch).count() +
                batch.exceptAll(merged).count())
        assert diff == 0

    def test_untouched_buckets_not_rewritten(self, spark, tmp_path):
        """A delta touching one mapKey must leave every other bucket's
        files byte-identical (dynamic partition overwrite, pruned read)."""
        from maps_spark.streaming.refresh import merge_into_pixels

        store = str(tmp_path / "pixels")
        base = spark.createDataFrame(
            [(f"2:ds-{i}", i, i, 2000 + i, 1) for i in range(50)],
            "mapKey string, px int, py int, borYear int, cnt bigint")
        merge_into_pixels(base, store, n_buckets=16)
        before = _dir_digest(store)

        delta = spark.createDataFrame(
            [("2:ds-0", 0, 0, 2000, 5)],
            "mapKey string, px int, py int, borYear int, cnt bigint")
        merge_into_pixels(delta, store, n_buckets=16)
        after = _dir_digest(store)

        touched = spark.createDataFrame([("2:ds-0",)], "mapKey string") \
            .select(F.pmod(F.xxhash64("mapKey"), F.lit(16)).cast("int")) \
            .first()[0]
        touched_dir = f"bucket={touched}"
        for rel, digest in before.items():
            if rel.startswith(touched_dir):
                continue
            assert after.get(rel) == digest, f"untouched file rewritten: {rel}"

        # and the touched pixel really merged (1 + 5)
        got = (spark.read.parquet(store)
               .where("mapKey = '2:ds-0' AND px = 0").first())
        assert got["cnt"] == 6

    def test_incremental_tiles_match_full_encode(self, spark, tmp_path):
        """Streaming with a tile store: after all batches, every stored
        tile must decode to the same feature set as a from-scratch batch
        encode of the full data (byte equality is not required — feature
        order within a tile depends on arrival order)."""
        from maps_spark.functions import mvt
        from maps_spark.operators import pyramid as PY
        from maps_spark.sources.occurrence import occurrence_df
        from maps_spark.streaming.refresh import read_tile_store, run_refresh

        landing = str(tmp_path / "landing")
        (spark.read.parquet(f"{SF_SMALL}/events.parquet")
         .repartition(9).write.parquet(landing))

        pixels = str(tmp_path / "pixels")
        tiles = str(tmp_path / "tiles")
        q = run_refresh(spark, landing, f"{SF_SMALL}/nation.parquet",
                        pixels, srs="EPSG:3857", zoom=5, tile_store=tiles)
        q.awaitTermination(300)

        got = {(r["mapKey"], r["x"], r["y"]): bytes(r["tile"])
               for r in read_tile_store(spark, tiles).collect()}
        pixels = PY.pixel_table(
            PY.keyed_occurrence(occurrence_df(spark, SF_SMALL)),
            "EPSG:3857", 5)
        batch = PY.encode_mvt(PY.tile_rows(pixels, "EPSG:3857", 5)
                              .withColumn("z", F.lit(5)))
        want = {(r["mapKey"], r["x"], r["y"]): bytes(r["tile"])
                for r in batch.collect()}
        assert set(got) == set(want)

        def canon(b):
            return {layer: sorted((x, y, tuple(sorted(attrs.items())))
                                  for x, y, attrs in feats)
                    for layer, feats in mvt.decode_tile(b).items()}

        for key in want:
            assert canon(got[key]) == canon(want[key]), key

    def test_untouched_tile_buckets_not_rewritten(self, spark, tmp_path):
        """A delta touching one mapKey must leave every other tile
        bucket's files byte-identical, and must refresh the touched
        tile's bytes from the MERGED pixel state."""
        from maps_spark.functions import mvt
        from maps_spark.streaming.refresh import (merge_into_pixels,
                                                  merge_into_tiles)

        pixels = str(tmp_path / "pixels")
        tiles = str(tmp_path / "tiles")
        base = spark.createDataFrame(
            [(f"2:ds-{i}", 100 + i, 100 + i, 200001, 1) for i in range(50)],
            "mapKey string, px int, py int, borYear int, cnt bigint")
        merge_into_pixels(base, pixels, n_buckets=16)
        merge_into_tiles(base, pixels, tiles, "EPSG:3857", 5, n_buckets=16)
        before = _dir_digest(tiles)

        delta = spark.createDataFrame(
            [("2:ds-0", 100, 100, 200001, 4)],
            "mapKey string, px int, py int, borYear int, cnt bigint")
        merge_into_pixels(delta, pixels, n_buckets=16)
        merge_into_tiles(delta, pixels, tiles, "EPSG:3857", 5, n_buckets=16)
        after = _dir_digest(tiles)

        touched = spark.createDataFrame([("2:ds-0",)], "mapKey string") \
            .select(F.pmod(F.xxhash64("mapKey"), F.lit(16)).cast("int")) \
            .first()[0]
        for rel, digest in before.items():
            if rel.startswith(f"bucket={touched}"):
                continue
            assert after.get(rel) == digest, f"untouched file rewritten: {rel}"

        got = (spark.read.parquet(tiles)
               .where("mapKey = '2:ds-0'").collect())
        assert got, "touched tile missing after merge"
        total = sum(sum(mvt.tile_totals(bytes(r["tile"])).values())
                    for r in got)
        # merged count is 1 + 4 = 5; the pixel may fan into buffer
        # copies, each carrying the merged count
        assert total % 5 == 0 and total >= 5

    def test_replayed_batches_are_idempotent(self, spark, tmp_path):
        """foreachBatch is at-least-once: re-delivering already-applied
        batch ids (fresh checkpoint over the same store) must NOT
        double-count — the batch-id marker guard skips them."""
        from maps_spark.streaming.refresh import read_pixel_store, run_refresh

        store = str(tmp_path / "pixels")
        q = run_refresh(spark, f"{SF_SMALL}/events.parquet",
                        f"{SF_SMALL}/nation.parquet", store,
                        srs="EPSG:3857", zoom=6)
        q.awaitTermination(300)
        before = sorted(map(tuple, read_pixel_store(spark, store).collect()))
        assert before

        # same input, same store, fresh (temp) checkpoint -> the stream
        # replays batch 0; without the guard every count doubles
        q2 = run_refresh(spark, f"{SF_SMALL}/events.parquet",
                         f"{SF_SMALL}/nation.parquet", store,
                         srs="EPSG:3857", zoom=6)
        q2.awaitTermination(300)
        after = sorted(map(tuple, read_pixel_store(spark, store).collect()))
        assert after == before

    def test_merge_crash_mid_swap_replay_conserves_mass(
            self, spark, tmp_path, monkeypatch):
        """VERDICT r10 #5: a crash after SOME bucket directories
        swapped but before the batch marker commits must not
        double-apply the delta to those buckets on replay (and a crash
        between the two renames must not lose a bucket's history).
        Kill the swap after k renames, replay the same batch, and
        assert the store equals the uninterrupted result exactly."""
        import os as _os

        from maps_spark.sources.commit import staging
        from maps_spark.streaming import refresh as R

        rows = [(f"2:ds-{i}", i, i, 2000 + i, 1) for i in range(50)]
        schema = "mapKey string, px int, py int, borYear int, cnt bigint"
        base = spark.createDataFrame(rows, schema)
        delta = spark.createDataFrame(rows[:20], schema)

        # uninterrupted twin: what the store must equal after replay
        want_store = str(tmp_path / "want")
        R.merge_into_pixels(base, want_store, n_buckets=16, batch_id=0)
        R.merge_into_pixels(delta, want_store, n_buckets=16, batch_id=1)
        want = sorted(map(tuple,
                          spark.read.parquet(want_store).collect()))

        for kill_after in (0, 1, 3):  # incl. mid-two-rename (k=0 aside
            store = str(tmp_path / f"crash{kill_after}")  # done, no src)
            R.merge_into_pixels(base, store, n_buckets=16, batch_id=0)

            real_rename = _os.rename
            calls = {"n": 0}

            def boom(src, dst, _real=real_rename, _c=calls,
                     _k=kill_after, _staged=staging(store)):
                # count only live-store bucket swaps (src in staging)
                if src.startswith(_staged) and "/bucket=" in dst:
                    if _c["n"] >= _k:
                        # crash AFTER renaming the live dir aside for
                        # kill_after==0: the aside rename (src is the
                        # live dir) happened via the branch below
                        raise OSError("injected crash mid-swap")
                    _c["n"] += 1
                return _real(src, dst)

            monkeypatch.setattr(R.os, "rename", boom)
            try:
                R.merge_into_pixels(delta, store, n_buckets=16,
                                    batch_id=1)
            except OSError:
                pass
            monkeypatch.setattr(R.os, "rename", real_rename)

            # replay the same batch id (marker not advanced)
            R.merge_into_pixels(delta, store, n_buckets=16, batch_id=1)
            got = sorted(map(tuple, R.read_pixel_store(
                spark, store).collect()))
            want_nb = sorted(map(tuple, R.read_pixel_store(
                spark, want_store).collect()))
            assert got == want_nb, f"kill_after={kill_after}"
            assert sorted(map(tuple,
                              spark.read.parquet(store)
                              .collect())) == want, \
                f"kill_after={kill_after}"

    def test_windowed_watermark_agg(self, spark):
        from maps_spark.streaming.refresh import windowed_event_counts

        w = windowed_event_counts(spark, f"{SF_SMALL}/events.parquet")
        q = (w.writeStream.outputMode("append").format("memory")
             .queryName("winagg_test").trigger(availableNow=True).start())
        q.awaitTermination(300)
        out = spark.sql("SELECT * FROM winagg_test")
        assert out.count() > 0
        assert {"window_start", "event_type", "n", "total_value"} <= set(
            out.columns)


class TestIncrementalDedup:
    """Streaming dedup against the persisted signature store."""

    def _write_batches(self, spark, landing):
        # batch files land one per trigger (maxFilesPerTrigger=1).
        # Docs use pairwise-disjoint vocabularies so the only dupes are
        # the planted ones.
        os.makedirs(landing, exist_ok=True)
        b1 = [(i, " ".join(f"w{i}t{j}" for j in range(40)))
              for i in range(10)]
        # batch 2: one exact copy of doc 3, one near-dup of doc 5
        # (one token changed), three novel docs
        near = b1[5][1].replace("w5t20", "changed")
        b2 = ([(103, b1[3][1]), (105, near)] +
              [(110 + i, " ".join(f"n{i}x{j}" for j in range(30)))
               for i in range(3)])
        # batch 3: exact copy of a batch-2 novel doc
        b3 = [(120, b2[2][1]), (121, "yet another fresh document " * 8)]
        for name, rows in (("a", b1), ("b", b2), ("c", b3)):
            (spark.createDataFrame(rows, "doc_id long, text string")
             .coalesce(1).write.parquet(f"{landing}/{name}"))
            for f in os.listdir(f"{landing}/{name}"):
                if f.endswith(".parquet"):
                    os.rename(f"{landing}/{name}/{f}",
                              f"{landing}/batch_{name}.parquet")
            import shutil
            shutil.rmtree(f"{landing}/{name}")

    def test_cross_batch_dupes_detected(self, spark, tmp_path):
        from maps_spark.streaming.dedup import (accepted_ids, rejected,
                                                run_incremental_dedup)
        landing = str(tmp_path / "landing")
        store = str(tmp_path / "store")
        self._write_batches(spark, landing)
        q = run_incremental_dedup(spark, landing, store,
                                  max_files_per_trigger=1, threshold=0.5)
        q.awaitTermination(300)

        rej = {r.doc_id: r for r in rejected(spark, store).collect()}
        acc = {r.doc_id for r in accepted_ids(spark, store).collect()}
        # exact cross-batch copy -> rejected with jaccard 1.0
        assert rej[103].dup_of == 3 and rej[103].jaccard_est == 1.0
        # near-dup (one word changed) -> rejected against stored doc 5
        assert rej[105].dup_of == 5 and rej[105].jaccard_est >= 0.5
        # batch-3 copy of a batch-2 NOVEL doc -> dup of that doc
        assert rej[120].dup_of == 110
        # novel docs accepted exactly once
        assert 110 in acc and 121 in acc
        assert 103 not in acc and 105 not in acc and 120 not in acc
        assert len(acc) == 10 + 3 + 1

    def test_store_probe_reads_bounded_subset(self, spark, tmp_path,
                                              monkeypatch):
        """The store probe must open only the batch's touched
        (band, bb) L1 sub-bucket directories plus the small L0 append
        level — per-batch read cost is O(batch + L0), never
        O(accumulated compacted store). SUB_TARGET_BYTES is pinned
        tiny so the fold keeps the FULL sub-bucket fan-out at test
        scale (the file-count bounds below are the full-fan-out
        contract; the adaptive coarse fan-out for small segments is
        covered in test_bloom)."""
        import os

        import pyspark.sql.functions as F

        from maps_spark.operators.dedup import minhash_signatures
        from maps_spark.sources import maintenance as M
        from maps_spark.sources.maintenance import compact_dedup_store
        from maps_spark.streaming.dedup import (_band_table, process_batch,
                                                read_store_bands)
        monkeypatch.setattr(M, "SUB_TARGET_BYTES", 1)
        store = str(tmp_path / "store")
        docs = spark.createDataFrame(
            [(i, " ".join(f"d{i}w{j}" for j in range(30)))
             for i in range(300)],
            "doc_id long, text string")
        process_batch(docs, store, batch_id=0)
        # appends land in L0 as a couple of files — ONE output commit,
        # not one per (band, bb) directory
        assert not os.path.isdir(f"{store}/bands")
        l0_files = [f for f in os.listdir(f"{store}/bands_l0")
                    if f.endswith(".parquet")]
        assert 1 <= len(l0_files) <= 4

        probe = spark.createDataFrame(
            [(999, " ".join(f"p{j}" for j in range(25)))],
            "doc_id long, text string")
        sigs = minhash_signatures(probe)
        touched = [(r["band"], r["bb"]) for r in
                   _band_table(sigs, 16, 4).select("band", "bb")
                   .distinct().collect()]
        cond = F.lit(False)
        for bnd, sb in touched:
            cond = cond | ((F.col("band") == bnd) & (F.col("bb") == sb))

        # compaction folds L0 into the hive-partitioned L1
        compact_dedup_store(spark, store)
        assert not os.path.isdir(f"{store}/bands_l0")
        full = read_store_bands(spark, store)
        n_full = len(full.inputFiles())
        assert n_full > 16  # the L1 index fans out across sub-buckets
        pruned = read_store_bands(spark, store, touched)
        n_pruned = 0 if pruned is None else len(pruned.inputFiles())
        # a 1-doc probe touches at most one sub-bucket dir per band
        assert n_pruned <= 16
        assert n_pruned < n_full
        if pruned is not None:
            # pruned read returns exactly the full read's rows for the
            # touched sub-buckets — pruning loses nothing
            assert pruned.count() == full.where(cond).count()

        # a fresh batch re-creates L0; the probe unions pruned L1 +
        # row-filtered L0 and still loses nothing vs the full read
        more = spark.createDataFrame(
            [(1000 + i, " ".join(f"x{i}w{j}" for j in range(30)))
             for i in range(50)],
            "doc_id long, text string")
        process_batch(more, store, batch_id=1)
        assert os.path.isdir(f"{store}/bands_l0")
        full2 = read_store_bands(spark, store)
        pruned2 = read_store_bands(spark, store, touched)
        # pruned file set = touched L1 dirs + the bounded L0 level
        n_l0 = len([f for f in os.listdir(f"{store}/bands_l0")
                    if f.endswith(".parquet")])
        assert len(pruned2.inputFiles()) <= 16 + n_l0
        assert pruned2.count() == full2.where(cond).count()

    def test_replayed_batch_is_skipped(self, spark, tmp_path):
        from maps_spark.streaming.dedup import accepted_ids, process_batch
        store = str(tmp_path / "store")
        docs = spark.createDataFrame(
            [(1, "alpha beta gamma " * 5), (2, "delta epsilon zeta " * 5)],
            "doc_id long, text string")
        from maps_spark.sources.commit import applied_batch, commit_batch
        marker = store + "/_meta/last_batch.json"
        for replay in range(2):  # same batch id delivered twice
            if applied_batch(marker) >= 0:
                continue
            process_batch(docs, store, batch_id=0)
            commit_batch(marker, 0)
        assert accepted_ids(spark, store).count() == 2


class TestCompaction:
    def test_compact_preserves_store_and_cuts_files(self, spark, tmp_path):
        """After a multi-batch incremental dedup run, compaction must
        fold the per-batch appended files into one file per table (tiny
        store, big target) WITHOUT changing any query result, and keep
        the bands table's hive partitioning."""
        from maps_spark.sources.maintenance import (compact_dedup_store,
                                                    dir_stats)
        from maps_spark.streaming.dedup import (accepted_ids, rejected,
                                                run_incremental_dedup)
        landing = str(tmp_path / "landing")
        store = str(tmp_path / "store")
        TestIncrementalDedup._write_batches(
            TestIncrementalDedup(), spark, landing)
        q = run_incremental_dedup(spark, landing, store,
                                  max_files_per_trigger=1, threshold=0.5)
        q.awaitTermination(300)

        acc_before = {r.doc_id for r in accepted_ids(spark, store).collect()}
        rej_before = {(r.doc_id, r.dup_of, r.jaccard_est, r.batch_id)
                      for r in rejected(spark, store).collect()}
        files_before, _ = dir_stats(f"{store}/sigs")
        assert files_before >= 3  # one append per batch

        stats = compact_dedup_store(spark, store)
        assert stats["sigs"]["files_after"] < stats["sigs"]["files_before"]
        # band= hive partitioning survives inside the published
        # segment (probe path-pruning depends on it)
        from maps_spark.sources.maintenance import list_segments
        segs = list_segments(f"{store}/bands")
        assert segs and any(d.startswith("band=")
                            for d in os.listdir(segs[0]))
        acc_after = {r.doc_id for r in accepted_ids(spark, store).collect()}
        rej_after = {(r.doc_id, r.dup_of, r.jaccard_est, r.batch_id)
                     for r in rejected(spark, store).collect()}
        assert acc_after == acc_before
        assert rej_after == rej_before

        # and the compacted store still serves incremental batches
        from maps_spark.streaming.dedup import process_batch
        extra = spark.createDataFrame(
            [(200, "totally novel content " * 6)],
            "doc_id long, text string")
        process_batch(extra, store, batch_id=99)
        assert 200 in {r.doc_id
                       for r in accepted_ids(spark, store).collect()}

    def test_recover_compaction(self, spark, tmp_path):
        """Crash-repair: an orphaned .old is restored as live; stale
        staging/.old dirs beside a live store are cleared."""
        import os

        from maps_spark.sources.commit import recover, staging
        p = str(tmp_path / "t")
        spark.range(100).write.parquet(p)
        # crash between the two swap renames: live path is absent
        os.rename(p, p + ".old")
        assert recover(p) == "restored"
        assert spark.read.parquet(p).count() == 100
        # stale staging beside a live store is cleaned up
        os.makedirs(staging(p))
        assert recover(p) == "cleaned"
        assert not os.path.isdir(staging(p))
        assert recover(p) is None

    def test_compact_validation_rejects_short_rewrite(self, spark,
                                                      tmp_path,
                                                      monkeypatch):
        """A staging rewrite that loses rows must abort before the swap
        and leave the original store untouched."""
        import os

        import pytest

        import maps_spark.sources.maintenance as M
        from maps_spark.sources.commit import staging
        p = str(tmp_path / "t")
        spark.range(100).write.parquet(p)
        cls = type(spark.range(1))  # the concrete DataFrame class
        orig = cls.repartition

        def lossy(self, n, *cols):  # the rewrite silently drops rows
            return orig(self.limit(50), n, *cols)

        monkeypatch.setattr(cls, "repartition", lossy)
        with pytest.raises(RuntimeError, match="validation failed"):
            M.compact_dir(spark, p)
        monkeypatch.undo()
        assert spark.read.parquet(p).count() == 100
        assert not os.path.isdir(staging(p))


def test_streaming_ann_ingest_matches_bulk_upsert(spark, tmp_path):
    import pyspark.sql.functions as F
    from maps_spark.sources.ann_index import (build_ivf_index,
                                              query_ivf_index)
    from maps_spark.streaming.ann import run_ann_ingest
    from tests.conftest import SF_SMALL
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    root = str(tmp_path / "ivf")
    landing = str(tmp_path / "landing")
    build_ivf_index(emb.where("vec_id < 300"), root,
                    n_clusters=8, train_sample=300)
    # two landing files = two micro-batches (maxFilesPerTrigger=1)
    (emb.where("vec_id >= 300 and vec_id < 400").coalesce(1)
     .write.parquet(landing))
    (emb.where("vec_id >= 400").coalesce(1)
     .write.mode("append").parquet(landing))
    q = run_ann_ingest(spark, landing, root)
    q.awaitTermination(300)
    idx = spark.read.parquet(f"{root}/vectors")
    assert idx.count() == emb.count()
    assert idx.select("vec_id").distinct().count() == emb.count()
    # the streamed-in vectors serve through the query path
    hits = query_ivf_index(spark, root,
                           emb.where("vec_id >= 450").limit(4), k=5)
    assert hits.where("neighbor_id >= 300").count() > 0
    # a replayed sweep over the same landing zone appends nothing
    q2 = run_ann_ingest(spark, landing, root)
    q2.awaitTermination(300)
    assert spark.read.parquet(f"{root}/vectors").count() == emb.count()


def test_streaming_ann_ingest_compaction_twin(spark, tmp_path):
    """compact_every on the ANN ingest merges each cluster partition's
    per-batch appended small files (size-tiered, per cluster dir)
    WITHOUT changing a single serving result: top-k from the
    compacted store equals the uncompacted twin row for row, and the
    vectors' file count drops."""
    import pyspark.sql.functions as F  # noqa: F401
    from maps_spark.sources.ann_index import (build_ivf_index,
                                              query_ivf_index)
    from maps_spark.sources.maintenance import (compact_ann_store,
                                                dir_stats)
    from maps_spark.streaming.ann import run_ann_ingest
    from tests.conftest import SF_SMALL
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")

    def build(root, landing, every):
        build_ivf_index(emb.where("vec_id < 200"), root,
                        n_clusters=8, train_sample=200)
        for lo in range(200, 500, 100):  # three micro-batches
            (emb.where(f"vec_id >= {lo} and vec_id < {lo + 100}")
             .coalesce(1).write.mode("append").parquet(landing))
        q = run_ann_ingest(spark, landing, root, compact_every=every)
        q.awaitTermination(300)
        return {tuple(r) for r in query_ivf_index(
            spark, root, emb.where("vec_id >= 450").limit(6),
            k=5).collect()}

    r1 = build(str(tmp_path / "c"), str(tmp_path / "lc"), 2)
    r2 = build(str(tmp_path / "p"), str(tmp_path / "lp"), None)
    assert r1 == r2 != set()
    # a final full compaction on the plain store converges the two
    # stores to the same serving results AND cuts its file count
    before, _ = dir_stats(str(tmp_path / "p" / "vectors"))
    out = compact_ann_store(spark, str(tmp_path / "p"))
    after, _ = dir_stats(str(tmp_path / "p" / "vectors"))
    assert out and after < before
    r3 = {tuple(r) for r in query_ivf_index(
        spark, str(tmp_path / "p"),
        emb.where("vec_id >= 450").limit(6), k=5).collect()}
    assert r3 == r2


def test_streaming_sketch_store_equals_batch_build(spark, tmp_path):
    """Counter additivity end-to-end: after a multi-batch availableNow
    run, both maintained sketch stores are bit-identical to batch
    sketches over the whole events table; a second run with no new
    files changes nothing (batch-id replay guard)."""
    from maps_spark.operators.sessions import cms_build, value_sketch
    from maps_spark.streaming.sketches import (read_sketch_store,
                                               run_sketch_refresh)
    land = str(tmp_path / "land")
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    ev.repartition(8).write.mode("overwrite").parquet(land)
    store = str(tmp_path / "sketches")
    q = run_sketch_refresh(spark, land, store)
    q.awaitTermination(300)

    got_cms = {(r.d, r.bucket): r.cnt for r in
               read_sketch_store(spark, store, "cms").collect()}
    want_cms = {(r.d, r.bucket): r.cnt for r in cms_build(ev).collect()}
    assert got_cms == want_cms
    got_v = {r.bin: r.cnt for r in
             read_sketch_store(spark, store, "values").collect()}
    want_v = {r.bin: r.cnt for r in value_sketch(ev).collect()}
    assert got_v == want_v

    q2 = run_sketch_refresh(spark, land, store)
    q2.awaitTermination(300)
    again = {(r.d, r.bucket): r.cnt for r in
             read_sketch_store(spark, store, "cms").collect()}
    assert again == want_cms

    # versioned commit: exactly one committed snapshot survives per
    # sketch (stale versions dropped after the marker flip), and a
    # half-written orphan version is invisible to readers
    import os
    for which in ("cms", "values"):
        vs = [d for d in os.listdir(f"{store}/{which}")
              if d.startswith("v=")]
        assert len(vs) == 1, vs
    os.makedirs(f"{store}/cms/v=999", exist_ok=True)
    with open(f"{store}/cms/v=999/part-junk.parquet", "wb") as f:
        f.write(b"not parquet")  # simulates a crash mid-overwrite
    still = {(r.d, r.bucket): r.cnt for r in
             read_sketch_store(spark, store, "cms").collect()}
    assert still == want_cms


def test_streaming_heavy_hitters_tracked(spark, tmp_path):
    """A key that dominates cumulatively (batch-prominent each batch)
    must surface in the committed hitters table with an estimate >=
    its true count; estimates never undercount any tracked key."""
    import pyspark.sql.functions as F
    from maps_spark.streaming.sketches import (read_sketch_store,
                                               run_sketch_refresh)
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    hot = (ev.limit(300)
           .withColumn("user_id", F.lit(777777).cast("long")))
    land = str(tmp_path / "land")
    (ev.unionByName(hot).repartition(8)
     .write.mode("overwrite").parquet(land))
    store = str(tmp_path / "sk")
    q = run_sketch_refresh(spark, land, store, width=4096)
    q.awaitTermination(300)
    hitters = {r.key: r.est for r in
               read_sketch_store(spark, store, "hitters").collect()}
    assert 777777 in hitters
    true = {r.user_id: r.n for r in
            ev.unionByName(hot).groupBy("user_id")
            .agg(F.count("*").alias("n")).collect()}
    assert hitters[777777] >= true[777777] >= 300
    for k, est in hitters.items():
        assert est >= true[k]


class TestStreamingImageDedup:
    def _img(self, rng, noisy_of=None, amp=4):
        import numpy as np
        if noisy_of is None:
            return rng.integers(0, 256, (24, 32, 3)).astype(np.uint8)
        return np.clip(noisy_of.astype(int)
                       + rng.integers(-amp, amp + 1, noisy_of.shape),
                       0, 255).astype(np.uint8)

    def _write_batch(self, spark, landing, path_name, imgs):
        import os

        import pandas as pd
        from maps_spark.operators.multimodal import (MEDIA_SCHEMA,
                                                     encode_ppm)
        rows = [(mid, "image", bytearray(encode_ppm(img)),
                 img.shape[1], img.shape[0], 0, 0)
                for mid, img in imgs]
        df = spark.createDataFrame(
            pd.DataFrame(rows, columns=["media_id", "kind", "payload",
                                        "width", "height",
                                        "sample_rate", "n_frames"]),
            schema=MEDIA_SCHEMA)
        tmp = f"{landing}/_tmp_{path_name}"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        os.makedirs(landing, exist_ok=True)
        for f in os.listdir(tmp):
            if f.endswith(".parquet"):
                os.rename(f"{tmp}/{f}",
                          f"{landing}/batch_{path_name}.parquet")
        import shutil
        shutil.rmtree(tmp)

    def test_cross_batch_image_dupes_detected(self, spark, tmp_path):
        import numpy as np
        from maps_spark.streaming.media import (accepted_ids, rejected,
                                                run_incremental_image_dedup)
        rng = np.random.default_rng(7)
        landing = str(tmp_path / "landing")
        store = str(tmp_path / "store")
        base = [self._img(rng) for _ in range(4)]
        # batch 1: four distinct images (+ one in-batch noisy dup of
        # image 0 -> rejected within batch, canonical = smaller id)
        self._write_batch(spark, landing, "a",
                          [(i, base[i]) for i in range(4)]
                          + [(9, self._img(rng, base[0]))])
        # batch 2: noisy dup of stored image 2, plus a novel image
        nov = self._img(rng)
        self._write_batch(spark, landing, "b",
                          [(12, self._img(rng, base[2])), (13, nov)])
        # batch 3: dup of the batch-2 NOVEL image
        self._write_batch(spark, landing, "c",
                          [(20, self._img(rng, nov))])
        q = run_incremental_image_dedup(spark, landing, store,
                                        max_files_per_trigger=1)
        q.awaitTermination(300)
        rej = {r.media_id: r for r in rejected(spark, store).collect()}
        acc = {r.media_id for r in accepted_ids(spark, store).collect()}
        assert rej[9].dup_of == 0 and rej[9].hamming <= 6
        assert rej[12].dup_of == 2
        assert rej[20].dup_of == 13
        assert acc == {0, 1, 2, 3, 13}
        # replaying the landing zone is a no-op (marker guard)
        q2 = run_incremental_image_dedup(spark, landing, store,
                                         max_files_per_trigger=1)
        q2.awaitTermination(300)
        assert rejected(spark, store).count() == 3
        assert accepted_ids(spark, store).count() == 5

    def test_image_store_compaction_cadence_twin(self, spark, tmp_path):
        """compact_every on the image runner folds the band L0 into
        the (bidx, bb)-partitioned L1 WITHOUT changing any verdict vs
        the uncompacted twin; appends land in L0 as one commit."""
        import os

        import numpy as np
        from maps_spark.streaming.media import (rejected,
                                                run_incremental_image_dedup)
        rng = np.random.default_rng(11)
        landing = str(tmp_path / "landing")
        base = [self._img(rng) for _ in range(6)]
        self._write_batch(spark, landing, "a",
                          [(i, base[i]) for i in range(3)])
        self._write_batch(spark, landing, "b",
                          [(10, self._img(rng, base[1])),
                           (11, base[3])])
        self._write_batch(spark, landing, "c",
                          [(20, self._img(rng, base[3])),
                           (21, base[4])])
        self._write_batch(spark, landing, "d",
                          [(30, self._img(rng, base[4])),
                           (31, base[5])])

        def run(root, every):
            q = run_incremental_image_dedup(
                spark, landing, root, max_files_per_trigger=1,
                compact_every=every)
            q.awaitTermination(300)
            return {(r.media_id, r.dup_of, r.hamming)
                    for r in rejected(spark, root).collect()}

        s1, s2 = str(tmp_path / "cadence"), str(tmp_path / "plain")
        assert run(s1, 2) == run(s2, None) != set()
        # cadence store: L1 segments exist (hive-partitioned inside)
        # and the last batches' appends sit in L0
        from maps_spark.sources.maintenance import list_segments
        segs = list_segments(f"{s1}/bands")
        assert segs and all(
            any(d.startswith("bidx=") for d in os.listdir(s))
            for s in segs)
        assert os.path.isdir(f"{s1}/bands_l0")
        # plain store: everything is still L0 (no fold ever ran)
        assert not os.path.isdir(f"{s2}/bands")


def test_streaming_web_ingest_matches_batch_twin(spark, tmp_path):
    """The incrementally-maintained curated web store equals the batch
    twin (extract + normalize over ALL landed pages) row for row, and
    a restart over the same files appends nothing (replay guard)."""
    import pyspark.sql.functions as F

    from maps_spark.operators.html import synthesize_html
    from maps_spark.streaming.web import (extract_batch, read_web_store,
                                          run_web_ingest)
    from tests.conftest import SF_SMALL
    thin = ('<html><body><nav><a href="/">home</a></nav>'
            '<footer><a href="/t">terms</a></footer></body></html>')
    pages = (synthesize_html(
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .where(F.col("doc_id") < 60))
        .select("doc_id", "source", "html")
        .unionByName(spark.createDataFrame(
            [(9001, "srcX", thin)],
            "doc_id long, source string, html string")))
    land = str(tmp_path / "land")
    pages.repartition(3).write.parquet(land)
    store = str(tmp_path / "store")
    q = run_web_ingest(spark, land, store, max_files_per_trigger=1)
    q.awaitTermination(300)
    got = sorted(map(tuple, read_web_store(spark, store).collect()))
    want = sorted(map(tuple, extract_batch(pages).collect()))
    assert got == want and got
    # the planted boilerplate-only page was actually dropped
    assert len(got) < 61
    assert all(r[0] != 9001 for r in got)
    q2 = run_web_ingest(spark, land, store, max_files_per_trigger=1)
    q2.awaitTermination(300)
    assert read_web_store(spark, store).count() == len(got)


def test_applied_batch_reads_legacy_marker_location(tmp_path):
    """Pre-2026-08 builds wrote '<root>_meta/last_batch.json' (no
    slash). The replay guard must still see those markers after the
    path fix, or the first restart on an old store double-merges the
    redelivered last batch (ADVICE r6)."""
    import json
    from maps_spark.sources.commit import applied_batch, commit_batch
    root = str(tmp_path / "store")
    marker = root + "/_meta/last_batch.json"
    # nothing anywhere -> -1
    assert applied_batch(marker) == -1
    # legacy location only -> found via fallback
    legacy = root + "_meta/last_batch.json"
    import os
    os.makedirs(os.path.dirname(legacy), exist_ok=True)
    with open(legacy, "w") as f:
        json.dump({"batch_id": 7}, f)
    assert applied_batch(marker) == 7
    # new location wins once written
    commit_batch(marker, 9)
    assert applied_batch(marker) == 9


def test_incremental_dedup_batches_stay_flat(spark, tmp_path):
    """The per-batch cost contract, measured segment-by-segment over
    a 6-equal-batch backlog WITHOUT compaction: ``sig`` (pure
    batch-side work) and ``append`` (one L0 commit) must stay FLAT as
    the store grows; growth may appear ONLY in ``probe_verify``,
    whose merge-on-read row term is structural without a compaction
    cadence (the bounded-with-compaction shape is pinned by
    test_dedup_compaction_cadence_bounds_growth). Before the L0
    redesign the 10s+ flat partitioned append masked the probe term
    in total trigger time; asserting on segments pins the real
    invariant instead of an artifact of a slow append. Batch 1 is
    excluded (store creation + JIT warmup); bounds are loose (2-3x)
    for wall-clock noise on a shared box."""
    import pyspark.sql.functions as F

    from maps_spark.streaming.dedup import run_incremental_dedup
    from tests.conftest import SF_SMALL
    docs = (spark.read.parquet(f"{SF_SMALL}/documents.parquet")
            .select("doc_id", "text"))
    land = str(tmp_path / "land")
    # 6 equal batches via round-robin split on doc_id
    docs.withColumn("b", F.col("doc_id") % 6) \
        .repartitionByRange(6, "b") \
        .drop("b").write.parquet(land)
    prof = []
    q = run_incremental_dedup(spark, land, str(tmp_path / "store"),
                              max_files_per_trigger=1, profile=prof)
    q.awaitTermination(600)
    assert len(prof) >= 5, f"expected >=5 non-empty batches: {prof}"
    steady = prof[1:]
    for seg, factor in (("sig", 3.0), ("append", 3.0)):
        # robust to a single load stall on a shared box (same
        # rationale as the cadence test's bound): the better of the
        # last two batches vs the steady median — a real growth curve
        # has both tail batches high
        vals = [p[seg] for p in steady]
        med = sorted(vals)[len(vals) // 2]
        assert min(vals[-1], vals[-2]) <= factor * max(med, 0.2) + 0.5, (
            f"{seg} grew with store size: {prof}")


class TestAppendModeRefresh:
    def test_append_mode_equals_batch_and_compacts(self, spark, tmp_path):
        """LSM refresh: multi-batch append-mode run equals the batch
        pipeline through the shared fold-on-read path; compaction
        folds the per-batch file-sets without changing what reads see,
        preserves the replay-guard marker, and a crash mid-swap is
        repaired by commit.recover."""
        import pyspark.sql.functions as F

        from maps_spark.operators import pyramid as PY
        from maps_spark.sources.commit import applied_batch, recover
        from maps_spark.sources.occurrence import occurrence_df
        from maps_spark.streaming.refresh import (compact_pixel_store,
                                                  read_pixel_store,
                                                  read_tile_store,
                                                  run_refresh)

        landing = str(tmp_path / "landing")
        (spark.read.parquet(f"{SF_SMALL}/events.parquet")
         .repartition(9).write.parquet(landing))
        store = str(tmp_path / "pixels")
        tiles = str(tmp_path / "tiles")
        q = run_refresh(spark, landing, f"{SF_SMALL}/nation.parquet",
                        store, srs="EPSG:3857", zoom=6,
                        tile_store=tiles, pixel_mode="append")
        q.awaitTermination(300)

        batch = PY.pixel_table(
            PY.keyed_occurrence(occurrence_df(spark, SF_SMALL)),
            "EPSG:3857", 6)

        def pixel_diff():
            merged = read_pixel_store(spark, store)
            return (merged.exceptAll(batch).count() +
                    batch.exceptAll(merged).count())

        assert pixel_diff() == 0
        # the store is append-only: every batch's delta is present
        # (at this SF pixel groups are nearly all single-event, so
        # cross-batch key overlap is data-dependent — the closed-form
        # fold case below pins the duplicate-key path exactly)
        raw = spark.read.parquet(store)
        assert raw.count() >= batch.count()
        # the fold-mode tile path produced fresh tiles
        assert read_tile_store(spark, tiles).count() > 0

        marker_before = applied_batch(
            store + "/_meta/last_batch.json")
        assert marker_before >= 0
        stats = compact_pixel_store(spark, store)
        assert stats["rows"] == batch.count()
        assert spark.read.parquet(store).count() == batch.count()
        assert pixel_diff() == 0
        assert applied_batch(
            store + "/_meta/last_batch.json") == marker_before

        # crash between the two swap renames -> restore
        os.rename(store, store + ".old")
        assert recover(store) == "restored"
        assert pixel_diff() == 0
        assert applied_batch(
            store + "/_meta/last_batch.json") == marker_before

    def test_append_compaction_conserves_and_is_idempotent(
            self, spark, tmp_path):
        """Compaction folds duplicate keys exactly (conserved mass and
        key set) and a second compaction is a no-op rewrite."""
        from maps_spark.sources import commit
        from maps_spark.streaming import refresh as R
        store = str(tmp_path / "pixels")
        delta = spark.createDataFrame(
            [("0:0", 1, 2, 100, 5), ("0:0", 1, 2, 100, 7),
             ("1:x", 3, 4, 200, 1)],
            "mapKey string, px int, py int, borYear int, cnt long")
        R.append_pixel_deltas(delta, store, n_buckets=4)
        # run_refresh writes this marker
        commit.write_json(R._mode_path(store), {"pixel_mode": "append"})
        before = {tuple(r) for r in
                  R.read_pixel_store(spark, store).collect()}
        assert ("0:0", 1, 2, 100, 12) in before  # fold-on-read works
        stats = R.compact_pixel_store(spark, store)
        assert stats == {"rows": 2, "mass": 13}
        assert spark.read.parquet(store).count() == 2  # folded on disk
        after = {tuple(r) for r in
                 R.read_pixel_store(spark, store).collect()}
        assert after == before
        R.compact_pixel_store(spark, store)
        assert {tuple(r) for r in
                R.read_pixel_store(spark, store).collect()} == before


def test_refresh_mode_mismatch_is_refused(spark, tmp_path):
    """Running pixel_mode='merge' against a store created in append
    mode (or vice versa) must raise up front: the read path folds
    based on the STORE's marker, so a silent mode switch would leave
    unfolded delta rows (split counts) or rewrite an append store's
    history (ADVICE r7)."""
    import pytest

    from maps_spark.sources import commit
    from maps_spark.streaming import refresh as R
    store = str(tmp_path / "pixels")
    delta = spark.createDataFrame(
        [("0:0", 1, 2, 100, 5)],
        "mapKey string, px int, py int, borYear int, cnt long")
    R.append_pixel_deltas(delta, store, n_buckets=4)
    commit.write_json(R._mode_path(store), {"pixel_mode": "append"})
    with pytest.raises(ValueError, match="pixel_mode"):
        R.run_refresh(spark, str(tmp_path / "nope"),
                      str(tmp_path / "nope2"), store,
                      pixel_mode="merge")
    # a pre-marker store directory (no mode.json) is merge-mode:
    # append against it must refuse too
    legacy = str(tmp_path / "legacy_pixels")
    delta.write.parquet(legacy)
    with pytest.raises(ValueError, match="pixel_mode"):
        R.run_refresh(spark, str(tmp_path / "nope"),
                      str(tmp_path / "nope2"), legacy,
                      pixel_mode="append")


def test_legacy_marker_fallback_replaces_last_meta_segment(tmp_path):
    """The legacy-marker fallback must rewrite the marker's OWN
    '/_meta/' segment, not the first occurrence anywhere in the store
    path (ADVICE r7): a store rooted under '.../x/_meta/y/store' must
    probe '.../x/_meta/y/store_meta/last_batch.json', never
    '.../x_meta/y/store/_meta/last_batch.json'."""
    import json
    import os

    from maps_spark.sources.commit import applied_batch
    root = str(tmp_path / "x" / "_meta" / "y" / "store")
    marker = root + "/_meta/last_batch.json"
    # the WRONG (replace-first) location must be ignored
    wrong = str(tmp_path / "x_meta" / "y" / "store" /
                "_meta" / "last_batch.json")
    os.makedirs(os.path.dirname(wrong), exist_ok=True)
    with open(wrong, "w") as f:
        json.dump({"batch_id": 99}, f)
    assert applied_batch(marker) == -1
    # the correct legacy location (last segment rewritten) is found
    good = root + "_meta/last_batch.json"
    os.makedirs(os.path.dirname(good), exist_ok=True)
    with open(good, "w") as f:
        json.dump({"batch_id": 4}, f)
    assert applied_batch(marker) == 4


def test_streaming_quarantine_blocks_poisoned_batch(spark, tmp_path):
    """Promotion contracts for streaming stores (VERDICT r8 #7): a
    batch failing its expectations is quarantined — the query stops,
    nothing is appended, the replay marker stays at the prior batch,
    and the rejection report is persisted; after fixing the input a
    restart resumes AT the quarantined batch and the store converges
    to the clean-run state."""
    import json
    import os

    from maps_spark.streaming.dedup import (accepted_ids,
                                            run_incremental_dedup)
    from maps_spark.sources.commit import applied_batch

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    good = spark.createDataFrame(
        [(i, f"clean unique content {i} " * 8) for i in range(5)],
        "doc_id long, text string")
    bad = spark.createDataFrame(
        [(100, None), (101, "fine text " * 8)],
        "doc_id long, text string")
    fixed = spark.createDataFrame(
        [(100, "repaired payload " * 8), (101, "fine text " * 8)],
        "doc_id long, text string")

    def land(df, name):
        tmp = f"{landing}/_tmp"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        os.replace(f"{tmp}/{src}", f"{landing}/{name}.parquet")

    land(good, "b0")
    land(bad, "b1")
    store = str(tmp_path / "store")
    contract = {"conditions": {"text_not_null": "text IS NOT NULL"}}
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException
    q = run_incremental_dedup(spark, landing, store,
                              max_files_per_trigger=1,
                              expectations=contract)
    with pytest.raises(StreamingQueryException, match="text_not_null"):
        q.awaitTermination(300)
    # batch 0 landed, batch 1 quarantined: marker at 0, no bad rows
    marker = store + "/_meta/last_batch.json"
    assert applied_batch(marker) == 0
    acc = {r.doc_id for r in accepted_ids(spark, store).collect()}
    assert acc == {0, 1, 2, 3, 4}
    qreports = os.listdir(f"{store}/_meta/quarantine")
    assert qreports == ["batch_1.json"]
    rep = json.load(open(f"{store}/_meta/quarantine/batch_1.json"))
    assert rep["failed"] == ["text_not_null"] and rep["batch_id"] == 1

    # fix the poisoned file in place (mtime order preserved: b0 is
    # still older) and restart: batch 0 replays as a no-op, batch 1
    # now passes and appends
    land(fixed, "b1")
    q2 = run_incremental_dedup(spark, landing, store,
                               max_files_per_trigger=1,
                               expectations=contract)
    q2.awaitTermination(300)
    assert q2.exception() is None
    assert applied_batch(marker) == 1
    acc2 = {r.doc_id for r in accepted_ids(spark, store).collect()}
    assert acc2 == {0, 1, 2, 3, 4, 100, 101}


def test_dedup_compaction_cadence_bounds_growth(spark, tmp_path):
    """The streaming-dedup growth term is pinned (VERDICT r7 #2):
    per-batch segment attribution shows sig/append flat and
    probe_verify carrying the store-size term; a compact-every-N
    cadence (a) yields EXACTLY the same accept/reject verdicts as the
    uncompacted twin, (b) genuinely folds the per-batch file-sets,
    and (c) keeps the probed segment bounded — the last batch's
    probe_verify stays within a constant factor of the steady early
    batches instead of growing with batch count."""
    import os

    import pyspark.sql.functions as F

    from maps_spark.streaming.dedup import run_incremental_dedup
    from tests.conftest import SF_SMALL
    docs = (spark.read.parquet(f"{SF_SMALL}/documents.parquet")
            .select("doc_id", "text"))

    def run(root, compact_every):
        land = f"{root}/land"
        # sequential appends pin the batch ARRIVAL order (the file
        # stream orders by mtime) — a repartitionByRange write leaves
        # the bucket->file mapping to sampling, and a different
        # arrival order legitimately flips accept/reject direction
        # between the twin runs
        for k in range(8):
            (docs.where(F.col("doc_id") % 8 == k).coalesce(1)
             .write.mode("append").parquet(land))
        prof = []
        q = run_incremental_dedup(spark, land, f"{root}/store",
                                  max_files_per_trigger=1,
                                  compact_every=compact_every,
                                  profile=prof)
        q.awaitTermination(600)
        rej = {(r.doc_id, r.dup_of) for r in spark.read.parquet(
            f"{root}/store/dupes").collect()}
        return rej, prof

    rej_c, prof_all = run(str(tmp_path / "cadence"), 3)
    rej_p, _ = run(str(tmp_path / "plain"), None)
    # compaction marker rows ("compact" timing) interleave with the
    # per-batch attribution rows — split them
    prof_c = [p for p in prof_all if "probe_verify" in p]
    compactions = [p for p in prof_all if "compact" in p]
    assert rej_c == rej_p and len(prof_c) >= 7
    assert len(compactions) == 2  # triggers 3 and 6 at cadence 3
    # compaction folded the per-batch appends: fewer sig files than
    # batches landed
    sig_files = [f for f in os.listdir(
        str(tmp_path / "cadence" / "store" / "sigs"))
        if f.endswith(".parquet")]
    assert len(sig_files) < len(prof_c)
    # bounded curve: the final probe_verify within a constant factor
    # of the steady POST-FIRST-FOLD batches. Under the two-level band
    # store, pre-fold probes read only the tiny L0 (no L1 exists yet)
    # and are structurally cheaper than any post-fold probe, which
    # pays the path-pruned L1 directory-open term — comparing against
    # them would mis-calibrate the bound (loose: wall-clock on a
    # shared box)
    steady = [p["probe_verify"] for p in prof_c[3:]]  # compact_every=3
    # robust form (the old `last <= 3*first` flaked under CPU
    # contention when ONE batch stalled on a shared box): compare the
    # better of the last two batches against the steady MEDIAN — a
    # genuinely growing curve has both tail batches high, while a
    # single load stall no longer fails the suite (the driver runs
    # pytest with -x, so one wall-clock flake used to kill the verify)
    med = sorted(steady)[len(steady) // 2]
    assert min(steady[-1], steady[-2]) <= 3.0 * max(med, 0.2) + 0.5, \
        prof_c
    # attribution fields present for the bench's segment_profile
    assert {"sig", "probe_verify", "append"} <= set(prof_c[0])


def test_stream_stream_interval_join_equals_batch_twin(spark, tmp_path):
    """TRUE stream-stream join (both sides unbounded, watermarked
    interval condition): draining the events backlog through
    run_touch_conversion_join yields EXACTLY the batch interval
    join's (touch, conversion) pairs — and a replayed start appends
    nothing (the parquet sink's own commit log dedupes)."""
    import pyspark.sql.functions as F

    from maps_spark.streaming.joins import (batch_touch_conversion_join,
                                            run_touch_conversion_join)
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    land = str(tmp_path / "land")
    # time-ordered landing files so the generous watermark never
    # drops a pair (file stream delivers in mtime order)
    import time as _t
    parts = ev.withColumn(
        "bucket", F.ntile(4).over(
            __import__("pyspark.sql.window",
                       fromlist=["Window"]).Window.orderBy("ts")))
    for k in range(1, 5):
        (parts.where(F.col("bucket") == k).drop("bucket").coalesce(1)
         .write.mode("append").parquet(land))
        _t.sleep(0.05)
    out = str(tmp_path / "out")
    q = run_touch_conversion_join(spark, land, out, horizon_s=6 * 3600)
    q.awaitTermination(300)
    got = {tuple(r) for r in
           spark.read.parquet(f"{out}/pairs").collect()}
    want = {tuple(r) for r in
            batch_touch_conversion_join(ev, horizon_s=6 * 3600)
            .collect()}
    assert got == want and got
    # every pair respects the interval
    assert all(0 <= r[-1] <= 6 * 3600 * 1_000_000 for r in got)
    # restart over the same landing: no duplicate appends
    q2 = run_touch_conversion_join(spark, land, out,
                                   horizon_s=6 * 3600)
    q2.awaitTermination(300)
    assert spark.read.parquet(f"{out}/pairs").count() == len(got)


def test_quarantine_rejects_typod_contract(spark, tmp_path):
    """A contract with no recognized keys must fail the stream loudly
    (the promotion_gate typo guard), never rubber-stamp batches."""
    import os

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from maps_spark.streaming.dedup import run_incremental_dedup
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    (spark.createDataFrame([(1, "x " * 20)], "doc_id long, text string")
     .coalesce(1).write.mode("append").parquet(landing))
    q = run_incremental_dedup(
        spark, landing, str(tmp_path / "store"),
        expectations={"condtions": {"t": "text IS NOT NULL"}})
    with pytest.raises(StreamingQueryException,
                       match="no recognized keys"):
        q.awaitTermination(300)
