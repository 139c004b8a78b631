"""Incremental re-curation driver: only the diff pays curation cost,
verdicts upsert correctly across snapshots."""

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_SMALL


def test_incremental_curation_two_snapshots(spark, tmp_path):
    from maps_spark.plans.curation import (read_verdicts,
                                           run_incremental_curation)
    state = str(tmp_path / "state")
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    snap1 = docs.where("doc_id % 5 <> 0")
    r1 = run_incremental_curation(spark, snap1, state)
    assert r1["delta_docs"] == snap1.count()  # first run = full corpus
    v1 = {r["doc_id"]: r["stage"]
          for r in read_verdicts(spark, state).collect()}
    assert len(v1) == snap1.count()
    assert set(v1.values()) <= {"kept", "quality", "exact_dup",
                                "near_dup"}

    # snapshot 2: some docs return, one changes, some are removed
    snap2 = (docs.where("doc_id % 7 <> 0")
             .withColumn("text",
                         F.when(F.col("doc_id") == 11,
                                F.concat(F.col("text"), F.lit(" v2")))
                         .otherwise(F.col("text"))))
    r2 = run_incremental_curation(spark, snap2, state)
    # the delta is ONLY the added + changed docs, not the snapshot
    n_added = snap2.join(snap1.select("doc_id"), "doc_id",
                         "left_anti").count()
    assert r2["delta_docs"] == n_added + 1  # +1 for changed doc 11
    v2 = {r["doc_id"]: r["stage"]
          for r in read_verdicts(spark, state).collect()}
    assert len(v2) == snap2.count() == r2["corpus_docs"]
    # removed docs dropped from the state
    assert all(d % 7 != 0 for d in v2)
    # untouched docs keep their snapshot-1 verdict
    untouched = [d for d in v2 if d in v1 and d != 11]
    assert untouched and all(v2[d] == v1[d] for d in untouched)


def test_incremental_exact_dup_detected_across_snapshots(spark, tmp_path):
    from maps_spark.plans.curation import (read_verdicts,
                                           run_incremental_curation)
    state = str(tmp_path / "state2")
    base = ("the quick brown fox jumps over the lazy dog and keeps "
            "going with plenty of ordinary words to pass quality")
    s1 = spark.createDataFrame([(1, base)], "doc_id long, text string")
    run_incremental_curation(spark, s1, state)
    # snapshot 2 adds an exact copy under a new id
    s2 = spark.createDataFrame([(1, base), (2, base)],
                               "doc_id long, text string")
    run_incremental_curation(spark, s2, state)
    v = {r["doc_id"]: r["stage"]
         for r in read_verdicts(spark, state).collect()}
    assert v[1] == "kept" and v[2] == "exact_dup"


def test_changed_doc_not_dup_of_its_own_stale_signature(spark, tmp_path):
    from maps_spark.plans.curation import (read_verdicts,
                                           run_incremental_curation)
    state = str(tmp_path / "state3")
    base = ("a perfectly ordinary document with enough plain words in "
            "it to clear the minimum quality token threshold easily")
    s1 = spark.createDataFrame([(1, base)], "doc_id long, text string")
    run_incremental_curation(spark, s1, state)
    # the doc changes slightly; its near-identical STALE signature is
    # still in the store under the same id — it must not self-match
    s2 = spark.createDataFrame([(1, base + " tail")],
                               "doc_id long, text string")
    run_incremental_curation(spark, s2, state)
    v = {r["doc_id"]: r["stage"]
         for r in read_verdicts(spark, state).collect()}
    assert v == {1: "kept"}


def test_crash_retry_does_not_duplicate_signatures(spark, tmp_path,
                                                   monkeypatch):
    # ADVICE r3: a crash after the signature-store append but before
    # the verdict write must not re-append on retry — the retry reuses
    # the same batch id and the store marker skips the append
    from maps_spark.plans import curation as C
    from maps_spark.sources import commit
    state = str(tmp_path / "state3")
    base = ("the quick brown fox jumps over the lazy dog and keeps "
            "going with plenty of ordinary words to pass quality ")
    docs = spark.createDataFrame(
        [(i, base + str(i)) for i in range(6)],
        "doc_id long, text string")

    orig_swap = commit.swap
    calls = {"n": 0}

    def crashing_swap(pairs):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash before finalize")
        return orig_swap(pairs)

    monkeypatch.setattr(commit, "swap", crashing_swap)
    import pytest
    with pytest.raises(RuntimeError):
        C.run_incremental_curation(spark, docs, state)
    # retry the same snapshot — must draw the SAME batch id
    r = C.run_incremental_curation(spark, docs, state)
    monkeypatch.undo()
    assert r["batch_id"] == 0  # counter was not advanced by the crash
    hashes = spark.read.parquet(f"{state}/dedup_store/hashes")
    dupes = (hashes.groupBy("doc_id").count().where("count > 1").count())
    assert dupes == 0, "signature store has replayed duplicate rows"
    sigs = spark.read.parquet(f"{state}/dedup_store/sigs")
    assert (sigs.groupBy("doc_id").count().where("count > 1")
            .count()) == 0
    # and the state is healthy: all docs have verdicts
    v = C.read_verdicts(spark, state)
    assert v.count() == 6
    # a following snapshot advances the counter normally
    r2 = C.run_incremental_curation(spark, docs, state)
    assert r2["batch_id"] == 1


@pytest.fixture(scope="module")
def two_snapshots(spark, tmp_path_factory):
    """Snapshots s1 and s2, the state after curating s1, and the
    verdicts after curating s2 on top of it with no crash."""
    import shutil

    from maps_spark.plans.curation import (read_verdicts,
                                           run_incremental_curation)
    docs = (spark.read.parquet(f"{SF_SMALL}/documents.parquet")
            .select("doc_id", "text").orderBy("doc_id").limit(8)
            .localCheckpoint())
    ids = sorted(r.doc_id for r in docs.collect())
    s1 = docs.where(F.col("doc_id").isin(ids[:6]))
    s2 = docs.where(F.col("doc_id").isin(ids[2:])).unionByName(
        docs.where(F.col("doc_id") == ids[3])  # an exact copy
        .withColumn("doc_id", F.lit(10 ** 9).cast("long")))
    base = tmp_path_factory.mktemp("curation")
    after_s1, twin = str(base / "after_s1"), str(base / "twin")
    run_incremental_curation(spark, s1, after_s1)
    shutil.copytree(after_s1, twin)
    run_incremental_curation(spark, s2, twin)
    want = sorted(map(tuple, read_verdicts(spark, twin).collect()))
    assert len(want) == 7 and "exact_dup" in {v for _, v in want}
    return s2, after_s1, want


def test_failed_verdict_write_keeps_state_readable(spark, tmp_path,
                                                   monkeypatch,
                                                   two_snapshots):
    """A failure while the verdicts are written must leave the previous
    state readable, and the retry must end with the verdicts of a run
    with no crash. Spark's overwrite deletes the target directory
    before its job runs, so the injected failure empties the target
    first — what a job failing mid-write leaves behind."""
    import os
    import shutil

    from pyspark.sql.readwriter import DataFrameWriter

    from maps_spark.plans.curation import (read_verdicts,
                                           run_incremental_curation)
    s2, after_s1, want = two_snapshots
    state = str(tmp_path / "state")
    shutil.copytree(after_s1, state)
    real = DataFrameWriter.parquet

    def failing(self, path, *args, **kwargs):
        if path.rstrip("/").endswith("verdicts"):
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path)
            raise RuntimeError("injected failure mid verdict write")
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_incremental_curation(spark, s2, state)
    monkeypatch.undo()
    r = run_incremental_curation(spark, s2, state)  # the retry
    assert r["batch_id"] == 1
    assert sorted(map(tuple, read_verdicts(spark, state).collect())) \
        == want


def test_kill_mid_snapshot_swap_rolls_back(spark, tmp_path, two_snapshots):
    """The store-level crash point of the commit matrix
    (tests/test_commit.py) for incremental curation: a kill between
    the renames of the snapshot swap (old snapshot aside, new one not
    yet in). Recovery rolls the old snapshot back — readers see the
    s1 verdicts — and the retry re-runs the same batch id and ends
    with the verdicts of a run with no crash."""
    import shutil

    from maps_spark.plans.curation import (read_verdicts,
                                           run_incremental_curation)
    from tests.test_commit import PUBLISH_STEPS, Kill, _faults
    s2, after_s1, want = two_snapshots
    state = str(tmp_path / "state")
    shutil.copytree(after_s1, state)
    before = sorted(map(tuple, read_verdicts(spark, state).collect()))
    # publish steps of a run: dedup-store marker, snapshot aside,
    # snapshot in, counter — kill before the third
    with _faults(PUBLISH_STEPS, kill_at=2) as plan:
        with pytest.raises(Kill):
            run_incremental_curation(spark, s2, state)
    assert plan.log == ["replace", "rename", "rename"]
    assert sorted(map(tuple, read_verdicts(spark, state).collect())) \
        == before
    r = run_incremental_curation(spark, s2, state)
    assert r["batch_id"] == 1
    assert sorted(map(tuple, read_verdicts(spark, state).collect())) \
        == want


def test_keyed_delta_cdc_semantics(spark):
    """Row-level CDC: added/removed/changed classification with
    null-safe per-column compare (None -> value and value -> None are
    changes; None -> None is not), changed_cols named in compare-col
    order, unchanged rows absent, multi-column keys supported."""
    from maps_spark.operators.expectations import keyed_delta
    cur = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", None), (3, "c", "z"), (5, "e", "w"),
         (6, None, "v")],
        "k long, s string, t string")
    prev = spark.createDataFrame(
        [(1, "a", "x"),          # unchanged -> dropped
         (2, "b", "gone"),       # t: value -> None = changed
         (3, "C", "zz"),         # both compare cols changed
         (4, "d", "q"),          # only in prev -> removed
         (6, None, "v")],        # None <=> None -> unchanged
        "k long, s string, t string")
    got = {r.k: (r.change, r.changed_cols)
           for r in keyed_delta(cur, prev, ["k"]).collect()}
    assert got == {2: ("changed", "t"),
                   3: ("changed", "s,t"),
                   4: ("removed", ""),
                   5: ("added", "")}
    # compare_cols subset: differences outside it are invisible
    got2 = {r.k for r in
            keyed_delta(cur, prev, ["k"], compare_cols=["s"]).collect()}
    assert got2 == {3, 4, 5}
    # composite key
    cur2 = spark.createDataFrame([(1, "a", 10), (1, "b", 20)],
                                 "k long, kk string, v long")
    prev2 = spark.createDataFrame([(1, "a", 10), (1, "b", 99)],
                                  "k long, kk string, v long")
    got3 = {(r.k, r.kk): r.change for r in
            keyed_delta(cur2, prev2, ["k", "kk"]).collect()}
    assert got3 == {(1, "b"): "changed"}
