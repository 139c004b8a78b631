"""The occurrence snapshot lifecycle (``sources.occurrence`` module
docstring): one persisted frame per input, reused while the input's
files are unchanged, rebuilt and released when they are rewritten."""

import shutil

import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMALL


@pytest.fixture
def sf_copy(tmp_path):
    """A private copy of the small input, free to rewrite."""
    d = tmp_path / "sf"
    d.mkdir()
    for t in ("events", "nation"):
        shutil.copy(f"{SF_SMALL}/{t}.parquet", d / f"{t}.parquet")
    return str(d)


def _leaf_names(df) -> list[str]:
    """Leaf nodes of the executed plan; a cached relation is one leaf
    (the plan that filled it is not a child)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.size())]


def _cached(df) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def _oracle_counts(sf: str) -> tuple[int, int]:
    import duckdb

    from maps_spark.sources.occurrence import mapkeys_cte, occurrence_cte
    con = duckdb.connect()
    occ = con.execute(
        f"{occurrence_cte(sf)} SELECT count(*) FROM occ").fetchone()[0]
    keyed = con.execute(
        f"{mapkeys_cte(sf)} SELECT count(*) FROM keyed").fetchone()[0]
    return occ, keyed


def _rewrite_events(sf: str, keep: int) -> None:
    """Rewrite events.parquet in place with its first ``keep`` rows."""
    path = f"{sf}/events.parquet"
    pq.write_table(pq.read_table(path).slice(0, keep), path)


def _persisted_rdds(spark) -> set[int]:
    """Ids of the persisted RDDs. Compare sets, not counts: the context
    cleaner may release other tests' dead caches at any moment."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_second_call_reuses_snapshot_and_reads_no_parquet(spark, sf_copy):
    from maps_spark.operators import pyramid as PY
    from maps_spark.sources.occurrence import occurrence_df
    occ = occurrence_df(spark, sf_copy)
    keyed = PY.keyed_occurrence(occ)
    assert _cached(occ) and _cached(keyed)
    assert (occ.count(), keyed.count()) == _oracle_counts(sf_copy)
    # a hit still registers the input views, as a miss does
    spark.catalog.dropTempView("events")
    again = occurrence_df(spark, sf_copy)
    assert again is occ
    assert spark.table("events").count() > 0
    assert PY.keyed_occurrence(again) is keyed
    for df in (again, keyed):
        assert _leaf_names(df) == ["InMemoryTableScan"]
    # a frame that is not the snapshot stays lazy
    assert not _cached(PY.keyed_occurrence(occ.where("year > 1900")))


def test_rewritten_input_gives_new_rows(spark, sf_copy):
    from maps_spark.operators import pyramid as PY
    from maps_spark.sources.occurrence import occurrence_df
    old = occurrence_df(spark, sf_copy)
    old_keyed = PY.keyed_occurrence(old)
    n_old = old.count()
    old_keyed.count()
    _rewrite_events(sf_copy, 400)
    new = occurrence_df(spark, sf_copy)
    assert new is not old
    got = (new.count(), PY.keyed_occurrence(new).count())
    assert got == _oracle_counts(sf_copy)
    assert got[0] < n_old


def test_rewrites_keep_persisted_rdds_bounded(spark, sf_copy):
    from maps_spark.operators import pyramid as PY
    from maps_spark.sources.occurrence import occurrence_df
    before = _persisted_rdds(spark)
    added = []
    for i in range(6):
        if i:
            _rewrite_events(sf_copy, 900 - 100 * i)
        occ = occurrence_df(spark, sf_copy)
        PY.keyed_occurrence(occ).count()
        added.append(len(_persisted_rdds(spark) - before))
    # the live snapshot and its fan-out; every older pair released
    assert added == [2] * 6, added


def test_unfiltered_frame_is_a_separate_snapshot(spark, sf_copy):
    from maps_spark.sources.occurrence import occurrence_df
    base = occurrence_df(spark, sf_copy)
    full = occurrence_df(spark, sf_copy, base_filter=False)
    assert full is not base and _cached(full)
    assert occurrence_df(spark, sf_copy, base_filter=False) is full
    assert occurrence_df(spark, sf_copy) is base
    assert full.count() > base.count()


def test_concurrent_calls_share_one_snapshot(spark, sf_copy):
    """Eight threads (more than the cores of a small host) ask for the
    snapshot and its fan-out at once, with a short switch interval:
    all get the same two frames, and only those two get persisted."""
    import sys
    import threading

    from maps_spark.operators import pyramid as PY
    from maps_spark.sources.occurrence import occurrence_df
    before = _persisted_rdds(spark)
    start = threading.Barrier(8)
    got = []

    def run() -> None:
        start.wait()
        occ = occurrence_df(spark, sf_copy)
        got.append((occ, PY.keyed_occurrence(occ)))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=run) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert len(got) == 8
    assert len({id(o) for o, _ in got}) == 1
    assert len({id(k) for _, k in got}) == 1
    got[0][1].count()
    assert len(_persisted_rdds(spark) - before) == 2
