"""The store-commit protocol (:mod:`maps_spark.sources.commit`) under
crash injection.

Failures are injected at commit.py's own filesystem calls (its ``os``,
``shutil`` and ``open``), either just before a call runs or just after
it returns. commit.py has no ``except``/``finally`` cleanup, so a raised
``Kill`` leaves the same disk state a process kill at that instant would.

- Primitive level (no Spark): a kill at every filesystem step of
  publish, swap, rewrite, retire and marker commit, then ``recover()``;
  the state must equal the state before or the state after.
- Store level (tiny data): kills at the renames/replaces of a real
  store operation (compaction, segment fold, pixel compaction, bucket
  merge, sketch marker, build finalise), then recover and replay; the
  rows must equal those of a run with no crash. The incremental
  curation point lives in test_incremental_curation.py, where it
  shares the no-crash reference run.
- The guard: no module of ``maps_spark`` but commit.py renames a path
  into place or names a temp file.
"""

import json
import os
import re
import shutil
from contextlib import contextmanager
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from maps_spark.sources import commit


class Kill(Exception):
    """Stands in for a process kill at one filesystem step."""


class _Plan:
    def __init__(self, steps, kill_at=None, after=False):
        self.steps, self.kill_at, self.after = steps, kill_at, after
        self.log = []

    def call(self, name, fn, args, kwargs):
        i = len(self.log)
        self.log.append(name)
        if i == self.kill_at and not self.after:
            raise Kill(f"before {name} #{i}")
        out = fn(*args, **kwargs)
        if i == self.kill_at:
            raise Kill(f"after {name} #{i}")
        return out


class _Faulty:
    """Proxy for a module whose listed functions go through a plan."""

    def __init__(self, real, plan, names):
        self._real, self._plan, self._names = real, plan, names

    def __getattr__(self, name):
        attr = getattr(self._real, name)
        if name not in self._names or name not in self._plan.steps:
            return attr
        return lambda *a, **k: self._plan.call(name, attr, a, k)


ALL_STEPS = frozenset({"open", "fsync", "close", "replace", "rename",
                       "remove", "makedirs", "rmtree", "write"})
PUBLISH_STEPS = frozenset({"rename", "replace"})


@contextmanager
def _faults(steps, kill_at=None, after=False):
    plan = _Plan(steps, kill_at, after)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(commit, "os", _Faulty(os, plan, {
            "open", "fsync", "close", "replace", "rename", "remove",
            "makedirs"}))
        mp.setattr(commit, "shutil", _Faulty(shutil, plan, {"rmtree"}))
        if "write" in steps:
            mp.setattr(commit, "open",
                       lambda *a, **k: plan.call("write", open, a, k),
                       raising=False)
        yield plan


def crash_points(setup, action, steps=ALL_STEPS, every=True, only=None,
                 done=None):
    """Run ``action`` once per crash point, each time from a fresh
    ``setup()``, killed by the injected failure; yields a label per
    point. The first run is uninterrupted: it counts the steps, and
    ``done()`` is called after it (to record the no-crash result).
    ``every`` kills before AND after each step; otherwise before each
    step and after the last (the distinct disk states when every step
    is one atomic rename). ``only`` keeps the points at these indexes
    of that list."""
    setup()
    with _faults(steps) as plan:
        action()
    if done is not None:
        done()
    n = len(plan.log)
    assert n, "action made no filesystem call through commit.py"
    points = [(k, after) for k in range(n) for after in (False, True)] \
        if every else [(k, False) for k in range(n)] + [(n - 1, True)]
    for i, (k, after) in enumerate(points):
        if only is not None and i not in only:
            continue
        setup()
        with _faults(steps, k, after):
            with pytest.raises(Exception) as err:
                action()
        label = f"{'after' if after else 'before'} {plan.log[k]}#{k}"
        assert _is_kill(err.value), (label, err.value)
        yield label


def _is_kill(exc) -> bool:
    return isinstance(exc, Kill) or "Kill" in str(exc)


def _tree(root) -> dict:
    """Every path under ``root`` -> file bytes (None for a directory)."""
    out = {}
    for d, dirs, files in os.walk(root):
        for x in dirs:
            out[os.path.relpath(os.path.join(d, x), root)] = None
        for x in files:
            p = os.path.join(d, x)
            out[os.path.relpath(p, root)] = Path(p).read_bytes()
    return out


def _put(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    Path(path).write_text(text)


# ---------------------------------------------------------------------
# Primitive level
# ---------------------------------------------------------------------

def _check_matrix(root, setup, action, recover_at, steps=ALL_STEPS):
    setup()
    before = _tree(root)
    action()
    after = _tree(root)
    assert before != after
    n = 0
    for label in crash_points(setup, action, steps):
        commit.recover(recover_at)
        assert _tree(root) in (before, after), label
        n += 1
    return n


def test_write_json_crash_matrix(tmp_path):
    root = str(tmp_path / "s")
    path = f"{root}/meta/manifest.json"

    def setup():
        shutil.rmtree(root, ignore_errors=True)
        commit.write_json(path, {"build_id": "b1"})

    n = _check_matrix(root, setup,
                      lambda: commit.write_json(path, {"build_id": "b2"}),
                      path)
    assert n >= 8  # write, fsync, replace, dir fsync ... each twice


def test_rewrite_swap_crash_matrix(tmp_path):
    root = str(tmp_path / "s")
    live = f"{root}/table"

    def write(staged):
        _put(f"{staged}/part-1", "new rows")

    def setup():
        shutil.rmtree(root, ignore_errors=True)
        _put(f"{live}/part-0", "old rows")

    n = _check_matrix(root, setup,
                      lambda: commit.rewrite(live, write, lambda s: None),
                      live)
    assert n >= 10


def test_rewrite_of_a_new_store_crash_matrix(tmp_path):
    root = str(tmp_path / "s")

    def setup():
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)

    _check_matrix(root, setup, lambda: commit.rewrite(
        f"{root}/table", lambda s: _put(f"{s}/part-0", "rows")),
        f"{root}/table")


def test_failed_check_leaves_live_data(tmp_path):
    root = str(tmp_path / "s")
    live = f"{root}/table"
    _put(f"{live}/part-0", "old rows")
    before = _tree(root)
    with pytest.raises(RuntimeError, match="3 != 4"):
        commit.rewrite(live, lambda s: _put(f"{s}/part-1", "bad"),
                       lambda s: "3 != 4")
    assert _tree(root) == before
    def action():
        with pytest.raises(RuntimeError, match="3 != 4"):
            commit.rewrite(live, lambda s: _put(f"{s}/part-1", "bad"),
                           lambda s: "3 != 4")

    # a kill while the rejected copy is deleted: recovery drops it
    for label in crash_points(lambda: None, action):
        commit.recover(live)
        assert _tree(root) == before, label


def test_partitioned_swap_is_atomic_per_part(tmp_path):
    """A multi-part swap (the touched buckets of a store) publishes
    each part atomically: after a kill and recover every bucket holds
    its old or its new rows — never none, never a mix — and nothing
    else is left. Whole-batch atomicity across parts is the job of the
    per-bucket applied markers (streaming.refresh)."""
    root = str(tmp_path / "s")
    store = f"{root}/store"
    parts = ["bucket=0", "bucket=1", "bucket=2"]

    def setup():
        shutil.rmtree(root, ignore_errors=True)
        for p in parts[:2]:
            _put(f"{store}/{p}/part-0", f"old {p}")
        _put(f"{store}/untouched/part-0", "kept")

    def write(staged):
        for p in parts:
            _put(f"{staged}/{p}/part-0", f"new {p}")

    def action():
        commit.rewrite(store, write, parts=parts)

    setup()
    before = _tree(root)
    action()
    after = _tree(root)
    for label in crash_points(setup, action):
        commit.recover(store)
        got = _tree(root)
        assert set(got) <= set(before) | set(after), label
        for key, val in got.items():
            assert val in (before.get(key), after.get(key)), (label, key)
        for p in parts[:2]:  # a live bucket never vanishes
            assert f"store/{p}/part-0" in got, (label, p)
        assert got["store/untouched/part-0"] == b"kept"


def test_retire_crash_matrix(tmp_path):
    root = str(tmp_path / "s")
    live = f"{root}/table"

    def setup():
        shutil.rmtree(root, ignore_errors=True)
        _put(f"{live}/part-0", "rows")
        _put(f"{live}/sub/part-1", "rows")

    _check_matrix(root, setup, lambda: commit.retire(live), live)


def test_publish_file_crash_matrix(tmp_path):
    root = str(tmp_path / "s")
    path = f"{root}/shard-00000.tar"

    def setup():
        shutil.rmtree(root, ignore_errors=True)
        _put(path, "old shard")
        _put(commit.temp_path(path), "new shard")

    setup()
    before = {k: v for k, v in _tree(root).items()
              if not k.endswith(".tmp")}
    commit.publish_file(commit.temp_path(path), path)
    after = _tree(root)
    for label in crash_points(
            setup,
            lambda: commit.publish_file(commit.temp_path(path), path)):
        commit.recover(path)
        assert _tree(root) in (before, after), label


def test_marker_commit_crash_matrix(tmp_path):
    root = str(tmp_path / "s")
    marker = f"{root}/_meta/last_batch.json"

    def setup():
        shutil.rmtree(root, ignore_errors=True)
        commit.commit_batch(marker, 5)

    _check_matrix(root, setup, lambda: commit.commit_batch(marker, 6),
                  marker)
    for label in crash_points(setup,
                              lambda: commit.commit_batch(marker, 6)):
        commit.recover(marker)
        assert commit.applied_batch(marker) in (5, 6), label


def test_guard_replays_until_the_marker_commits(tmp_path):
    """A batch whose body or marker commit was killed runs again on
    redelivery; once the marker is committed it never runs again."""
    marker = str(tmp_path / "store" / "_meta" / "last_batch.json")
    runs = []
    guarded = commit.guarded(marker, lambda df, b: runs.append(b))
    guarded(None, 0)
    assert runs == [0] and commit.applied_batch(marker) == 0
    guarded(None, 0)  # redelivered: skipped
    assert runs == [0]

    def failing(df, b):
        runs.append(b)
        raise Kill("body")
    with pytest.raises(Kill):
        commit.guarded(marker, failing)(None, 1)
    assert commit.applied_batch(marker) == 0
    for label in crash_points(lambda: commit.commit_batch(marker, 0),
                              lambda: guarded(None, 1)):
        commit.recover(marker)
        assert commit.applied_batch(marker) in (0, 1), label
    commit.commit_batch(marker, 0)
    guarded(None, 1)
    assert commit.applied_batch(marker) == 1
    n = len(runs)
    guarded(None, 1)
    assert len(runs) == n


def test_recover_rules(tmp_path):
    live = str(tmp_path / "t")
    _put(f"{live}/part-0", "rows")
    assert commit.recover(live) is None
    os.rename(live, live + ".old")  # killed between the swap renames
    os.makedirs(commit.staging(live))
    assert commit.recover(live) == "restored"
    assert _tree(live) == {"part-0": b"rows"}
    assert not os.path.exists(commit.staging(live))
    # leftovers beside a live path, and inside it (swapped children)
    os.makedirs(live + ".old")
    _put(commit.temp_path(live), "x")
    assert commit.recover(live) == "cleaned"
    assert sorted(os.listdir(tmp_path)) == ["t"]
    os.makedirs(f"{live}/bucket=3.old")  # a child killed mid-swap
    os.makedirs(f"{live}/bucket=4.staging")
    assert commit.recover(live) == "restored"
    assert sorted(os.listdir(live)) == ["bucket=3", "part-0"]
    assert commit.recover(live) is None


def test_legacy_marker_location_is_read(tmp_path):
    root = str(tmp_path / "store")
    marker = root + "/_meta/last_batch.json"
    _put(root + "_meta/last_batch.json", json.dumps({"batch_id": 3}))
    assert commit.applied_batch(marker) == 3
    commit.commit_batch(marker, 4)
    assert commit.applied_batch(marker) == 4


def test_only_commit_publishes():
    """CI guard: ``os.rename``/``os.replace``/``shutil.move`` and temp
    file names appear only in sources/commit.py — a new store must
    publish through it, not start its own protocol."""
    pkg = Path(__file__).resolve().parent.parent / "maps_spark"
    bad = re.compile(r"os\.(rename|replace)\s*\(|shutil\.move\s*\("
                     r"|\.tmp\b")
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path.relative_to(pkg).as_posix() == "sources/commit.py":
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if bad.search(line):
                offenders.append(f"{path.relative_to(pkg)}:{i}: {line}")
    assert not offenders, "\n".join(offenders)


# ---------------------------------------------------------------------
# Store level
# ---------------------------------------------------------------------

def _rows(spark, path, cols=None):
    df = spark.read.parquet(path)
    return sorted(map(tuple, df.select(*(cols or sorted(df.columns)))
                      .collect()))


def _restore(pristine, root):
    """A setup() that puts back the store state saved in ``pristine``
    (a copy is far cheaper than rebuilding it with Spark)."""
    def setup():
        shutil.rmtree(root, ignore_errors=True)
        for leftover in (root + commit.OLD, commit.staging(root)):
            shutil.rmtree(leftover, ignore_errors=True)
        shutil.copytree(pristine, root)
    return setup


def _save(root, pristine):
    shutil.copytree(root, pristine)
    return _restore(pristine, root)


def test_compact_dir_crash_recover_replay(spark, tmp_path):
    from maps_spark.sources.maintenance import compact_dir, dir_stats
    p = str(tmp_path / "t")
    for i in range(3):
        spark.range(i * 10, i * 10 + 10).write.mode("append").parquet(p)
    want = _rows(spark, p)
    setup = _save(p, str(tmp_path / "pristine"))
    # the kill between the swap's two renames (live aside, staged
    # copy not yet in): recover must restore the original
    for label in crash_points(setup, lambda: compact_dir(spark, p),
                              PUBLISH_STEPS, every=False, only={1}):
        commit.recover(p)
        assert _rows(spark, p) == want, label
        compact_dir(spark, p)
        assert _rows(spark, p) == want, label
        assert dir_stats(p)[0] == 1, label


def test_fold_l0_segments_crash_recover_replay(spark, tmp_path):
    from maps_spark.sources.maintenance import (fold_l0_segments,
                                                list_segments)
    base = str(tmp_path / "store")
    root, l0 = f"{base}/bands", f"{base}/l0"

    def write_l0(start):
        (spark.range(start, start + 20)
         .select((F.col("id") % 2).alias("band"),
                 (F.col("id") % 4).alias("bb"),
                 (F.col("id") * 13).alias("bh"),
                 F.col("id").alias("doc_id"))
         .coalesce(1).write.mode("overwrite").parquet(l0))

    def seg_rows():
        return sorted(r for s in list_segments(root)
                      for r in _rows(spark, s, ["band", "bb", "bh",
                                                "doc_id"]))

    def fold():
        return fold_l0_segments(spark, root, l0,
                                partition_by=("band", "bb"))

    write_l0(0)
    fold()
    write_l0(20)
    setup = _save(base, str(tmp_path / "pristine"))
    # points: before the manifest swap (an orphan segment) and after
    # it (the replayed fold must recognise the published L0); a kill
    # before the segment rename leaves only staging, as in the
    # primitive matrix
    for label in crash_points(setup, fold, PUBLISH_STEPS, every=False,
                              only={1, 2}):
        fold()  # the replay (it recovers the segment root first)
        assert len(seg_rows()) == 40 and len(set(seg_rows())) == 40, \
            label
        assert not os.path.isdir(l0), label


def test_compact_pixel_store_crash_recover_replay(spark, tmp_path):
    from maps_spark.streaming import refresh as R
    store = str(tmp_path / "pixels")
    rows = [("0:0", i % 3, 2, 100, 1 + i) for i in range(6)] + \
        [("1:x", 3, 4, 200, 7)]
    delta = spark.createDataFrame(
        rows, "mapKey string, px int, py int, borYear int, cnt long")
    for _ in range(2):
        R.append_pixel_deltas(delta, store, n_buckets=4)
    commit.write_json(R._mode_path(store), {"pixel_mode": "append"})

    def folded():
        return sorted(map(tuple, R.read_pixel_store(spark, store)
                          .collect()))

    want = folded()
    mass = 2 * sum(r[-1] for r in rows)
    assert sum(r[-1] for r in want) == mass
    setup = _save(store, str(tmp_path / "pristine"))
    for label in crash_points(setup,
                              lambda: R.compact_pixel_store(spark, store),
                              PUBLISH_STEPS, every=False, only={1}):
        assert folded() == want, label  # read_pixel_store recovers
        got = R.compact_pixel_store(spark, store)
        assert got == {"rows": len(want), "mass": mass}, label
        assert folded() == want, label


def test_merge_bucket_swap_crash_recover_replay(spark, tmp_path):
    """Kills inside the merge-mode bucket swap, where buckets swap one
    by one: the replay skips the buckets whose applied marker landed
    and re-merges the rest from their pre-batch rows."""
    from maps_spark.streaming import refresh as R
    schema = "mapKey string, px int, py int, borYear int, cnt bigint"
    keys = [f"2:k{i}" for i in range(8)]
    base = spark.createDataFrame([(k, 1, 1, 2000, 1) for k in keys],
                                 schema)
    delta = spark.createDataFrame([(k, 1, 1, 2000, 2) for k in keys[:5]],
                                  schema)
    store = str(tmp_path / "store")
    R.merge_into_pixels(base, store, n_buckets=2, batch_id=0)
    setup = _save(store, str(tmp_path / "pristine"))
    want = sorted((k, 1, 1, 2000, 3 if k in keys[:5] else 1)
                  for k in keys)
    n = 0
    # the kill with bucket A swapped in and bucket B renamed aside
    # (test_streaming's merge-crash test walks the other rename counts)
    for label in crash_points(
            setup, lambda: R.merge_into_pixels(delta, store, n_buckets=2,
                                               batch_id=1),
            PUBLISH_STEPS, every=False, only={3}):
        # replay the same batch id: marked buckets are skipped
        R.merge_into_pixels(delta, store, n_buckets=2, batch_id=1)
        assert _rows(spark, store, ["mapKey", "px", "py", "borYear",
                                    "cnt"]) == want, label
        n += 1
    assert n == 1


def test_sketch_marker_crash_recover_replay(spark, tmp_path):
    """A kill at the last batch's marker commit (the sketch store's one
    commit point), with its new version already written: the restarted
    query redelivers from batch 0, the marker skips what committed,
    and the committed sketch equals the batch build with one version
    left."""
    from maps_spark.operators.sessions import cms_build
    from maps_spark.streaming.sketches import (read_sketch_store,
                                               run_sketch_refresh)
    from tests.conftest import SF_SMALL
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").limit(400)
    land = str(tmp_path / "land")
    ev.repartition(5).write.parquet(land)  # two batches of <= 4 files
    want = {(r.d, r.bucket): r.cnt for r in
            cms_build(spark.read.parquet(land)).collect()}
    store = str(tmp_path / "sk")

    def run():
        run_sketch_refresh(spark, land, store).awaitTermination(300)

    n = 0
    for label in crash_points(
            lambda: shutil.rmtree(store, ignore_errors=True), run,
            {"replace"}, every=False, only={1}):
        run()
        got = {(r.d, r.bucket): r.cnt for r in
               read_sketch_store(spark, store, "cms").collect()}
        assert got == want, label
        assert len(os.listdir(f"{store}/cms")) == 1, label
        n += 1
    assert n == 1


def test_finalise_build_crash_recover_replay(tmp_path):
    from maps_spark.sources.tile_store import (finalise_build,
                                               list_builds, read_manifest,
                                               resolve_root)
    root = str(tmp_path / "store")

    def setup():
        shutil.rmtree(root, ignore_errors=True)
        for b in ("b1", "b2"):
            _put(f"{root}/builds/{b}/tiles/part-0", b)
        finalise_build(root, "b1", {"n": 1}, keep=2)

    def action():
        finalise_build(root, "b2", {"n": 2}, keep=1)

    for label in crash_points(setup, action):
        commit.recover(f"{root}/manifest.json")
        active = read_manifest(root)["build_id"]
        assert active in ("b1", "b2"), label
        assert os.path.isdir(resolve_root(root)), label
        action()
        assert read_manifest(root)["build_id"] == "b2", label
        assert [b["build_id"] for b in list_builds(root)] == ["b2"], label
