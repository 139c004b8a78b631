"""Per-layer measurement from outside the engine.

Two sources, both switched on only for traced ops:

- **Driver spans.** Public functions of ``maps_spark`` modules are
  replaced, in this process, by wrappers that record a span (layer,
  start, end, parent). This reaches calls made inside the engine too,
  because the engine looks those functions up on their module at call
  time (``serving.serve_tile`` calls ``mvt.decode_tile``,
  ``run_backfill`` calls ``tile_store.write_tiles``). A layer's self
  time is its spans' duration minus the time their child spans cover.
- **Spark stages.** Wrappers of Spark-side layers also set the job
  group to ``perfbench:<phase>:<layer>`` for the duration of the call.
  A stage is charged to the ``maps_spark`` module named in its call site
  (``collect at .../maps_spark/sources/tile_store.py:365``) and, when
  the call site is not engine code (writes and adaptive-execution
  stages report JVM call sites), to the layer of its job group.

The phase keeps the set-up store build (``build``) apart from the timed
requests (``op``): both touch ``sources.tile_store``, one writing and
one reading.
"""

from __future__ import annotations

import functools
import importlib
import json
import re
import time
from contextlib import contextmanager

# layers whose stage metrics are reported, by phase
SPARK_LAYERS = {
    "build": ("plans.backfill", "operators.pyramid", "sources.tile_store"),
    "op": ("sources.tile_store", "operators.serving", "operators.adhoc",
           "operators.capabilities", "operators.regression"),
}
# (metric, unit); all but the ratio are divided by the op or build count
STAGE_METRICS = (("cpu_s", "s"), ("shuffle_write_mb", "MB"),
                 ("shuffle_read_mb", "MB"), ("spill_mb", "MB"),
                 ("gc_s", "s"), ("tasks", "count"),
                 ("task_skew", "ratio"), ("jobs", "count"),
                 ("input_rows", "count"))

# layer -> (owner inside maps_spark, public functions that get spans,
# whether the wrapper owns the job group); an owner "module:Class"
# wraps methods of that class. The reader's loads need no job group:
# they collect from tile_store.py, so their call site names the layer.
SPANS = {
    "plans.params": [("plans.params",
                      ("map_keys", "parse_year", "v1_layers_to_filters"),
                      False)],
    "plans.backfill": [("plans.backfill", ("run_backfill",), True)],
    "operators.pyramid": [("operators.pyramid",
                           ("keyed_occurrence", "split_views", "point_blobs",
                            "build_pyramid", "unpersist_pyramid"), True)],
    "sources.tile_store": [
        ("sources.tile_store", ("write_tiles", "write_points",
                                "finalise_build"), True),
        ("sources.tile_store", ("get_point_bytes", "get_heat_png"), False),
        ("sources.tile_store:TileReader", ("get_tile_bytes",
                                           "get_point_bytes", "slice_df"),
         False)],
    "functions.mvt": [("functions.mvt", ("decode_tile",
                                         "encode_polygon_layer",
                                         "decode_polygon_tile"), False)],
    "functions.pointpb": [("functions.pointpb", ("decode_features",),
                           False)],
    "operators.serving": [("operators.serving",
                           ("serve_tile", "serve_binned_tile",
                            "filter_decoded_tile", "points_to_tile"),
                           False)],
    "operators.binning": [("operators.binning",
                           ("hex_bin_dict", "square_bin_dict"), False)],
    "functions.png": [("functions.png",
                       ("render_density_png", "render_heat_png",
                        "render_poly_png"), False)],
}
# the benchmark opens these spans itself around ad-hoc requests, whose
# engine calls only build a lazy DataFrame that the client collects
REQUEST_LAYERS = ("operators.adhoc", "operators.capabilities",
                  "operators.regression")
SPAN_LAYERS = {
    "build": SPARK_LAYERS["build"],
    "op": tuple(x for x in SPANS
                if x not in ("plans.backfill", "operators.pyramid"))
    + REQUEST_LAYERS,
}

_GROUP = "perfbench:"
_CALL_SITE = re.compile(r"maps_spark/([\w/]+)\.py:\d+")


class Tracer:
    """Spans in memory plus job-group bookkeeping for one Spark session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        # [phase, layer, name, start, end, parent index or -1]
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []
        self.on = False
        self.phase = "op"

    # -- switching -----------------------------------------------------

    def install(self, phase: str) -> None:
        self.phase = phase
        for layer, owners in SPANS.items():
            for owner_name, names, grouped in owners:
                mod, _, cls = owner_name.partition(":")
                owner = importlib.import_module(f"maps_spark.{mod}")
                if cls:
                    owner = getattr(owner, cls)
                for name in names:
                    fn = owner.__dict__[name]
                    self._saved.append((owner, name, fn))
                    setattr(owner, name, self._wrap(layer, fn, grouped))
        self.sc.setJobGroup(self._group("op"), "perfbench traced op")
        self.on = True

    def uninstall(self) -> None:
        for owner, name, fn in reversed(self._saved):
            setattr(owner, name, fn)
        self._saved.clear()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.on = False

    def _wrap(self, layer: str, fn, grouped: bool):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, grouped, fn.__qualname__):
                return fn(*args, **kwargs)
        return traced

    @contextmanager
    def span(self, layer: str, grouped: bool = True, name: str = ""):
        """Record a span for ``layer``; with ``grouped`` the layer also
        owns the job group while the span is open."""
        if not self.on:
            yield
            return
        idx = len(self.spans)
        self.spans.append([self.phase, layer, name, time.perf_counter(),
                           None, self._stack[-1] if self._stack else -1])
        self._stack.append(idx)
        prev = None
        if grouped:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id",
                                     self._group(layer))
        try:
            yield
        finally:
            if grouped:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self._stack.pop()
            self.spans[idx][4] = time.perf_counter()

    def _group(self, layer: str) -> str:
        return f"{_GROUP}{self.phase}:{layer}"

    # -- reading -------------------------------------------------------

    def span_metrics(self, phase: str,
                     n: int) -> dict[str, tuple[float, str]]:
        """``<layer>.calls`` and ``<layer>.self_ms`` per ``n`` (ops or
        builds) of ``phase``."""
        layers = SPAN_LAYERS[phase]
        child_time = [0.0] * len(self.spans)
        for _, _, _, t0, t1, parent in self.spans:
            if parent >= 0:
                child_time[parent] += t1 - t0
        calls = dict.fromkeys(layers, 0)
        self_s = dict.fromkeys(layers, 0.0)
        for (ph, layer, _, t0, t1, _), kids in zip(self.spans, child_time):
            if ph == phase and layer in calls:
                calls[layer] += 1
                self_s[layer] += (t1 - t0) - kids
        unit = "/op" if phase == "op" else "/build"
        out = {}
        for layer in layers:
            out[f"{layer}.calls"] = (calls[layer] / n, "count" + unit)
            out[f"{layer}.self_ms"] = (self_s[layer] * 1e3 / n, "ms" + unit)
        return out

    def reader_counts(self) -> tuple[int, int]:
        """(TileReader calls, of which loaded from the store). A load is
        a ``slice_df`` call or a ``get_point_bytes`` call made by the
        reader: the only paths that start Spark jobs."""
        calls = loads = 0
        for _, _, name, _, _, parent in self.spans:
            if name in ("TileReader.get_tile_bytes",
                        "TileReader.get_point_bytes"):
                calls += 1
            elif name == "TileReader.slice_df" or (
                    name == "get_point_bytes" and parent >= 0 and
                    self.spans[parent][2] == "TileReader.get_point_bytes"):
                loads += 1
        return calls, loads

    def stage_metrics(self, phase: str,
                      n: int) -> dict[str, tuple[float, str]]:
        """Spark stage metrics of ``phase``, per ``n`` (ops or builds),
        by layer."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        layers = SPARK_LAYERS[phase]
        acc = {layer: dict.fromkeys(
            ("cpu_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
             "gc_s", "tasks", "jobs", "input_rows", "t_max", "t_med"), 0.0)
            for layer in layers}
        prefix = f"{_GROUP}{phase}:"
        seen: set[int] = set()
        for group in [prefix + "op"] + [prefix + x for x in layers]:
            for jid in tracker.getJobIdsForGroup(group):
                job = store.job(jid)
                layer = _layer_of(job.name(), group)
                if layer not in acc:
                    # engine code of an unlisted module: charge the
                    # layer that owned the call
                    layer = group[len(prefix):]
                if layer not in acc:
                    continue
                acc[layer]["jobs"] += 1
                stage_ids = job.stageIds()
                for i in range(stage_ids.length()):
                    sid = stage_ids.apply(i)
                    if sid in seen:
                        continue
                    seen.add(sid)
                    s = store.lastStageAttempt(sid)
                    owner = layer
                    if (phase == "build" and layer == "sources.tile_store"
                            and s.shuffleWriteBytes() > 0):
                        # the store writers force the lazily built
                        # pyramid and point frames: a stage that ends in
                        # a shuffle computes that input; only the final
                        # stage writes files
                        owner = "operators.pyramid"
                    _add_stage(acc[owner], store, s, quantiles)
        unit = "/op" if phase == "op" else "/build"
        out = {}
        for layer, a in acc.items():
            for name, kind in STAGE_METRICS:
                if name == "task_skew":
                    skew = a["t_max"] / a["t_med"] if a["t_med"] else 0.0
                    out[f"{layer}.task_skew"] = (skew, kind)
                else:
                    out[f"{layer}.{name}"] = (a[name] / n, kind + unit)
        return out

    def dump(self, path: str) -> None:
        """Write every span as one JSON object a line; times in seconds
        from the first span."""
        base = self.spans[0][3] if self.spans else 0.0
        with open(path, "w") as f:
            for i, (phase, layer, name, t0, t1, parent) in enumerate(
                    self.spans):
                f.write(json.dumps({
                    "id": i, "parent": parent, "phase": phase,
                    "layer": layer, "name": name,
                    "start_s": t0 - base, "end_s": t1 - base}) + "\n")


def _layer_of(call_site: str, group: str) -> str:
    m = _CALL_SITE.search(call_site or "")
    if m:
        return m.group(1).replace("/", ".")
    return group[group.rindex(":") + 1:]


def _add_stage(a: dict, store, s, quantiles) -> None:
    if s.status().toString() != "COMPLETE":
        return
    a["cpu_s"] += s.executorCpuTime() / 1e9
    a["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
    a["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
    a["spill_mb"] += s.memoryBytesSpilled() / 2**20
    a["gc_s"] += s.jvmGcTime() / 1e3
    a["tasks"] += s.numCompleteTasks()
    a["input_rows"] += s.inputRecords()
    summary = store.taskSummary(s.stageId(), s.attemptId(), quantiles)
    if summary.isDefined():
        run = summary.get().executorRunTime()
        # runtime-weighted skew: sum of slowest over sum of median tasks
        a["t_med"] += run.apply(0)
        a["t_max"] += run.apply(1)
