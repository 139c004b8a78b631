"""The benchmark client (``perfbench/``) reaches into the engine by name:
``layers.SPANS`` wraps engine functions looked up in their owner's
``__dict__``, and ``workloads.py`` calls the backfill, the occurrence
snapshot and its fan-out, the serving functions, the renderers, the
``TileReader`` and the ad-hoc, capabilities and trend operators by
name.
These tests read those files without running them, so a rename in
``maps_spark`` fails here instead of in a benchmark run."""

import ast
import importlib
import importlib.util
import inspect
from pathlib import Path

PERFBENCH = Path(__file__).resolve().parent.parent / "perfbench"


def _load_layers():
    spec = importlib.util.spec_from_file_location(
        "perfbench_layers", PERFBENCH / "layers.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_span_hooks_resolve_in_engine():
    missing = []
    for owners in _load_layers().SPANS.values():
        for owner_name, names, _grouped in owners:
            mod, _, cls = owner_name.partition(":")
            owner = importlib.import_module(f"maps_spark.{mod}")
            if cls:
                owner = getattr(owner, cls)
            missing += [f"{owner_name}.{n}" for n in names
                        if not callable(owner.__dict__.get(n))]
    assert not missing, missing


def _workload_targets() -> dict:
    """Engine callables ``workloads.py`` reaches, by called name."""
    from maps_spark.functions import png
    from maps_spark.operators import adhoc, capabilities, pyramid, regression
    from maps_spark.operators import serving
    from maps_spark.plans.backfill import run_backfill
    from maps_spark.sources import tile_store
    from maps_spark.sources.occurrence import occurrence_df
    reader = tile_store.TileReader.__new__(tile_store.TileReader)
    return {"run_backfill": run_backfill,
            "occurrence_df": occurrence_df,
            "keyed_occurrence": pyramid.keyed_occurrence,
            # the Adhoc workload's eight operator calls
            "geo_grid": adhoc.geo_grid,
            "adhoc_tile": adhoc.adhoc_tile,
            "year_facet": adhoc.year_facet,
            "density_tile": serving.density_tile,
            "country_masked_tile": serving.country_masked_tile,
            "capabilities": capabilities.capabilities,
            "species_trend": regression.species_trend,
            "hex_trend": regression.hex_trend,
            "serve_tile": serving.serve_tile,
            "serve_binned_tile": serving.serve_binned_tile,
            "get_heat_png": tile_store.get_heat_png,
            "render_density_png": png.render_density_png,
            "TileReader": tile_store.TileReader,
            # called on the workload's TileReader
            "get_tile_bytes": reader.get_tile_bytes,
            "get_point_bytes": reader.get_point_bytes}


def _views_len() -> int:
    """The length of the ``req["views"]`` tuples ``inputs.py`` yields,
    which the trend calls unpack with ``*``."""
    tree = ast.parse((PERFBENCH / "inputs.py").read_text())
    lens = {len(node.value.elts) for node in ast.walk(tree)
            if isinstance(node, ast.Assign)
            and isinstance(node.value, ast.Tuple)
            and any(ast.unparse(t) == "req['views']" for t in node.targets)}
    assert len(lens) == 1, lens
    return lens.pop()


def test_workload_calls_bind_to_engine_signatures():
    targets = _workload_targets()
    tree = ast.parse((PERFBENCH / "workloads.py").read_text())
    seen = set()
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        name = getattr(node.func, "attr", getattr(node.func, "id", None))
        if name not in targets:
            continue
        n_args = 0
        for a in node.args:
            if isinstance(a, ast.Starred):
                assert ast.unparse(a.value) == "req['views']", name
                n_args += _views_len()
            else:
                n_args += 1
        seen.add(name)
        # raises TypeError on an unknown keyword or too many positionals
        inspect.signature(targets[name]).bind(
            *[None] * n_args,
            **{kw.arg: None for kw in node.keywords if kw.arg})
    assert seen == set(targets), set(targets) - seen
