"""The benchmark client (``perfbench/``) reaches into the engine by name:
``layers.SPANS`` wraps engine functions looked up in their owner's
``__dict__``, and ``workloads.py`` calls ``run_backfill`` with keywords.
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


def test_run_backfill_accepts_workload_calls():
    from maps_spark.plans.backfill import run_backfill
    sig = inspect.signature(run_backfill)
    tree = ast.parse((PERFBENCH / "workloads.py").read_text())
    calls = [node for node in ast.walk(tree)
             if isinstance(node, ast.Call)
             and getattr(node.func, "attr",
                         getattr(node.func, "id", None)) == "run_backfill"]
    assert calls, "workloads.py no longer calls run_backfill"
    for call in calls:
        # raises TypeError on an unknown keyword or too many positionals
        sig.bind(*[None] * len(call.args),
                 **{kw.arg: None for kw in call.keywords if kw.arg})
