"""The maps engine's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload serve_hot --seed 7 --seconds 10 \\
        --trace 0

Run from the repository root. It starts Spark on ``local[N]``
(N = min(4, cores)), generates the input and request streams from
``--seed``, builds the tile store with a full backfill (``serve_hot``),
sets up, then drives the workload as one closed-loop client for at
least ``--seconds`` of op time, in whole rounds of its request kinds,
and checks the outputs. Between ops it samples the host's speed, to
normalise the gated timings (METRICS.md). It prints a
report and, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the store build
and every other round run traced, the metrics are the per-layer ones (see
METRICS.md) and the spans are written to
``.perfbench_spans/<workload>-<seed>.jsonl``.

All other scratch output (input files, stores, Spark local and temp
dirs) goes under ``.perfbench_work/`` in the repository root and is
removed before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import struct
import sys
import time
import traceback
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve_hot", "adhoc")
# the end-to-end metrics in the result line (see METRICS.md for why
# these and not p50_ms, build_s or peak_rss_mb)
E2E = (("setup_s", "s"), ("norm_ops_per_s", "1/s"),
       ("norm_cpu_s_per_op", "s"))
# a run ends on a round boundary after --seconds of op time, and after
# at least this many rounds: the first timed rounds of adhoc still run
# faster round by round, so a one-round run would read slower than a
# two-round one. With --trace 1, rounds alternate untraced and traced
# and the run ends on an untraced one, so that every traced round sits
# between two untraced ones.
MIN_ROUNDS = 2
# host-speed probe (METRICS.md, "Host normalisation"): its CPU time per
# second of op time, and its CPU time on the nominal host
PROBE_SHARE = 0.02
REF_PROBE_S = 0.001
_PAYLOAD = zlib.compress(random.Random(5).randbytes(20_000))


def main() -> int:
    t0 = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import maps_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    spark = None
    try:
        spark = start_spark(work)
        lines, result = run(spark, args, work, t0)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print("\n".join(lines))
    print(json.dumps(result))
    return 0


def start_spark(work: str):
    from maps_spark.session import get_spark
    cpus = min(4, os.cpu_count() or 1)
    spark = get_spark("perfbench", cpus=cpus, shuffle_partitions=2 * cpus,
                      extra_conf={
                          "spark.driver.memory": "2g",
                          # -UsePerfData: no hsperfdata file in /tmp
                          "spark.driver.extraJavaOptions":
                              f"-Djava.io.tmpdir={work}/tmp "
                              "-XX:-UsePerfData",
                          "spark.sql.warehouse.dir": f"{work}/warehouse",
                          "spark.ui.showConsoleProgress": "false",
                          # the traced run reads every job of the run back
                          "spark.ui.retainedJobs": "100000",
                          "spark.ui.retainedStages": "100000",
                      })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    for every process this run started to end."""
    import procstat
    if spark is not None:
        from pyspark import SparkContext
        gateway = SparkContext._gateway
        spark.stop()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            gateway.shutdown()
            proc.stdin.close()  # the JVM exits at end of its stdin
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    procstat.wait_children_gone()


def probe() -> float:
    """Run a fixed computation that shares no code with the engine (zlib
    inflate, struct unpacking, dict updates, a sort: the kinds of work
    the serving path does); return the CPU seconds it took. CPU time, so
    that waiting for a core does not count; a shared core that runs
    slower does."""
    t = time.thread_time()
    raw = zlib.decompress(_PAYLOAD)
    counts: dict[int, int] = {}
    for a, b in struct.iter_unpack("<II", raw):
        counts[a % 1009] = counts.get(a % 1009, 0) + (b & 0xFFFF)
    sorted(counts.items())
    return time.thread_time() - t


def run(spark, args, work: str, t0: float) -> tuple[list[str], dict]:
    import procstat
    import workloads as W
    from layers import Tracer

    ctx = W.Context(spark, args.seed, work)
    wl = (W.ServeHot if args.workload == "serve_hot" else W.Adhoc)(ctx)
    tracer: Tracer = ctx.tracer
    if args.trace:
        tracer.install("build")
    t = time.perf_counter()
    wl.build()
    build_s = time.perf_counter() - t
    if args.trace:
        tracer.uninstall()
    wl.setup()
    if args.trace:
        # one more untimed round, so that the rounds compared for the
        # tracing overhead come from the flatter part of JVM warm-up
        for j in range(wl.round_len):
            wl.op(j)
    setup_s = time.perf_counter() - t0

    # op latencies, untraced and traced; with --trace 1 every other
    # round runs traced
    lat: dict[bool, list[float]] = {False: [], True: []}
    failed = 0
    cpu0 = procstat.tree_cpu_s()
    rss = procstat.PeakRss()
    timed = probe_s = 0.0
    i = probes = 0
    while True:
        traced = bool(args.trace) and (i // wl.round_len) % 2 == 1
        if traced:
            tracer.install("op")
        t = time.perf_counter()
        try:
            out, ok = wl.op(i), True
        except Exception:
            traceback.print_exc()
            out, ok = None, False
        dt = time.perf_counter() - t
        if traced:
            tracer.uninstall()
        failed += not (ok and wl.after_op(i, out))
        lat[traced].append(dt)
        timed += dt
        i += 1
        # sample the host's speed between ops, never alongside one
        while probe_s < PROBE_SHARE * timed:
            probe_s += probe()
            probes += 1
        rounds, part = divmod(i, wl.round_len)
        if (timed >= args.seconds and not part and rounds >= MIN_ROUNDS
                and (not args.trace or rounds % 2)):
            break
    slow = probe_s / probes / REF_PROBE_S
    cpu_s = procstat.tree_cpu_s() - cpu0 - probe_s
    peak_mb = rss.stop()
    t = time.perf_counter()
    try:
        wrong = wl.check()
        occ_rows, keyed_rows = ctx.engine_rows()
        wrong += (occ_rows, keyed_rows) != (ctx.oracle_rows,
                                            ctx.oracle_keyed_rows)
    except Exception:
        traceback.print_exc()
        # a failed run; keep the figures below computable
        wrong, occ_rows, keyed_rows = 1, ctx.oracle_rows, 0
    failed += wrong
    check_s = time.perf_counter() - t
    tiles, store_bytes = W.store_stats(wl.root) if wl.root else (0, 0)

    head = (f"perfbench {args.workload} seed={args.seed} "
            f"seconds={args.seconds:g} trace={args.trace} "
            f"local[{spark.sparkContext.defaultParallelism}] "
            f"rows={W.ROWS} ops={i} failed={failed} (wrong={wrong}) "
            f"rounds={i // wl.round_len} checks={check_s:.1f}s "
            f"host_slowdown={slow:.3f} ({probes} probes)")
    result = {"correct": failed == 0, "attempted": i, "failed": failed}
    if not args.trace:
        ops = lat[False]
        m = {
            "setup_s": setup_s,
            "ops_per_s": len(ops) / sum(ops),
            "cpu_s_per_op": cpu_s / len(ops),
            "peak_rss_mb": peak_mb,
        }
        m["norm_ops_per_s"] = m["ops_per_s"] * slow
        m["norm_cpu_s_per_op"] = m["cpu_s_per_op"] / slow
        if wl.root:
            m["build_s"] = build_s
            m["store_bytes_per_row"] = store_bytes / occ_rows
        lines = [head] + report(m, ops, failed, i)
        result["metrics"] = {k: {"value": m[k], "unit": u} for k, u in E2E}
        return lines, result
    layer = per_layer(tracer, lat, tiles, store_bytes, occ_rows, keyed_rows)
    os.makedirs(f"{ROOT}/.perfbench_spans", exist_ok=True)
    tracer.dump(f"{ROOT}/.perfbench_spans/{args.workload}-{args.seed}.jsonl")
    lines = [head] + [f"  {k:44s} {v:14.6g} {u}"
                      for k, (v, u) in layer.items()]
    result["metrics"] = {k: {"value": v, "unit": u}
                         for k, (v, u) in layer.items()}
    return lines, result


def report(m: dict, ops: list[float], failed: int,
           attempted: int) -> list[str]:
    """The ten end-to-end figures by name and unit, as measured; a
    percentile only where at least ten samples lie beyond it. Then the
    host-normalised figures the benchmark is gated on."""
    n = len(ops)
    q = statistics.quantiles(ops, n=100, method="inclusive") if n > 1 else []

    def pct(p: int) -> str:
        need = 10 * 100 // (100 - p)
        if n < need:
            return f"n/a ({n} samples, {need} needed)"
        return f"{q[p - 1] * 1e3:.4f} ms ({n} samples)"

    store = "build_s" in m
    rows = [
        ("setup_s", f"{m['setup_s']:.4f} s"),
        ("build_s", f"{m['build_s']:.4f} s (the one store build in set-up)"
                    if store else "n/a (no tile store)"),
        ("p50_ms", pct(50)),
        ("p90_ms", pct(90)),
        ("p99_ms", pct(99)),
        ("ops_per_s", f"{m['ops_per_s']:.4f} 1/s"),
        ("error_rate", f"{failed / attempted:.4f} ratio "
                       f"({failed} of {attempted})"),
        ("cpu_s_per_op", f"{m['cpu_s_per_op']:.6f} s"),
        ("peak_rss_mb", f"{m['peak_rss_mb']:.1f} MB"),
        ("store_bytes_per_row", f"{m['store_bytes_per_row']:.3f} B"
                                if store else "n/a (no tile store)"),
        ("norm_ops_per_s", f"{m['norm_ops_per_s']:.4f} 1/s"),
        ("norm_cpu_s_per_op", f"{m['norm_cpu_s_per_op']:.6f} s"),
    ]
    return [f"  {k:20s} {v}" for k, v in rows]


def per_layer(tracer, lat: dict, tiles: int, store_bytes: int,
              occ_rows: int,
              keyed_rows: int) -> dict[str, tuple[float, str]]:
    n = len(lat[True])
    out = {f"build.{k}": v for k, v in
           {**tracer.stage_metrics("build", 1),
            **tracer.span_metrics("build", 1)}.items()}
    out.update(tracer.stage_metrics("op", n))
    out.update(tracer.span_metrics("op", n))
    calls, loads = tracer.reader_counts()
    # mean op time: traced and untraced ops cover whole rounds each, so
    # both means are over the same mix of kinds
    off = statistics.fmean(lat[False]) * 1e3
    on = statistics.fmean(lat[True]) * 1e3
    out.update({
        "sources.tile_store.cold_loads": (loads / n, "count/op"),
        "sources.tile_store.hit_rate": (1 - loads / calls if calls else 0.0,
                                        "ratio"),
        "sources.tile_store.tiles": (float(tiles), "count"),
        "sources.tile_store.bytes": (float(store_bytes), "B"),
        "sources.occurrence.rows": (float(occ_rows), "count"),
        "sources.occurrence.keyed_rows": (float(keyed_rows), "count"),
        "trace.op_ms_off": (off, "ms"),
        "trace.op_ms_on": (on, "ms"),
        "trace.overhead_pct": ((on / off - 1) * 100, "%"),
    })
    return out


if __name__ == "__main__":
    raise SystemExit(main())
