"""Digest every response of a seeded ``serve_hot`` request stream.

Builds the benchmark's tile store from the benchmark's seeded input,
sets up its ``TileReader`` and warm-up exactly as ``perfbench``'s
``serve_hot`` workload does, then replays ``--requests`` requests of its
seeded stream (``perfbench/inputs.RequestStream``) and prints one line
per response: index, kind and the SHA-256 of the response. Two
checkouts that answer the same stream identically print identical
output, so a change to the serve path is checked with

    python tools/serve_digest.py --seed 7 > new.txt
    (cd ../parent && python tools/serve_digest.py --seed 7) > old.txt
    diff old.txt new.txt

PNGs and binned tiles are hashed as bytes; a served tile dict as its
sorted items; a miss as ``None``. The mean latency per request kind
goes to standard error, and so does the PNG memo's account after the
replay (hits over the replayed PNG requests, entries and bytes held,
entries evicted; set-up's warm-up requests fill the memo too).
``--cold-png`` clears the PNG memo before every request, so that every
PNG request renders: its latencies are the miss path's, comparable
with a checkout that has no memo. ``perfbench/`` is only read: the
workload, stream and session set-up are its own.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil
import sys
import tempfile
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]


def digest(res) -> str:
    """SHA-256 of one response in a form that does not depend on dict
    order."""
    if isinstance(res, (bytes, bytearray)):
        data = bytes(res)
    else:
        data = repr(None if res is None else sorted(res.items())).encode()
    return hashlib.sha256(data).hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--requests", type=int, default=2100)
    ap.add_argument("--cold-png", action="store_true",
                    help="clear the PNG memo before every request")
    args = ap.parse_args()

    import run
    import workloads as W

    from maps_spark.functions import png

    work = tempfile.mkdtemp(prefix="serve-digest-")
    os.makedirs(f"{work}/tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    spark = None
    try:
        spark = run.start_spark(work)
        wl = W.ServeHot(W.Context(spark, args.seed, work))
        wl.build()
        wl.setup()
        # a checkout without the PNG memo has no account to report
        memo = getattr(png, "_MEMO", None)
        hits0 = memo.hits if memo else 0
        ms: dict[str, list[float]] = defaultdict(list)
        for i in range(args.requests):
            req = next(wl.stream)
            if args.cold_png and memo:
                memo.clear()
            t = time.perf_counter()
            res = wl.request(req)
            ms[req["kind"]].append((time.perf_counter() - t) * 1e3)
            print(i, req["kind"], digest(res))
        for kind, xs in sorted(ms.items()):
            print(f"{kind:12s} n={len(xs):4d} mean={sum(xs) / len(xs):7.3f} "
                  "ms", file=sys.stderr)
        if memo and not args.cold_png:
            pngs = sum(len(xs) for k, xs in ms.items() if k.endswith("_png"))
            print(f"png memo: {memo.hits - hits0} hits of {pngs} PNG "
                  f"requests, {len(memo._entries)} entries, {memo.nbytes} B "
                  f"of {png._MEMO_BUDGET} B, {memo.evicted} evicted",
                  file=sys.stderr)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
