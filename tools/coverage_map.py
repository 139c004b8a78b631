"""Generate COVERAGE.md: every gate query, its oracle status, and the
operator module it drives — derived from the live registries, so the
table cannot drift from the code.

Usage: python tools/coverage_map.py  (writes /root/repo/COVERAGE.md)
"""

from __future__ import annotations

import inspect
import sys


def main() -> None:
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry
    qs = entry.queries()
    oracles = entry.oracle_sql()

    rows = []
    for name, fn in qs.items():
        src = inspect.getsource(fn)
        mods = sorted({ln.split("import")[-1].strip().split(" as ")[0]
                       for ln in src.splitlines()
                       if "from maps_spark" in ln and "import" in ln})
        ora = "hash-checked" if name in oracles else \
            "rows-only (non-SQL-expressible)"
        rows.append((name, ora, ", ".join(mods) or "plans.queries"))

    n_hash = sum(1 for _, o, _ in rows if o == "hash-checked")
    lines = [
        "# COVERAGE — gate queries vs oracles",
        "",
        f"Auto-generated by `tools/coverage_map.py` from the live",
        f"`__spark_entry__` registries: **{len(rows)} queries, "
        f"{n_hash} hash-checked** against DuckDB twins, "
        f"{len(rows) - n_hash} rows-only.",
        "",
        "Deployment: every store publishes through "
        "`maps_spark/sources/commit.py`, whose crash contract needs "
        "POSIX-atomic rename (local disk, HDFS); a port to an object "
        "store (S3, GCS) must replace that module (see its docstring).",
        "",
        "| Gate query | Oracle | Drives |",
        "|---|---|---|",
    ]
    for name, ora, mods in rows:
        lines.append(f"| `{name}` | {ora} | {mods} |")
    with open("/root/repo/COVERAGE.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"COVERAGE.md: {len(rows)} queries, {n_hash} hash-checked")


if __name__ == "__main__":
    main()
