"""The ``occurrence`` table: the engine's primary input.

The reference consumes a 20-column projection of GBIF's occurrence store
(MapBuilder.java:53-79). The driver's TESTDATA has no such table, so we
derive a deterministic occurrence view from ``events`` x ``nation``
(FIXTURES.md §6): integer-arithmetic lat/lng/year/flags keyed off
``event_id``/``user_id`` — every derivation is exact integer or
decimal-by-100 math, so Spark and the DuckDB oracle agree bitwise.

``OCCURRENCE_SQL`` is dual-dialect: the same text runs under
``spark.sql`` (with ``events``/``nation`` temp views) and inside DuckDB.

The taxon hierarchy is functional (species -> genus -> family -> kingdom
by integer division) so the taxon map-key fan-out nests like the
reference's classification paths (MapKeysUDF.java:155-173).

**The snapshot contract.** :func:`occurrence_df` does not return a new
lazy plan per call: it returns one persisted snapshot of the occurrence
frame, the engine's stand-in for the reference's standing index
(Elasticsearch answers its ad-hoc, capabilities and trend endpoints
without re-deriving the table per request). Every endpoint, the
backfill and the gates read the same materialised rows:

- storage level ``MEMORY_AND_DISK``; the first action on the frame
  fills it (the parquet scan, the ``spread`` repartition, the broadcast
  ``nation`` join, the derivation and the nested key columns run once);
- one snapshot per live SparkContext x absolute ``sf_dir`` x
  ``base_filter``;
- each snapshot records the file signature (path, size, mtime of every
  file) of the ``events``/``nation`` parquet it was read from. When the
  input is rewritten, the next call releases (unpersists) every
  snapshot of the old files and builds a fresh one, so the cached
  frames stay bounded by the number of distinct inputs;
- a snapshot's derived frame (``operators.pyramid.keyed_occurrence``'s
  map-key fan-out) is persisted once, owned by the snapshot and
  released with it. Any other frame (a streaming batch, a test's own
  frame) stays lazy: a cached input does not make its outputs cached;
- the snapshots of a stopped SparkContext die with its block manager;
  their entries are dropped on the next call under a new context.
  A frame dropped from the cache behind the registry's back
  (``spark.catalog.clearCache()``) is rebuilt on the next call.

A hit re-registers the ``events``/``nation`` temp views, as a miss
does, so SQL callers can keep naming them.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from maps_spark.sql import dual

# -- dual-dialect derivation -------------------------------------------------

# CAST the division to DOUBLE *before* the subtraction: Spark types
# `int / 100.0` as exact decimal while DuckDB divides in double; casting
# the division result first makes both sides the correctly-rounded double
# of the same exact rational, and the following subtraction is then the
# same double op in both engines.
_LAT = ("CAST(((e.user_id * 7919 + e.event_id * 13) % 18001) / 100.0"
        " AS DOUBLE) - 90.0")
_LNG = ("CAST(((e.event_id * 104729 + e.user_id * 17) % 36001) / 100.0"
        " AS DOUBLE) - 180.0")

_BOR_CASE = """CASE e.event_type
      WHEN 'click' THEN 'HUMAN_OBSERVATION'
      WHEN 'view' THEN 'OBSERVATION'
      WHEN 'purchase' THEN 'PRESERVED_SPECIMEN'
      WHEN 'signup' THEN 'MACHINE_OBSERVATION'
      WHEN 'error' THEN 'MATERIAL_SAMPLE'
      ELSE 'OCCURRENCE' END"""

OCCURRENCE_SQL = f"""
SELECT
  e.event_id                                         AS occurrenceId,
  CASE WHEN e.event_id % 97 = 0 THEN NULL ELSE {_LAT} END  AS decimalLatitude,
  CASE WHEN e.event_id % 101 = 0 THEN NULL ELSE {_LNG} END AS decimalLongitude,
  {_BOR_CASE}                                        AS basisOfRecord,
  CASE WHEN e.event_id % 111 = 0 THEN NULL
       ELSE 1850 + CAST((e.event_id + e.user_id) % 175 AS BIGINT) END AS year,
  'ds-' || CAST(e.user_id % 40 AS BIGINT)            AS datasetKey,
  'org-' || CAST(e.user_id % 13 AS BIGINT)           AS publishingOrgKey,
  n.n_name                                           AS countryCode,
  'PC' || CAST(e.event_id % 20 AS BIGINT)            AS publishingCountry,
  'k' || CAST(floor((e.event_id % 400) / 80) AS BIGINT) AS kingdomKey,
  'f' || CAST(floor((e.event_id % 400) / 20) AS BIGINT) AS familyKey,
  'g' || CAST(floor((e.event_id % 400) / 5) AS BIGINT)  AS genusKey,
  's' || CAST(e.event_id % 400 AS BIGINT)            AS speciesKey,
  e.event_id % 89 = 0                                AS hasGeospatialIssues,
  CASE WHEN e.event_id % 83 = 0 THEN 'ABSENT' ELSE 'PRESENT' END
                                                     AS occurrenceStatus,
  e.value                                            AS sampleValue
FROM events e
JOIN nation n ON n.n_nationkey = e.user_id % 25
"""

# Base predicate (MapBuilder.java:75-79): coords present, no geo issues,
# status PRESENT.
BASE_FILTER_SQL = (
    "decimalLatitude IS NOT NULL AND decimalLongitude IS NOT NULL "
    "AND hasGeospatialIssues = false AND occurrenceStatus = 'PRESENT'"
)

TAXON_RANKS = {"kingdom": "kingdomKey", "family": "familyKey",
               "genus": "genusKey", "species": "speciesKey"}


def occurrence_cte(sf_dir: str | None = None) -> str:
    """Oracle CTE: filtered occurrence view. With ``sf_dir`` the raw
    parquet paths are inlined; without it the pre-registered DuckDB views
    (``events``/``nation``) are used — the driver provides those."""
    sql = OCCURRENCE_SQL
    if sf_dir:
        sql = sql.replace(
            "FROM events e",
            f"FROM '{sf_dir}/events.parquet' e").replace(
            "JOIN nation n",
            f"JOIN '{sf_dir}/nation.parquet' n")
    return f"WITH occ AS (SELECT * FROM ({sql}) WHERE {BASE_FILTER_SQL})"


def mapkeys_cte(sf_dir: str | None = None) -> str:
    """Oracle CTE adding the exploded ``mapKey`` (UNION ALL per key type —
    semantically equal to the engine's single-explode fan-out)."""
    keys = ["SELECT o.*, '0:0' AS mapKey FROM occ o"]
    for c in TAXON_RANKS.values():
        keys.append(f"SELECT o.*, '1:c0|' || {c} AS mapKey FROM occ o")
    keys.append("SELECT o.*, '2:' || datasetKey AS mapKey FROM occ o")
    keys.append("SELECT o.*, '3:' || publishingOrgKey AS mapKey FROM occ o")
    keys.append("SELECT o.*, '4:' || countryCode AS mapKey FROM occ o "
                "WHERE countryCode IS NOT NULL")
    keys.append("SELECT o.*, '5:' || publishingCountry AS mapKey FROM occ o")
    # networkKey array fan-out (engine: explode of the array column)
    keys.append("SELECT o.*, '6:net-' || CAST(occurrenceId % 7 AS BIGINT) "
                "AS mapKey FROM occ o WHERE occurrenceId % 3 = 0")
    keys.append("SELECT o.*, '6:net-global' AS mapKey FROM occ o "
                "WHERE occurrenceId % 10 = 0")
    # c1 checklist arms (engine: classifications map fan-out)
    keys.append("SELECT o.*, '1:c1|' || familyKey AS mapKey FROM occ o "
                "WHERE occurrenceId % 2 = 0")
    keys.append("SELECT o.*, '1:c1|' || speciesKey AS mapKey FROM occ o "
                "WHERE occurrenceId % 2 = 0")
    union = " UNION ALL ".join(keys)
    return f"{occurrence_cte(sf_dir)}, keyed AS ({union})"


# -- Spark side --------------------------------------------------------------

_FACT_TABLES = frozenset(("events", "documents", "embeddings", "lineitem",
                          "orders"))


def spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Ensure a fact input feeds every core.

    The driver's small-SF tables are single-row-group parquet files, so
    a scan yields ONE partition and the whole first stage (scan +
    explode + partial agg) runs on one thread. Repartitioning a few MB
    is free; on a real deployment inputs arrive in thousands of row
    groups and this is a no-op."""
    p = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def register_testdata(spark: SparkSession, sf_dir: str,
                      tables: tuple[str, ...] = (
                          "region", "nation", "customer", "supplier", "part",
                          "orders", "lineitem", "events", "documents",
                          "embeddings")) -> None:
    for t in tables:
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        if t in _FACT_TABLES:
            df = spread(spark, df)
        df.createOrReplaceTempView(t)


@dataclass
class _Snapshot:
    signature: tuple
    occ: DataFrame
    keyed: DataFrame | None = None

    def release(self) -> None:
        for df in (self.keyed, self.occ):
            if df is not None:
                df.unpersist()


# (application id, absolute sf_dir, base_filter) -> live snapshot
_SNAPSHOTS: dict[tuple[str, str, bool], _Snapshot] = {}
_LOCK = threading.Lock()


def _file_signature(sf_dir: str) -> tuple:
    """(path, size, mtime) of every file of the two input tables; a
    table may be one file or a directory of part files."""
    sig = []
    for t in ("events", "nation"):
        path = os.path.join(sf_dir, f"{t}.parquet")
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            st = os.stat(f)
            sig.append((f, st.st_size, st.st_mtime_ns))
    return tuple(sig)


def occurrence_df(spark: SparkSession, sf_dir: str,
                  base_filter: bool = True) -> DataFrame:
    """The persisted occurrence snapshot of ``sf_dir`` (module
    docstring). The nation join is broadcast (25 rows); the filter +
    projection push into the parquet scan via Catalyst when the
    snapshot fills.

    ``networkKey`` is an array<string> (0-2 networks per record) —
    exercising the reference's array-typed key fan-out
    (MapKeysUDF.java:119, WrappedArray<String>). The oracle mirrors the
    fan-out with per-network UNION ALL arms (mapkeys_cte)."""
    app = spark.sparkContext.applicationId
    path = os.path.abspath(sf_dir)
    key = (app, path, base_filter)
    sig = _file_signature(path)
    with _LOCK:
        register_testdata(spark, sf_dir, ("events", "nation"))
        for k in list(_SNAPSHOTS):
            if k[0] != app:    # a stopped context: its blocks are gone
                del _SNAPSHOTS[k]
            elif k[1] == path and _SNAPSHOTS[k].signature != sig:
                _SNAPSHOTS.pop(k).release()    # the input was rewritten
        snap = _SNAPSHOTS.get(key)
        if snap is None or snap.occ.storageLevel == StorageLevel.NONE:
            if snap is not None:
                snap.release()
            snap = _SNAPSHOTS[key] = _Snapshot(
                sig, occurrence_plan(spark, base_filter).persist(
                    StorageLevel.MEMORY_AND_DISK))
        return snap.occ


def occurrence_plan(spark: SparkSession,
                    base_filter: bool = True) -> DataFrame:
    """The lazy occurrence plan over the registered ``events``/``nation``
    views, which :func:`occurrence_df` persists."""
    df = spark.sql(OCCURRENCE_SQL)
    if base_filter:
        df = df.where(BASE_FILTER_SQL)
    return with_network_key(df)


def snapshot_fanout(occ: DataFrame,
                    fanout: Callable[[DataFrame], DataFrame]) -> DataFrame:
    """The map-key fan-out ``fanout(occ)`` (``operators.pyramid``'s key
    explode), persisted once and owned by ``occ`` when ``occ`` is a
    live snapshot (released with it); a plain lazy ``fanout(occ)`` for
    any other frame."""
    with _LOCK:
        snap = next((s for s in _SNAPSHOTS.values() if s.occ is occ), None)
        if snap is None:
            return fanout(occ)
        if snap.keyed is None:
            snap.keyed = fanout(occ).persist(StorageLevel.MEMORY_AND_DISK)
        return snap.keyed


def with_network_key(df: DataFrame) -> DataFrame:
    """Attach the reference's two nested-typed columns:

    - ``networkKey``: array<string>, 0-2 networks per record;
    - ``classifications``: map<string, array<string>> — checklistKey ->
      taxon path (MapKeysUDF.java:114). ``c0`` is the full 4-rank path;
      even records additionally carry a sparser ``c1`` checklist
      (family + species only).
    """
    import pyspark.sql.functions as F
    oid = F.col("occurrenceId")
    df = df.withColumn("networkKey", F.array_compact(F.array(
        F.when(oid % 3 == 0,
               F.concat(F.lit("net-"), (oid % 7).cast("string"))),
        F.when(oid % 10 == 0, F.lit("net-global")))))
    c0 = F.array("kingdomKey", "familyKey", "genusKey", "speciesKey")
    c1 = F.when(oid % 2 == 0, F.array("familyKey", "speciesKey"))
    return df.withColumn(
        "classifications",
        F.map_filter(F.map_from_arrays(
            F.array(F.lit("c0"), F.lit("c1")), F.array(c0, c1)),
            lambda _, v: v.isNotNull()))
