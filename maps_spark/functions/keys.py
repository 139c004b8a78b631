"""Map-view keys, borYear packing, and storage-key salting.

- ``map_keys_array``: the per-record fan-out of map-view keys
  (MapKeysUDF.java:99-147): one record contributes to the all-data map
  ``0:0``, its taxon maps (one per ancestor rank), dataset, publisher,
  country, publishing-country and network maps. Returned as an array
  Column for a single ``explode`` — the engine's only row-multiplying op.
- ``bor_year_col`` / decode: ``year*100 + borCode`` int packing
  (EncodeBorYearUDF.java:58-70) so the wide shuffles group on one long
  instead of (string, int).
- ``java_hash_salt``: reference-compatible HBase salt
  (``String.hashCode() & 0xfffffff % modulus``, ModulusSalt.java:61-76)
  as a vectorized pandas UDF; only needed when byte-parity with the
  reference's row keys matters — the Parquet tile index partitions by
  (srs, z) instead.

Map-key type codes (MapKeysUDF.java:34-45): ALL=0, TAXON=1, DATASET=2,
PUBLISHER=3, COUNTRY=4, PUBLISHING_COUNTRY=5, NETWORK=6.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf

from maps_spark.sql import dual

ALL_KEY = "0:0"  # Params.java:61


def map_keys_array(
    taxon_cols: dict[str, str] | None = None,
    checklist: str = "c0",
    dataset_col: str | None = "datasetKey",
    publisher_col: str | None = "publishingOrgKey",
    country_col: str | None = "countryCode",
    publishing_country_col: str | None = "publishingCountry",
    network_col: str | None = None,
    classifications_col: str | None = None,
) -> Column:
    """Array of map-view keys for one record, nulls compacted.

    ``taxon_cols`` maps rank name -> column name; each non-null rank
    yields ``1:<checklist>|<value>`` (MapKeysUDF.java:225-235 format).
    ``network_col`` names an array<string> column (fan-out per element);
    ``classifications_col`` a map<string, array<string>> column
    (checklistKey -> taxon path, fan-out per entry per element).
    """
    keys: list[Column] = [F.lit(ALL_KEY)]
    for _rank, c in (taxon_cols or {}).items():
        keys.append(_typed(1, F.concat(F.lit(f"{checklist}|"), F.col(c))))
    if classifications_col:
        # map<checklistKey, array<taxonID>> fan-out: one key per
        # (checklist, path element) — MapKeysUDF.java:125-133
        cls = F.flatten(F.transform(
            F.map_entries(F.coalesce(
                F.col(classifications_col),
                F.expr("map()").cast("map<string,array<string>>"))),
            lambda e: F.transform(
                e["value"],
                lambda t: F.concat(F.lit("1:"), e["key"], F.lit("|"), t))))
    if dataset_col:
        keys.append(_typed(2, F.col(dataset_col)))
    if publisher_col:
        keys.append(_typed(3, F.col(publisher_col)))
    if country_col:
        keys.append(_typed(4, F.col(country_col)))
    if publishing_country_col:
        keys.append(_typed(5, F.col(publishing_country_col)))
    arr = F.array(*keys)
    if classifications_col:
        arr = F.concat(arr, cls)
    if network_col:
        nets = F.transform(
            F.coalesce(F.col(network_col), F.array()),
            lambda n: F.concat(F.lit("6:"), n))
        arr = F.concat(arr, nets)
    # null-safe + sorted, mirroring the TreeSet semantics (MapKeysUDF.java:121)
    return F.array_sort(F.array_distinct(F.array_compact(arr)))


def _typed(code: int, value: Column) -> Column:
    return F.when(value.isNotNull(), F.concat(F.lit(f"{code}:"), value))


def bor_year_col(bor_col: str, year_col: str) -> Column:
    """year*100 + borCode as a long Column (dual-dialect template)."""
    return F.expr(dual.encode_bor_year(bor_col, year_col))


def java_string_hash(s: pd.Series) -> np.ndarray:
    """Vectorized Java ``String.hashCode`` (s[0]*31^(n-1) + ... + s[n-1])."""
    out = np.zeros(len(s), dtype=np.int32)
    vals = s.fillna("").to_numpy()
    for i, v in enumerate(vals):
        h = np.int32(0)
        for ch in v:
            h = np.int32(np.int32(31) * h + np.int32(ord(ch)))
        out[i] = h
    return out


def java_hash_salt(key: Column, modulus: int = 100) -> Column:
    """``(hashCode & 0xfffffff) % modulus`` zero-padded salt prefix
    (ModulusSalt.java:61-76)."""
    digits = len(str(modulus - 1))

    @pandas_udf("string")
    def _salt(k: pd.Series) -> pd.Series:
        h = java_string_hash(k).astype(np.int64) & 0xFFFFFFF
        return pd.Series(np.char.zfill((h % modulus).astype(str), digits))

    return _salt(key)


def salted_key(key: Column, modulus: int = 100) -> Column:
    return F.concat_ws(":", java_hash_salt(key, modulus), key)
