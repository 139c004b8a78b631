"""Species-trend regression (A14 + J2, RegressionResource.java:204-355).

The reference fits an OLS regression of normalized per-year counts
(species count / higher-taxon count) against year — per hexagon for the
tile endpoint, or for the whole query area.

Implementation notes:

- the species-vs-group pairing (J2) is one scan of the keyed frame
  with a conditional count per side, grouped on (cell, year); a
  (cell, year) pairs when both counts are positive — the inner join of
  the two per-side aggregates without a second scan or the join.
- slope/intercept/r2 come from *integer* sufficient statistics
  (n, Sx, Sy, Sxx, Sxy computed over exact ints/decimals) so results
  are bit-deterministic and oracle-checkable — the closed forms match
  ``F.regr_slope``/``regr_intercept`` semantics.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from maps_spark.session import sql_over


def trend_sql(species_pred: str, group_pred: str, keyed_table: str) -> str:
    """Dual-dialect OLS trend SQL (RegressionResource.java:204-220,
    output fields per :347-355): per-year species/group ratio regressed
    on year, returning the full SimpleRegression surface — slope,
    intercept, r2, n, SSE, slope/intercept standard errors, and the
    two-sided slope significance.

    One scan: the species and group counts are two conditional counts
    of one per-year aggregate over rows matching either predicate, and
    the years where both are positive are the pairs (the inner join of
    two per-year aggregates, without a second scan or the join).

    Bit-determinism: the ratio is quantized to an exact integer
    ``floor(speciesCnt * 1e9 / groupCnt)`` (identical double division +
    floor in both engines), all sufficient statistics are exact
    integer/decimal sums, and only the final closed forms divide in
    double — so Spark and DuckDB agree bitwise, with no dependence on
    summation order or decimal rounding modes.

    Standard errors and SSE are the exact OLS closed forms
    (SSE = Syy' - b*Sxy', se_b = sqrt(MSE/Sxx'), se_a =
    sqrt(MSE*(1/n + xbar^2/Sxx'))). The significance is the two-sided
    p-value of t = slope/se_b at n-2 df; since neither dialect has a
    Student-t CDF builtin, it uses Hill's (1970) elementary t->normal
    transform plus the Abramowitz-Stegun 26.2.17 normal tail — within
    ~0.7% relative of the exact t CDF (commons-math uses the exact
    distribution; fields and semantics match, values agree to ~3
    decimals). The tail is computed as 2*pdf*poly directly (never
    1-CDF) to avoid cancellation.
    """
    return f"""
WITH yc AS (SELECT CAST(year AS BIGINT) AS year,
                   count(CASE WHEN {species_pred} THEN 1 END) AS speciesCnt,
                   count(CASE WHEN {group_pred} THEN 1 END) AS groupCnt
            FROM {keyed_table}
            WHERE ({species_pred} OR {group_pred}) AND year IS NOT NULL
            GROUP BY 1),
pairs AS (SELECT year,
                 CAST(floor(CAST(speciesCnt AS DOUBLE) * 1000000000.0
                            / CAST(groupCnt AS DOUBLE)) AS BIGINT) AS rs
          FROM yc WHERE speciesCnt > 0 AND groupCnt > 0),
sums AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(year) AS BIGINT) AS sx,
                CAST(sum(rs) AS BIGINT) AS sy,
                CAST(sum(year * year) AS BIGINT) AS sxx,
                CAST(sum(year * rs) AS BIGINT) AS sxy,
                CAST(sum(CAST(rs AS DECIMAL(19,0)) * CAST(rs AS DECIMAL(19,0)))
                     AS DECIMAL(38,0)) AS syy
         FROM pairs),
closed AS (SELECT n,
                  CAST(n * sxy - sx * sy AS DOUBLE) AS num,
                  CAST(n * sxx - sx * sx AS DOUBLE) AS den,
                  CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd,
                  CAST(CAST(n AS DECIMAL(19,0)) * syy -
                       CAST(sy AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0))
                       AS DOUBLE) AS den2
           FROM sums),
ex1 AS (SELECT n, num, den, syd, sxd, den2,
               CAST(n AS DOUBLE) AS nd, CAST(n - 2 AS DOUBLE) AS df,
               CASE WHEN den <> 0
                    THEN (den2 - num * num / den) / nd END AS sse_rs
        FROM closed),
ex2 AS (SELECT *,
               CASE WHEN df > 0 AND den <> 0 AND sse_rs >= 0
                    THEN sqrt((sse_rs / df) * nd / den) END AS se_rs,
               CASE WHEN df > 0 AND den <> 0 AND sse_rs >= 0
                    THEN sqrt((sse_rs / df)
                              * (1.0 / nd + sxd * sxd / (nd * den)))
                    END AS ise_rs
        FROM ex1),
ex3 AS (SELECT *, CASE WHEN se_rs > 0
                       THEN abs(num / den) / se_rs END AS tt
        FROM ex2),
ex4 AS (SELECT *, CASE WHEN tt IS NOT NULL AND df > 0.5
                       THEN sqrt((df - 0.5) * ln(1.0 + tt * tt / df))
                       END AS hz,
               48.0 * (df - 0.5) * (df - 0.5) AS hb
        FROM ex3),
ex5 AS (SELECT *, CASE WHEN hz IS NOT NULL THEN
               hz + (hz * hz * hz + 3.0 * hz) / hb
                  - (4.0 * pow(hz, 7.0) + 33.0 * pow(hz, 5.0)
                     + 240.0 * pow(hz, 3.0) + 855.0 * hz)
                    / (10.0 * hb * (hb + 0.8 * pow(hz, 4.0) + 100.0))
               END AS zc
        FROM ex4),
ex6 AS (SELECT *, CASE WHEN zc IS NOT NULL
                       THEN 1.0 / (1.0 + 0.2316419 * zc) END AS nt
        FROM ex5)
SELECT (num / den) / 1000000000.0 AS slope,
       ((syd - (num / den) * sxd) / n) / 1000000000.0 AS intercept,
       CASE WHEN den * den2 <> 0 THEN (num * num) / (den * den2) END AS r2,
       n,
       sse_rs / 1000000000.0 / 1000000000.0 AS sse,
       se_rs / 1000000000.0 AS slope_stderr,
       ise_rs / 1000000000.0 AS intercept_stderr,
       CASE WHEN zc IS NOT NULL THEN
         least(1.0, 2.0 * (exp(0.0 - zc * zc / 2.0)
                           / sqrt(2.0 * pi()))
                    * (nt * (0.319381530 + nt * (-0.356563782
                       + nt * (1.781477937 + nt * (-1.821255978
                       + nt * 1.330274429))))))
       END AS significance
FROM ex6"""


def species_trend(spark, keyed: DataFrame, species_view: str,
                  group_view: str) -> DataFrame:
    """Engine entry: runs the dual-dialect trend SQL over the keyed
    frame, bound as a ``spark.sql`` argument through
    :func:`maps_spark.session.sql_over` (a per-call view, so concurrent
    requests never share a name); the oracle runs the
    identical text over its own CTE. borYear's null-year encoding (0)
    maps back to NULL year."""
    year = F.floor(F.col("borYear") / 100).cast("bigint")
    sql = trend_sql(f"mapKey = '{species_view}'", f"mapKey = '{group_view}'",
                    "{keyed}")
    return sql_over(spark, sql, keyed=keyed.select(
        "mapKey", F.when(year > 0, year).alias("year")))


def trend_response(spark, keyed: DataFrame, species_view: str,
                   group_view: str) -> dict:
    """The JSON regression endpoint (RegressionResource.java:347-355):
    one dict with the full SimpleRegression surface.

    The distributed computation is :func:`species_trend` (dual-dialect
    SQL, oracle-checkable); this finisher then swaps the SQL's
    Hill-approximate ``significance`` for the EXACT Student-t p-value
    (commons-math ``SimpleRegression.getSignificance()`` semantics) via
    the regularized incomplete beta — a driver-side scalar on the
    single result row, so exactness costs nothing distributed."""
    from maps_spark.functions.stats import slope_significance
    row = species_trend(spark, keyed, species_view, group_view) \
        .collect()[0].asDict()
    if (row.get("slope") is not None and row.get("slope_stderr")
            and row.get("n")):
        row["significance"] = slope_significance(
            row["slope"], row["slope_stderr"], int(row["n"]))
    return row


def hex_trend(spark, keyed: DataFrame, species_view: str, group_view: str,
              srs: str = "EPSG:3857", z: int = 0, x: int = 0, y: int = 0
              ) -> DataFrame:
    """J2: per-hexagon species trend over one served tile — runs the
    same dual-dialect SQL text the oracle replays
    (RegressionResource.java:258-342), with the keyed frame bound as a
    ``spark.sql`` argument."""
    from maps_spark.sql.oracle import hex_trend_body
    return sql_over(spark, hex_trend_body(
        srs, z, x, y, species_view, group_view,
        keyed="{keyed}", lat="lat", lng="lng", bor_year="borYear"),
        keyed=keyed)

