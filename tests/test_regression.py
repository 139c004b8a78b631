"""Full SimpleRegression output surface: slope/intercept/r2/n plus
SSE, standard errors, and slope significance
(RegressionResource.java:347-355 parity)."""

import math

import pytest


def _py_ols(xs, ys):
    """Plain-Python OLS closed forms (the independent check)."""
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    syy = sum(y * y for y in ys)
    den = n * sxx - sx * sx
    num = n * sxy - sx * sy
    slope = num / den
    intercept = (sy - slope * sx) / n
    sxx_c = sxx - sx * sx / n
    sxy_c = sxy - sx * sy / n
    syy_c = syy - sy * sy / n
    sse = syy_c - slope * sxy_c
    mse = sse / (n - 2)
    se_b = math.sqrt(mse / sxx_c)
    se_a = math.sqrt(mse * (1.0 / n + (sx / n) ** 2 / sxx_c))
    r2 = (num * num) / (den * (n * syy - sy * sy))
    return dict(slope=slope, intercept=intercept, r2=r2, n=n, sse=sse,
                slope_stderr=se_b, intercept_stderr=se_a,
                t=slope / se_b)


def _hill_sig(t, df):
    """Hill (1970) t->z + A&S 26.2.17 tail — the formula the SQL uses."""
    t = abs(t)
    a = df - 0.5
    b = 48.0 * a * a
    z = math.sqrt(a * math.log(1.0 + t * t / df))
    zc = (z + (z ** 3 + 3 * z) / b
          - (4 * z ** 7 + 33 * z ** 5 + 240 * z ** 3 + 855 * z)
          / (10.0 * b * (b + 0.8 * z ** 4 + 100.0)))
    nt = 1.0 / (1.0 + 0.2316419 * zc)
    pdf = math.exp(-zc * zc / 2.0) / math.sqrt(2.0 * math.pi)
    poly = nt * (0.319381530 + nt * (-0.356563782 + nt * (1.781477937
                 + nt * (-1.821255978 + nt * 1.330274429))))
    return min(1.0, 2.0 * pdf * poly)


@pytest.fixture(scope="module")
def trend_row(spark):
    from maps_spark.operators.regression import trend_sql

    # species/group yearly counts with a real declining trend
    rows = []
    for i, year in enumerate(range(1990, 2010)):
        gc = 50 + (i * 13) % 17
        sc = max(1, int(gc * (0.8 - 0.02 * i)) + (i % 3))
        rows += [("s", year)] * sc + [("g", year)] * gc
    df = spark.createDataFrame(rows, "mapKey string, year long")
    df.createOrReplaceTempView("trend_test_keyed")
    out = spark.sql(trend_sql("mapKey = 's'", "mapKey = 'g'",
                              "trend_test_keyed")).first()

    # expected: quantized ratio series, python closed forms
    from collections import Counter
    scs = Counter(y for k, y in rows if k == "s")
    gcs = Counter(y for k, y in rows if k == "g")
    xs, ys = [], []
    for year in sorted(gcs):
        xs.append(year)
        ys.append(math.floor(scs[year] * 1e9 / gcs[year]) / 1e9)
    return out, _py_ols(xs, ys)


def test_exact_closed_forms(trend_row):
    out, exp = trend_row
    assert out["n"] == exp["n"]
    for f in ("slope", "intercept", "r2", "sse",
              "slope_stderr", "intercept_stderr"):
        assert out[f] == pytest.approx(exp[f], rel=1e-9), f


def test_significance(trend_row):
    out, exp = trend_row
    sig = _hill_sig(exp["t"], exp["n"] - 2)
    assert out["significance"] == pytest.approx(sig, rel=1e-9)
    assert 0.0 <= out["significance"] <= 1.0
    # a strong planted trend must be significant
    assert out["significance"] < 0.01


class TestExactSignificance:
    """The exact Student-t significance finisher (functions/stats.py)
    vs independent closed forms — commons-math
    SimpleRegression.getSignificance() parity."""

    def test_closed_form_small_df(self):
        # exact two-sided t tails have elementary closed forms at small
        # integer df — an INDEPENDENT check of the continued fraction:
        # df=1: p = 1 - (2/pi) atan(t);  df=2: p = 1 - t/sqrt(t^2+2)
        # df=3: p = 1 - (2/pi)(atan(u) + u/(1+u^2)), u = t/sqrt(3)
        from maps_spark.functions.stats import t_sf_two_sided
        for t in (0.1, 0.5, 1.0, 2.0, 5.0, 20.0):
            assert t_sf_two_sided(t, 1) == pytest.approx(
                1.0 - 2.0 / math.pi * math.atan(t), rel=1e-12)
            assert t_sf_two_sided(t, 2) == pytest.approx(
                1.0 - t / math.sqrt(t * t + 2.0), rel=1e-12)
            u = t / math.sqrt(3.0)
            assert t_sf_two_sided(t, 3) == pytest.approx(
                1.0 - 2.0 / math.pi * (math.atan(u) + u / (1 + u * u)),
                rel=1e-12)

    def test_normal_limit_large_df(self):
        # df -> inf: the t tail approaches the normal tail
        from maps_spark.functions.stats import t_sf_two_sided
        p = t_sf_two_sided(1.959963984540054, 1_000_000)
        assert p == pytest.approx(0.05, rel=1e-4)

    def test_edge_cases(self):
        from maps_spark.functions.stats import (slope_significance,
                                                t_sf_two_sided)
        assert t_sf_two_sided(0.0, 10) == 1.0
        assert t_sf_two_sided(float("inf"), 10) == 0.0
        assert math.isnan(t_sf_two_sided(1.0, 0))
        assert math.isnan(slope_significance(1.0, 0.0, 10))
        assert math.isnan(slope_significance(1.0, 1.0, 2))

    def test_hill_within_documented_tolerance(self):
        # the SQL keeps Hill's approximation (oracle-reproducible);
        # pin its documented ~1e-3 absolute agreement with the exact
        # tail over the df/t range the endpoint sees
        from maps_spark.functions.stats import t_sf_two_sided
        worst = 0.0
        for df in (3, 5, 10, 18, 30, 100):
            for t in (0.2, 0.5, 1.0, 1.5, 2.0, 3.0, 5.0):
                exact = t_sf_two_sided(t, df)
                approx = _hill_sig(t, df)
                worst = max(worst, abs(exact - approx))
        assert worst < 1e-3

    def test_trend_response_uses_exact(self, spark, trend_row):
        from maps_spark.functions.stats import t_sf_two_sided
        from maps_spark.operators.regression import trend_response
        out, exp = trend_row
        keyed = spark.createDataFrame(
            [(k, y * 100 + 1) for k, y in
             [(r["mapKey"], r["year"]) for r in
              spark.table("trend_test_keyed").collect()]],
            "mapKey string, borYear long")
        resp = trend_response(spark, keyed, "s", "g")
        assert resp["n"] == exp["n"]
        assert resp["slope"] == pytest.approx(exp["slope"], rel=1e-9)
        assert resp["significance"] == pytest.approx(
            t_sf_two_sided(exp["t"], exp["n"] - 2), rel=1e-12)
        # exact and Hill agree to the documented tolerance on real data
        assert resp["significance"] == pytest.approx(
            out["significance"], abs=1e-3)


def test_degenerate_inputs(spark):
    from maps_spark.operators.regression import trend_sql

    # two points: slope/intercept defined, df=0 -> stderr/sig NULL
    rows = [("s", 2000)] * 3 + [("g", 2000)] * 6 + \
           [("s", 2001)] * 4 + [("g", 2001)] * 8
    spark.createDataFrame(rows, "mapKey string, year long") \
        .createOrReplaceTempView("trend_degen_keyed")
    out = spark.sql(trend_sql("mapKey = 's'", "mapKey = 'g'",
                              "trend_degen_keyed")).first()
    assert out["n"] == 2
    assert out["slope"] == pytest.approx(0.0)
    assert out["slope_stderr"] is None
    assert out["significance"] is None


def _keyed_rows(seed: int) -> list[tuple]:
    """A small keyed frame: a species and a genus view with per-year
    counts and positions that depend on ``seed``."""
    import random
    rng = random.Random(seed)
    rows = []
    for year in range(1990, 2010):
        for view, n in (("1:c0|s1", rng.randint(5, 25)),
                        ("1:c0|g1", rng.randint(30, 50))):
            rows += [(view, rng.uniform(0, 4), rng.uniform(0, 4),
                      year * 100 + 1) for _ in range(n)]
    return rows


def _canon(rows) -> list[tuple]:
    return sorted(tuple(float(f"{v:.10g}") if isinstance(v, float) else v
                        for v in r) for r in rows)


def test_concurrent_requests_keep_their_own_frames(spark):
    """Two threads, each with its own keyed frame, run the SQL-text
    endpoints at the same time: every answer must equal the DuckDB
    twin over that thread's own rows (the engine binds the frame per
    call; a shared temp-view name would let one request read the
    other's frame)."""
    import threading

    import duckdb
    import pandas as pd

    from maps_spark.operators.capabilities import lng_spread_df
    from maps_spark.operators.regression import (hex_trend, species_trend,
                                                 trend_sql)
    from maps_spark.sql.oracle import hex_trend_body, lng_spread_body

    schema = "mapKey string, lat double, lng double, borYear long"
    sp, gp = "1:c0|s1", "1:c0|g1"
    frames, want = [], []
    for seed in (1, 2):
        rows = _keyed_rows(seed)
        frames.append(spark.createDataFrame(rows, schema))
        con = duckdb.connect()
        con.register("keyed", pd.DataFrame(
            rows, columns=["mapKey", "lat", "lng", "borYear"]))
        con.execute("CREATE VIEW trend_keyed AS SELECT mapKey, CASE WHEN "
                    "floor(borYear / 100) > 0 THEN CAST(floor(borYear / 100)"
                    " AS BIGINT) END AS year FROM keyed")
        want.append([_canon(con.execute(sql).fetchall()) for sql in (
            trend_sql(f"mapKey = '{sp}'", f"mapKey = '{gp}'", "trend_keyed"),
            hex_trend_body("EPSG:3857", 0, 0, 0, sp, gp, lat="lat",
                           lng="lng", bor_year="borYear"),
            lng_spread_body(sp, lng="lng"))])
    assert want[0] != want[1] and all(w[1] for w in want)

    start = threading.Barrier(2)
    got: list[list] = [[], []]

    def run(i: int) -> None:
        start.wait()
        keyed = frames[i]
        for _ in range(4):
            dfs = (species_trend(spark, keyed, sp, gp),
                   hex_trend(spark, keyed, sp, gp),
                   lng_spread_df(spark, keyed, sp))
            got[i].append([_canon(df.collect()) for df in dfs])

    threads = [threading.Thread(target=run, args=(i,)) for i in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    for i in (0, 1):
        assert len(got[i]) == 4
        assert all(answers == want[i] for answers in got[i])
