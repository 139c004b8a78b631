"""One-scan ad-hoc queries: the species trend, the hex trend and the
country mask read the keyed snapshot once and join nothing; the hex
assignment evaluates in double on both engines; the hexagon rings come
from one numpy pass; an exact repeat of a trend query compiles nothing.
"""

import random

import duckdb
import numpy as np
import pandas as pd
import pytest

from maps_spark.functions import mvt
from maps_spark.operators import binning
from maps_spark.operators.regression import trend_sql
from maps_spark.sql.oracle import hex_trend_body
from tests.oracles import (encode_polygon_layer_loop, hex_polygon,
                           hex_trend_body_two_scan, trend_sql_two_scan)

HEX_TILES = ((0, 0, 0), (2, 1, 3), (5, 17, 9))   # (z, x, y)
SPAN = 640                                        # pixels -64 .. 575


def _grid_ids(con, z, x, y) -> dict:
    q, r = binning.hex_assign_sql("px", "py", z, x, y)
    return con.execute(
        f"SELECT {q}, {r} FROM range(-64, {SPAN - 64}) a(px), "
        f"range(-64, {SPAN - 64}) b(py) ORDER BY px, py").fetchnumpy()


def test_hex_assign_agrees_on_every_pixel(spark, monkeypatch):
    """Every pixel of three buffered tiles gets the same hex id from
    Spark, DuckDB and the numpy twin ``hex_bin_dict``; Spark computes
    the fractional coordinates in double, not decimal."""
    import pyspark.sql.functions as F
    con = duckdb.connect()
    # pixel k = (k // SPAN - 64, k % SPAN - 64), the DuckDB grid's order
    grid = spark.range(SPAN * SPAN).select(
        "id", (F.floor(F.col("id") / SPAN) - 64).alias("px"),
        (F.col("id") % SPAN - 64).alias("py"))
    # all three tiles' ids in one job
    cols = []
    for i, (z, x, y) in enumerate(HEX_TILES):
        q, r = binning.hex_assign_sql("px", "py", z, x, y)
        cols += [F.expr(q).alias(f"q{i}"), F.expr(r).alias(f"r{i}")]
    got = grid.select("id", *cols).toPandas().sort_values("id")
    # hex_bin_dict sums per cell: weigh pixel k by k << 32 | 1, so each
    # cell's sum carries its pixel count and the sum of its pixel indices
    k = np.arange(SPAN * SPAN, dtype=np.int64)
    weight = (k << 32) | 1
    tile = (k // SPAN - 64, k % SPAN - 64, weight)
    for i, (z, x, y) in enumerate(HEX_TILES):
        dq, dr = _grid_ids(con, z, x, y).values()
        assert np.array_equal(got[f"q{i}"].to_numpy(), dq), (z, x, y)
        assert np.array_equal(got[f"r{i}"].to_numpy(), dr), (z, x, y)
        # one int per cell: |r| < SPAN / 2 on these tiles
        codes, at = np.unique(dq * SPAN + dr + SPAN // 2,
                              return_inverse=True)
        sums = np.zeros(len(codes), np.int64)
        np.add.at(sums, at, weight)
        cq, cr = np.divmod(codes, SPAN)
        q, r, total = binning.hex_bin_dict(*tile, z, x, y)
        assert np.array_equal(q, cq), (z, x, y)
        assert np.array_equal(r, cr - SPAN // 2), (z, x, y)
        assert np.array_equal(total, sums), (z, x, y)

    # the analysed type, which is what typeof() reports (no job needed)
    monkeypatch.setattr(binning, "cube_round_sql", lambda qf, rf: (qf, rf))
    qf, rf = binning.hex_assign_sql("px", "py", 2, 1, 3)
    types = grid.selectExpr(qf, rf).schema
    assert [f.dataType.typeName() for f in types] == ["double", "double"]


def _keyed(seed: int, views: dict[str, int]) -> pd.DataFrame:
    """Seeded keyed rows near (0, 0), so that they fall on a handful of
    hexagons of tile 0/0/0; ``views`` maps a view to its row count.
    Years 1990-2005 with a null year (borYear < 100) now and then."""
    rng = random.Random(seed)
    rows = []
    for view, n in views.items():
        years = rng.sample(range(1990, 2006), 10)
        for _ in range(n):
            year = rng.choice(years) if rng.random() > 0.05 else 0
            rows.append((view, rng.uniform(-6, 6), rng.uniform(-6, 6),
                         year * 100 + rng.randint(1, 9)))
    return pd.DataFrame(rows, columns=["mapKey", "lat", "lng", "borYear"])


TREND_CASES = [
    # species == group
    ("s", "s", {"s": 300, "o": 50}),
    # the group has no rows in some of the species' years
    ("s", "g", {"s": 200, "g": 400, "o": 50}),
    # an empty species view
    ("none", "g", {"g": 400, "o": 50}),
]


@pytest.mark.parametrize("seed", [3, 11])
@pytest.mark.parametrize("species,group,views", TREND_CASES)
def test_one_scan_trends_match_two_scan_oracles(seed, species, group, views):
    con = duckdb.connect()
    con.register("keyed", _keyed(seed, views))
    con.execute("CREATE VIEW trend_keyed AS SELECT mapKey, CASE WHEN "
                "floor(borYear / 100) > 0 THEN CAST(floor(borYear / 100)"
                " AS BIGINT) END AS year FROM keyed")
    sp, gp = f"mapKey = '{species}'", f"mapKey = '{group}'"
    pairs = [(trend_sql(sp, gp, "trend_keyed"),
              trend_sql_two_scan(sp, gp, "trend_keyed"))]
    kw = dict(lat="lat", lng="lng", bor_year="borYear")
    for z, x, y in ((0, 0, 0), (2, 1, 1)):
        pairs.append((hex_trend_body("EPSG:3857", z, x, y, species, group,
                                     **kw),
                      hex_trend_body_two_scan("EPSG:3857", z, x, y, species,
                                              group, **kw)))
    for one, two in pairs:
        got, want = (sorted(con.execute(s).fetchall(), key=repr)
                     for s in (one, two))
        assert got == want
    hexes = con.execute(pairs[1][0]).fetchall()
    assert bool(hexes) == (species != "none")


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _logical_nodes(df) -> list:
    """Every node of the optimized logical plan (a cached relation is a
    leaf: its own plan is not walked)."""
    out, todo = [], [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        out.append(node)
        todo += _seq(node.children())
    return out


@pytest.fixture(scope="module")
def keyed_snapshot(occ_small):
    from maps_spark.operators import pyramid as PY
    keyed = PY.keyed_occurrence(occ_small)
    top = (keyed.groupBy("mapKey").count()
           .orderBy("count", "mapKey", ascending=[False, True])
           .limit(60).collect())
    return keyed, [r.mapKey for r in top]


def _queries(spark, keyed, views):
    from maps_spark.operators import regression as R
    from maps_spark.operators import serving as SV
    taxon = next(v for v in views if v.startswith("1:"))
    mask = next(v for v in views if v.startswith("4:"))
    return {
        "species_trend": lambda: R.species_trend(spark, keyed, taxon, "0:0"),
        "hex_trend": lambda: R.hex_trend(spark, keyed, taxon, "0:0"),
        "country_mask": lambda: SV.country_masked_tile(
            keyed, "0:0", mask, "EPSG:3857", 2, 2, 1),
    }


def test_trend_and_mask_scan_once_and_repeat_without_compiling(
        spark, keyed_snapshot):
    """Each plan reads the keyed snapshot's cache once and joins
    nothing, and an exact repeat of a trend query compiles no class.
    The plans are optimized after ``spark.sql`` has dropped its per-call
    views, so this also pins that binding the snapshot leaves it
    cached."""
    keyed, views = keyed_snapshot
    cache = spark._jsparkSession.sharedState().cacheManager()
    queries = _queries(spark, keyed, views)
    first = {}
    for name, make in queries.items():
        df = make()
        assert cache.lookupCachedData(keyed._jdf).isDefined(), name
        nodes = _logical_nodes(df)
        names = [n.nodeName() for n in nodes]
        assert "Join" not in names, name
        leaves = [n for n in nodes if n.children().size() == 0]
        assert [n.nodeName() for n in leaves] == ["InMemoryRelation"], name
        cols = {a.name() for a in _seq(leaves[0].output())}
        assert {"mapKey", "borYear"} <= cols, name
        first[name] = df.collect()
    assert first["hex_trend"]

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    before = compiles.getCount()
    for name in ("species_trend", "hex_trend"):
        assert queries[name]().collect() == first[name], name
    assert compiles.getCount() == before


def test_hex_rings_match_vertex_loop():
    """The numpy ring build writes the same integer rings, and so the
    same polygon layer bytes, as rounding the per-vertex loop."""
    rng = random.Random(5)
    for _ in range(200):
        z = rng.randint(0, 12)
        x, y = rng.randrange(1 << z), rng.randrange(1 << z)
        per_tile = rng.choice((binning.DEFAULT_HEX_PER_TILE, 17, 100))
        cells = [(rng.randint(-3, 60), rng.randint(-40, 40))
                 for _ in range(rng.randint(0, 40))]
        want = [[(int(round(vx)), int(round(vy))) for vx, vy in
                 hex_polygon(q, r, z, x, y, 512, per_tile)]
                for q, r in cells]
        q, r = (np.array(c, np.int64) for c in zip(*cells)) if cells \
            else (np.zeros(0, np.int64),) * 2
        got = binning.hex_rings(q, r, z, x, y, 512, per_tile)
        assert got.dtype == np.int64 and got.shape == (len(cells), 7, 2)
        assert [[tuple(v) for v in ring] for ring in got.tolist()] == want
        totals = np.arange(1, len(cells) + 1)
        assert mvt.encode_polygon_layer("occurrence", got, totals) == \
            encode_polygon_layer_loop(
                "occurrence",
                [(ring, {"total": i + 1}) for i, ring in enumerate(want)])
