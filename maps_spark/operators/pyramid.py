"""The tile-pyramid build: the engine's signature computation.

Pipeline (reference semantics, TileMapBuilder.java:52-204, re-thought for
Spark's execution model):

1. ``keyed_occurrence`` — one explode of the map-key array (the only
   row-multiplying op) + borYear packing. Catalyst prunes all unused
   occurrence columns past this point.
2. ``pyramid_span_parents`` — project to global pixels at max zoom and
   hash-partition by the ancestor pixel ``span`` zooms up: every
   (mapKey, pixel, borYear) group of the span's levels lands in one
   partition, so one Arrow pass counts the max-zoom pixels and halves +
   re-sums them down ``span`` levels with no further shuffle; the next
   span starts from this one's deepest level. **Scale note:** the
   reference re-aggregates every zoom from the staged max-zoom table
   (17 full scans at z16..z0; TileMapBuilder.java:173-204); here a z16
   pyramid costs 3 shuffles. ``sum`` is associative, so the levels equal
   the per-zoom cascade of ``rollup`` exactly, and parent ==
   sum(children) holds by construction. The partition key is
   high-cardinality (pixels), so there is no skew even though map key
   ``0:0`` contains every record.
3. tile fan-out — each span parent is scanned once and every pixel
   explodes to its <= 4 target tiles (buffer duplication, TileXYUDF
   semantics) — integer Column expressions only.
4. ``encode_mvt`` — the tile rows of ALL zooms encode to MVT bytes in
   one shuffle + one Arrow pass, the one deliberate Python boundary
   (mirrors the reference's own SQL->RDD boundary at
   TileMapBuilder.java:216-229).

``pixel_table``, ``rollup`` and ``tile_rows`` are the single-zoom forms
of steps 2-3, used where one zoom is all that is needed (the streaming
refresh, the correctness gates).

The pyramid/point split (MapBuilder.java:205-229) is a broadcast
semi/anti join against the per-view counts instead of a driver-side
TreeSet — no collect() barrier, no driver memory ceiling on the number
of large views.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from maps_spark.functions import keys as K
from maps_spark.functions import mvt, pointpb
from maps_spark.functions import projections as P
from maps_spark.functions import tiles as T
from maps_spark.sql import dual

DEFAULT_THRESHOLD = 250_000  # MapBuilder.java:93,104

TILE_SCHEMA = "mapKey string, z int, x long, y long, tile binary"
POINT_SCHEMA = "mapKey string, features binary"


def keyed_occurrence(occ: DataFrame,
                     taxon_cols: dict[str, str] | None = None,
                     **key_cols) -> DataFrame:
    """Explode map keys; pack borYear. Output:
    (mapKey, lat, lng, borYear).

    With the default keys, the fan-out of an ``occurrence_df`` snapshot
    is itself persisted once and released with the snapshot
    (``sources.occurrence``); any other frame gives a lazy plan."""
    if taxon_cols is None and not key_cols:
        from maps_spark.sources.occurrence import snapshot_fanout
        return snapshot_fanout(occ, _explode_keys)
    return _explode_keys(occ, taxon_cols, **key_cols)


def _explode_keys(occ: DataFrame,
                  taxon_cols: dict[str, str] | None = None,
                  **key_cols) -> DataFrame:
    if "classifications" in occ.columns and \
            "classifications_col" not in key_cols:
        # taxon keys come from the map-typed classifications fan-out
        key_cols["classifications_col"] = "classifications"
        taxon_cols = taxon_cols or {}
    elif taxon_cols is None:
        from maps_spark.sources.occurrence import TAXON_RANKS
        taxon_cols = TAXON_RANKS
    if "network_col" not in key_cols and "networkKey" in occ.columns:
        key_cols["network_col"] = "networkKey"
    arr = K.map_keys_array(taxon_cols=taxon_cols, **key_cols)
    return occ.select(
        F.explode(arr).alias("mapKey"),
        F.col("decimalLatitude").alias("lat"),
        F.col("decimalLongitude").alias("lng"),
        K.bor_year_col("basisOfRecord", "year").alias("borYear"),
    )


def dictionary_encode(keyed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """A15 (TileMapBuilder.java:56-61): replace the mapKey string with a
    dense int before the wide shuffles; the dictionary is tiny
    (#views) and broadcast both ways. Opt-in — string keys are ~12-20
    bytes vs 8 for a long, so at billions of fan-out rows per shuffle
    this trims shuffle volume ~20-40%; locally it's noise.

    Returns (dictionary, keyed_with_int_id) where the dictionary is
    (mapKey, mapKeyId) and ids are deterministic (sorted key order).
    """
    # distributed sort + zipWithIndex: ids follow sorted key order
    # (deterministic) without funnelling the distinct set through a
    # single-partition Window sort
    spark = keyed.sparkSession
    distinct = keyed.select("mapKey").distinct().sort("mapKey")
    dict_df = spark.createDataFrame(
        distinct.rdd.map(lambda r: r[0]).zipWithIndex()
        .map(lambda kv: (kv[0], kv[1] + 1)),
        "mapKey string, mapKeyId int")
    encoded = (keyed.join(F.broadcast(dict_df), "mapKey")
               .drop("mapKey").withColumnRenamed("mapKeyId", "mapKey"))
    return dict_df, encoded


def dictionary_decode(df: DataFrame, dict_df: DataFrame) -> DataFrame:
    """Restore the string mapKey on a result keyed by mapKeyId."""
    return (df.withColumnRenamed("mapKey", "mapKeyId")
            .join(F.broadcast(dict_df), "mapKeyId")
            .drop("mapKeyId"))


def split_views(keyed: DataFrame, threshold: int = DEFAULT_THRESHOLD
                ) -> tuple[DataFrame, DataFrame]:
    """(large_view_rows, small_view_rows) via broadcast semi/anti join on
    per-view counts (A1). The view-count table is tiny (#distinct map
    keys), so broadcast is free and nothing collects to the driver."""
    counts = keyed.groupBy("mapKey").agg(F.count("*").alias("n"))
    large = F.broadcast(counts.where(F.col("n") >= threshold).select("mapKey"))
    return (keyed.join(large, "mapKey", "left_semi"),
            keyed.join(large, "mapKey", "left_anti"))


def pixel_table(keyed: DataFrame, srs: str, zoom: int,
                tile_size: int = P.TILE_SIZE) -> DataFrame:
    """Max-zoom per-pixel aggregation (A2):
    (mapKey, px, py, borYear, cnt)."""
    px, py = P.pixel_cols(srs, "lat", "lng", zoom, tile_size)
    return (keyed
            .select("mapKey", "borYear", px.alias("px"), py.alias("py"))
            .where(F.col("px").isNotNull() & F.col("py").isNotNull())
            .groupBy("mapKey", "px", "py", "borYear")
            .agg(F.count("*").alias("cnt")))


def rollup(pixels: DataFrame, levels: int = 1) -> DataFrame:
    """Pixel table at zoom z-levels from zoom z (A3): shift + re-sum."""
    return (pixels
            .groupBy("mapKey",
                     F.shiftright("px", levels).alias("px"),
                     F.shiftright("py", levels).alias("py"),
                     "borYear")
            .agg(F.sum("cnt").alias("cnt")))


def tile_rows(pixels: DataFrame, srs: str, z: int,
              tile_size: int = P.TILE_SIZE,
              buffer: int = T.DEFAULT_BUFFER) -> DataFrame:
    """Explode pixels into their (<= 4) target tiles with local coords
    (C8 + A5 input): (mapKey, tileX, tileY, pixelX, pixelY, borYear, cnt).
    """
    return T.explode_to_tiles(pixels, srs, z, tile_size, buffer)


def encode_mvt(trows_z: DataFrame,
                tile_size: int = P.TILE_SIZE,
                partitions: int | None = None) -> DataFrame:
    """MVT encode of tile rows that carry a ``z`` column (one zoom or
    many): hash-partition + sort by (z, mapKey, tileX, tileY), stream
    flat Arrow batches through ``mapInPandas`` and cut tile groups at
    key-change boundaries (carrying split groups across batches). A
    whole pyramid encodes in one shuffle + one Arrow pass — the one
    deliberate Python boundary (the reference's own SQL->RDD boundary,
    TileMapBuilder.java:216-229).

    Flat columns, not per-tile ``collect_list`` arrays (1.5-1.8x faster
    at sf0.1, and the z16 ``0:0`` hot view cannot blow an executor on
    one giant array row); many tiles per Arrow batch, not
    ``applyInPandas`` per tile group (per-group pandas overhead dwarfs
    the encode at millions of small tiles).
    """
    bor_names = {c: b for b, c in dual.BOR_CODE.items()}
    n_parts = (partitions or
               trows_z.sparkSession.sparkContext.defaultParallelism * 2)
    keys = ["z", "mapKey", "tileX", "tileY"]
    arranged = (trows_z.repartition(n_parts, *keys)
                .sortWithinPartitions(*keys))
    key_dt = trows_z.schema["mapKey"].dataType.simpleString()
    out_schema = (TILE_SCHEMA if key_dt == "string" else
                  TILE_SCHEMA.replace("mapKey string", f"mapKey {key_dt}"))

    def enc_stream(batches):
        import numpy as np

        def bounds_of(pdf):
            zz = pdf["z"].to_numpy()
            mk = pdf["mapKey"].to_numpy()
            tx = pdf["tileX"].to_numpy()
            ty = pdf["tileY"].to_numpy()
            return np.flatnonzero((zz[1:] != zz[:-1]) |
                                  (mk[1:] != mk[:-1]) |
                                  (tx[1:] != tx[:-1]) |
                                  (ty[1:] != ty[:-1])) + 1

        def emit(pdf: pd.DataFrame):
            zz = pdf["z"].to_numpy()
            mk = pdf["mapKey"].to_numpy()
            tx = pdf["tileX"].to_numpy()
            ty = pdf["tileY"].to_numpy()
            pxs = pdf["pixelX"].to_numpy().tolist()
            pys = pdf["pixelY"].to_numpy().tolist()
            bys = pdf["borYear"].to_numpy().tolist()
            cns = pdf["cnt"].to_numpy().tolist()
            bounds = bounds_of(pdf)
            starts = [0, *bounds.tolist()]
            ends = [*bounds.tolist(), len(pdf)]
            keys_, zs, xs, ys, blobs = [], [], [], [], []
            for s, e in zip(starts, ends):
                layers: dict[str, dict[tuple[int, int], dict[str, int]]] = {}
                for i in range(s, e):
                    by = bys[i]
                    pix = layers.setdefault(
                        bor_names.get(by % 100, "UNKNOWN"), {}).setdefault(
                        (pxs[i], pys[i]), {})
                    year = str(by // 100)
                    pix[year] = pix.get(year, 0) + cns[i]
                keys_.append(mk[s])
                zs.append(zz[s])
                xs.append(tx[s])
                ys.append(ty[s])
                blobs.append(mvt.encode_tile(
                    {bor: [(x, y, attrs) for (x, y), attrs in pix.items()]
                     for bor, pix in layers.items()},
                    extent=tile_size))
            return pd.DataFrame({"mapKey": keys_, "z": zs, "x": xs,
                                 "y": ys, "tile": blobs})

        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            bounds = bounds_of(pdf)
            if len(bounds) == 0:
                carry = pdf
                continue
            cut = int(bounds[-1])
            carry = pdf.iloc[cut:]
            yield emit(pdf.iloc[:cut])
        if carry is not None and len(carry):
            yield emit(carry.reset_index(drop=True))

    return arranged.mapInPandas(enc_stream, out_schema)


PIXEL_Z_SCHEMA = ("mapKey string, px long, py long, borYear int, "
                  "cnt long, z int")


def pyramid_pixels_spans(keyed: DataFrame, srs: str, max_zoom: int,
                         min_zoom: int = 0, span: int = 6,
                         tile_size: int = P.TILE_SIZE,
                         partitions: int | None = None,
                         persisted_out: list | None = None,
                         min_chunk: int = 512 * 1024,
                         stage_dir: str | None = None
                         ) -> Iterator[tuple[int, DataFrame]]:
    """All pyramid levels with ``ceil(levels / span)`` shuffles instead
    of one per zoom.

    Key insight: hash-partitioning rows by the ancestor pixel at
    ``z - span`` co-locates every rollup group for zooms ``z-1 .. z-span``
    (``px >> j`` determines ``px >> span`` for ``j <= span``), so the
    whole span aggregates partition-locally — one Arrow pass computes
    ``span`` levels with zero additional shuffles. At cluster scale this
    turns the reference's 17 full shuffles (TileMapBuilder.java:173-204,
    one re-agg per zoom) into 3.

    Partition-grain / skew: the partition key at span boundary ``z-span``
    has ``(#views x 4^(z-span))`` cells — at the default span the first
    boundary sits at z8 (65k cells per view), far above any realistic
    core count; hot cells are bounded by one view's densest z8 cell.

    Yields (z, DataFrame) from max_zoom down to min_zoom; each span's
    levels share one persisted parent DataFrame filtered by ``z``.
    """
    for z_top, k, levels in pyramid_span_parents(
            keyed, srs, max_zoom, min_zoom, span, tile_size, partitions,
            persisted_out, min_chunk, stage_dir):
        for z in range(z_top, z_top - k - 1, -1):
            yield z, levels.where(F.col("z") == z).drop("z")


def pyramid_span_parents(keyed: DataFrame, srs: str, max_zoom: int,
                         min_zoom: int = 0, span: int = 6,
                         tile_size: int = P.TILE_SIZE,
                         partitions: int | None = None,
                         persisted_out: list | None = None,
                         min_chunk: int = 512 * 1024,
                         stage_dir: str | None = None,
                         rss_log: str | None = None
                         ) -> Iterator[tuple[int, int, DataFrame]]:
    """The span engine behind :func:`pyramid_pixels_spans`: yields one
    ``(z_top, k, levels)`` per span, where ``levels`` is the persisted
    parent holding pixel levels ``z_top .. z_top - k`` stacked with a
    ``z`` column (schema ``PIXEL_Z_SCHEMA``). Consumers that can work
    multi-zoom (the single-scan tile fan-out) read the parent once
    instead of once per level.

    ``stage_dir`` selects RELIABLE materialization: each span parent is
    written as a Parquet staged table under ``stage_dir/span_z<top>``
    and read back — the reference's staged-table barrier
    (TileMapBuilder.java:164-169). Unlike ``.persist()`` (whose lineage
    is truncated to non-replicated block storage), a staged table
    survives executor loss: at 2.5 B-row scale a lost executor costs a
    re-read, not the job. The write is also the span's shuffle barrier,
    so no extra stage is introduced — the cost is one round-trip
    through the (columnar, compressed) Parquet codec per span.

    ``rss_log`` (diagnostics, used by the bench's scale entries):
    each Arrow worker appends one ``"<pid> <z_top> <ru_maxrss_kb>"``
    line per finished partition — the measurement behind the
    O(groups) worker-memory claim (peak RSS must stay flat as the
    input replicates 8x -> 16x). Local-filesystem only; leave None in
    production."""
    spark = keyed.sparkSession
    n_parts = partitions or spark.sparkContext.defaultParallelism * 2
    key_dt = keyed.schema["mapKey"].dataType.simpleString()
    z_schema = (PIXEL_Z_SCHEMA if key_dt == "string" else
                PIXEL_Z_SCHEMA.replace("mapKey string", f"mapKey {key_dt}"))

    def span_agg(z_top: int, k: int, with_cnt: bool, pre_shift: bool,
                 min_chunk: int = 512 * 1024):

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # Incremental chunked aggregation: groups are
            # partition-local by construction (the repartition key is an
            # ancestor of every group key in the span), so folding raw
            # Arrow batches into a running grouped frame is exact. Peak
            # Python memory is O(distinct groups + bounded buffer), NOT
            # O(raw partition rows) — the raw keyed fan-out is the
            # largest dataset in the system, and whole-partition
            # materialization here is the wall the reference hits at
            # 2.5B rows (example.yaml:98-101, forced sort-agg switch).
            # Raw batches buffer until they reach max(512k rows, |agg|)
            # before each groupby+merge: big enough to amortize pandas
            # groupby overhead (a per-batch groupby measured ~40% slower
            # at sf0.1), small enough that the buffer never exceeds the
            # running aggregate's own footprint asymptotically.
            # Grouping runs on INT keys throughout: the string mapKey is
            # dictionary-coded per partition (the in-worker equivalent of
            # the reference's A15 dictionary encode) and (px, py) pack
            # into one int64 (27 bits each side — z16 x tileSize 512 x
            # the 2-wide WGS84 grid tops out at 2^26). A pandas groupby
            # over (int, int, int) measured ~2x the object-key form at
            # 4M rows; strings are restored only at yield.
            import numpy as np
            M27 = (1 << 27) - 1
            gcols = ["mk", "pxy", "borYear"]
            key_to_code: dict = {}
            code_to_key: list = []
            agg: pd.DataFrame | None = None
            pending: list[pd.DataFrame] = []
            pending_rows = 0

            def encode_keys(s: pd.Series) -> np.ndarray:
                c, u = pd.factorize(s)
                trans = np.empty(len(u), dtype=np.int64)
                for i, k_ in enumerate(u):
                    code = key_to_code.get(k_)
                    if code is None:
                        code = key_to_code[k_] = len(code_to_key)
                        code_to_key.append(k_)
                    trans[i] = code
                return trans[c]

            def flush() -> pd.DataFrame | None:
                nonlocal agg, pending, pending_rows
                if pending:
                    frames = ([agg, *pending] if agg is not None
                              else pending)
                    agg = (pd.concat(frames, ignore_index=True)
                           .groupby(gcols, as_index=False, sort=False)
                           .agg(cnt=("cnt", "sum")))
                    pending = []
                    pending_rows = 0
                return agg

            def restore(frame: pd.DataFrame, z: int) -> pd.DataFrame:
                pxy = frame["pxy"].to_numpy()
                keys_arr = np.asarray(code_to_key, dtype=object)
                return pd.DataFrame(
                    {"mapKey": keys_arr[frame["mk"].to_numpy()],
                     "px": pxy >> 27, "py": pxy & M27,
                     "borYear": frame["borYear"],
                     "cnt": frame["cnt"], "z": z})

            for pdf in batches:
                if not len(pdf):
                    continue
                mk = encode_keys(pdf["mapKey"])
                px_ = pdf["px"].to_numpy().astype(np.int64, copy=False)
                py_ = pdf["py"].to_numpy().astype(np.int64, copy=False)
                if pre_shift:  # continuation span: input one zoom above
                    px_ = px_ >> 1
                    py_ = py_ >> 1
                rec = pd.DataFrame(
                    {"mk": mk, "pxy": (px_ << 27) | py_,
                     "borYear": pdf["borYear"].to_numpy(),
                     "cnt": (pdf["cnt"].to_numpy() if with_cnt else
                             np.ones(len(pdf), dtype=np.int64))})
                pending.append(rec)
                pending_rows += len(rec)
                if pending_rows >= max(min_chunk,
                                       len(agg) if agg is not None else 0):
                    flush()
            cur = flush()
            if cur is None:
                return
            yield restore(cur, z_top)
            for j in range(1, k + 1):
                pxy = cur["pxy"].to_numpy()
                halved = (((pxy >> 27) >> 1) << 27) | ((pxy & M27) >> 1)
                cur = (cur.assign(pxy=halved)
                       .groupby(gcols, as_index=False, sort=False)
                       .agg(cnt=("cnt", "sum")))
                yield restore(cur, z_top - j)
            if rss_log:
                import resource
                kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                fd = os.open(rss_log,
                             os.O_WRONLY | os.O_APPEND | os.O_CREAT,
                             0o644)
                try:
                    os.write(fd, f"{os.getpid()} {z_top} {kb}\n".encode())
                finally:
                    os.close(fd)

        return run

    px, py = P.pixel_cols(srs, "lat", "lng", max_zoom, tile_size)
    current = (keyed
               .select("mapKey", "borYear", px.alias("px"), py.alias("py"))
               .where(F.col("px").isNotNull() & F.col("py").isNotNull()))
    pre_shift = False
    with_cnt = False
    z_top = max_zoom
    while z_top >= min_zoom:
        k = min(span, z_top - min_zoom)
        shift = k + (1 if pre_shift else 0)  # vs the INPUT's pixel zoom
        part = current.repartition(
            n_parts, "mapKey",
            F.shiftright("px", shift), F.shiftright("py", shift))
        computed = part.mapInPandas(
            span_agg(z_top, k, with_cnt, pre_shift, min_chunk), z_schema)
        if stage_dir is not None:
            path = f"{stage_dir}/span_z{z_top}"
            computed.write.mode("overwrite").parquet(path)
            levels = spark.read.parquet(path)
        else:
            levels = computed.persist()
        if persisted_out is not None:
            # staged tables join the same list: .unpersist() on an
            # uncached frame is a no-op, and the staging dir itself is
            # dropped by the backfill driver on finalise
            persisted_out.append(levels)
        yield z_top, k, levels
        current = levels.where(F.col("z") == z_top - k).drop("z")
        with_cnt = True
        pre_shift = True
        z_top = z_top - k - 1


def build_pyramid(keyed: DataFrame, srs: str, max_zoom: int,
                  min_zoom: int = 0, tile_size: int = P.TILE_SIZE,
                  buffer: int = T.DEFAULT_BUFFER,
                  dictionary: bool = False,
                  stage_dir: str | None = None,
                  rss_log: str | None = None) -> DataFrame:
    """Full pyramid as one DataFrame of (srs, mapKey, z, x, y, tile).

    Builds all pixel levels with ~3 shuffles
    (:func:`pyramid_span_parents`), fans each span parent out to its
    tiles in one scan, and encodes every zoom's tiles in one further
    shuffle + one Arrow pass (:func:`encode_mvt`) — measured 15-20%
    faster than per-zoom encodes at sf0.1/z10 and, at cluster scale,
    one stage barrier instead of ``max_zoom+1``. Span parents are
    persisted; ``stage_dir`` swaps that for RELIABLE staged Parquet
    tables (the reference's TileMapBuilder.java:164-169 barrier) —
    the mode a cluster deployment should run, since persisted blocks
    die with their executor.

    ``dictionary=True`` applies the reference's A15 pre-shuffle
    dictionary encode (TileMapBuilder.java:56-61) across the WHOLE
    pipeline: map keys travel every shuffle — the span repartitions
    AND the pyramid-wide encode shuffle — as ints, and the strings come
    back via one broadcast join over the (far smaller) encoded-tile
    rows. ~12-20 bytes/key becomes 4 at billions of fan-out rows;
    locally it is noise, which is why it is opt-in.
    """
    if dictionary:
        dict_df, keyed = dictionary_encode(keyed)
        inner = build_pyramid(keyed, srs, max_zoom, min_zoom, tile_size,
                              buffer, stage_dir=stage_dir, rss_log=rss_log)
        result = (inner.withColumnRenamed("mapKey", "mapKeyId")
                  .join(F.broadcast(dict_df), "mapKeyId")
                  .select("srs", "mapKey", "z", "x", "y", "tile"))
        result._maps_spark_persisted = inner._maps_spark_persisted
        return result
    # One fan-out scan per span parent (z >= 2 via the z-column form),
    # instead of one scan per zoom: a z10 pyramid reads its two
    # persisted span tables 3 times total, not 11.
    persisted: list[DataFrame] = []
    rows: DataFrame | None = None
    for z_top, k, levels in pyramid_span_parents(
            keyed, srs, max_zoom, min_zoom, tile_size=tile_size,
            persisted_out=persisted, stage_dir=stage_dir,
            rss_log=rss_log):
        z_lo = z_top - k
        parts: list[DataFrame] = []
        if z_top >= 2:
            big = levels if z_lo >= 2 else levels.where(F.col("z") >= 2)
            parts.append(T.explode_to_tiles_multi(
                big, srs, tile_size, buffer))
        for z in range(min(z_top, 1), z_lo - 1, -1):
            small = levels.where(F.col("z") == z).drop("z")
            parts.append(tile_rows(small, srs, z, tile_size, buffer)
                         .withColumn("z", F.lit(z)))
        for r in parts:
            rows = r if rows is None else rows.unionByName(r)
    result = (encode_mvt(rows, tile_size)
              .withColumn("srs", F.lit(srs.replace(":", "_"))))
    result._maps_spark_persisted = persisted
    return result


def unpersist_pyramid(result: DataFrame) -> None:
    """Release the span-parent cache of a :func:`build_pyramid` result.

    Call after the final action on the returned DataFrame (write /
    collect); repeated builds in one session otherwise accumulate
    persisted span tables (each holds one span's pixel levels)."""
    for df in getattr(result, "_maps_spark_persisted", []):
        df.unpersist()


# -- point mode (A6 + C15) ---------------------------------------------------


def point_locations(keyed_small: DataFrame) -> DataFrame:
    """A6 location aggregation — the exact input of the point-bundle
    protobuf (PointMapBuilder.java:53-79):
    (mapKey, lat, lng, borYear, cnt)."""
    return (keyed_small
            .where(F.col("lat").isNotNull() & F.col("lng").isNotNull())
            .groupBy("mapKey", "lat", "lng", "borYear")
            .agg(F.count("*").alias("cnt")))


def point_blobs(keyed_small: DataFrame) -> DataFrame:
    """Per-view point bundles: groupBy(mapKey, lat, lng, borYear).count
    -> protobuf blob per map key (PointMapBuilder.java:53-79)."""
    bor_names = {c: b for b, c in dual.BOR_CODE.items()}

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = ((la, ln, bor_names.get(int(by) % 100, "UNKNOWN"),
                 int(by) // 100, int(c))
                for la, ln, by, c in zip(pdf["lat"], pdf["lng"],
                                         pdf["borYear"], pdf["cnt"]))
        return pd.DataFrame({"mapKey": [pdf["mapKey"].iat[0]],
                             "features": [pointpb.encode_features(rows)]})

    return (point_locations(keyed_small)
            .groupBy("mapKey").applyInPandas(enc, POINT_SCHEMA))
