"""Deduplication operators for training-data pipelines.

Five dedup families, each picked for a different scale/recall point:

- exact: hash groupBy — one shuffle, no false positives.
- minhash + LSH: shingle -> minhash signature -> banded bucket join;
  the standard near-dup recipe at corpus scale (the bucket join replaces
  the O(n^2) pair comparison; only within-bucket candidates are scored).
- simhash: 64-bit weighted fingerprint; near-dups share band keys.
- n-gram Jaccard: exact token-shingle overlap via explode + self-join —
  the ground-truth for tuning the approximate methods (and the
  oracle-checkable one).
- embedding cosine: see :mod:`maps_spark.operators.similarity`.

Scale notes: signatures are computed in one Arrow batch pass (numpy
matrix per batch, no per-row Python); LSH candidate generation is an
equi-join on (band, hash) so Spark shuffles by bucket key — skewed
buckets (boilerplate shingles) are capped with a per-bucket limit the
same way production dedup pipelines do.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf

MERSENNE = (1 << 61) - 1
# 31-bit Mersenne prime: the signature hash field. Chosen so every hash
# in the minhash/simhash family is a polynomial fold whose intermediate
# values fit in int64/BIGINT (products < 2^62), making the IDENTICAL
# computation expressible in numpy, Spark Column arithmetic, AND DuckDB
# SQL — the signatures themselves are oracle-checkable, not rows-only.
P31 = (1 << 31) - 1
SHINGLE_BASE = 1000003


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: md5 groupBy; keeper = min doc_id per group."""
    return (docs
            .groupBy(F.md5(F.col(text_col)).alias("text_hash"))
            .agg(F.count("*").alias("n_dupes"),
                 F.min("doc_id").alias("keeper_doc_id"))
            .where(F.col("n_dupes") > 1))


def prefix_duplicates(docs: DataFrame, text_col: str = "text",
                      n_tokens: int = 10) -> DataFrame:
    """Prefix dedup: documents sharing their first ``n_tokens`` tokens —
    the cheap recall-first pass production pipelines run before
    near-dup scoring (catches templated/boilerplate-led duplicates
    that differ only in their tails)."""
    prefix = F.array_join(
        F.slice(F.split(F.col(text_col), " "), 1, n_tokens), " ")
    return (docs
            .groupBy(prefix.alias("prefix"))
            .agg(F.count("*").alias("n_dupes"),
                 F.min("doc_id").alias("keeper_doc_id"))
            .where(F.col("n_dupes") > 1))


def paragraph_dedup(docs: DataFrame, text_col: str = "text",
                    sep: str = "\n\n", min_chars: int = 1) -> DataFrame:
    """Corpus-level paragraph dedup (the RefinedWeb/Gopher sub-document
    pass): split every document on ``sep``, mark each paragraph
    occurrence that is not the canonical FIRST occurrence (smallest
    ``(doc_id, para_idx)``) of its exact text. Paragraphs shorter than
    ``min_chars`` (e.g. blank lines) are never marked.

    Scale shape: one ``posexplode``, one md5-keyed aggregation (hot
    boilerplate paragraphs collapse map-side), one digest join — the
    corpus text is never shuffled twice (the canonical table carries
    16-byte digests, not paragraphs). Skewed digests (a paragraph
    repeated millions of times) ride AQE skew-join splitting.

    Output: (doc_id, para_idx, is_dup, dup_of_doc, dup_of_idx) with
    ``-1`` sentinels (not NULLs) on the non-dup rows so the columns
    stay integral end-to-end.
    """
    paras = docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col(text_col), sep))
        .alias("para_idx", "para"))
    hashed = paras.select("doc_id", "para_idx",
                          F.md5("para").alias("ph"),
                          F.length("para").alias("plen"))
    canon = (hashed.groupBy("ph")
             .agg(F.min(F.struct("doc_id", "para_idx")).alias("c"))
             .select("ph", F.col("c.doc_id").alias("cd"),
                     F.col("c.para_idx").alias("ci")))
    j = hashed.join(canon, "ph")
    is_dup = ((F.col("plen") >= min_chars) &
              ~((F.col("doc_id") == F.col("cd")) &
                (F.col("para_idx") == F.col("ci"))))
    neg = F.lit(-1).cast("int")
    return j.select(
        "doc_id", "para_idx", is_dup.alias("is_dup"),
        F.when(is_dup, F.col("cd")).otherwise(neg).alias("dup_of_doc"),
        F.when(is_dup, F.col("ci")).otherwise(neg).alias("dup_of_idx"))


def drop_dup_paragraphs(docs: DataFrame, text_col: str = "text",
                        sep: str = "\n\n", min_chars: int = 1) -> DataFrame:
    """Rebuild each document with its duplicate paragraphs removed
    (the apply-side of :func:`paragraph_dedup`): surviving paragraphs
    re-join in original order on ``sep``. A document whose every
    paragraph was marked duplicate drops out entirely.

    Output: (doc_id, clean_text)."""
    paras = docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col(text_col), sep))
        .alias("para_idx", "para"))
    verdict = paragraph_dedup(docs, text_col, sep, min_chars)
    kept = (paras.join(verdict.where(~F.col("is_dup"))
                       .select("doc_id", "para_idx"),
                       ["doc_id", "para_idx"], "left_semi"))
    return (kept.groupBy("doc_id")
            .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct("para_idx", "para"))),
                    lambda s: s["para"]),
                sep).alias("clean_text")))


def _token_hashes(toks: list[str]) -> np.ndarray:
    """31-bit polynomial token hashes: utf-8 bytes base-256 mod 2^31-1.

    Deterministic across workers, and the identical fold is expressible
    in DuckDB SQL (``list_reduce`` over ``ord(char)``), so downstream
    signatures are oracle-checkable. Vectorized: tokens are LEFT-padded
    with zero bytes into one matrix (leading zeros do not change a
    polynomial hash) and the fold runs per char position over the whole
    batch — no per-token Python loop. ``h*256 < 2^39``: int64-exact.

    This is the REPRODUCIBLE hasher (gate/audit path); cost is
    O(max_token_len) numpy passes per batch. Production calls default
    to :func:`_token_hashes_fast`.
    """
    if not toks:
        return np.empty(0, dtype=np.int64)
    bs = [t.encode("utf-8") for t in toks]
    width = max(len(b) for b in bs) or 1
    m = np.zeros((len(bs), width), dtype=np.int64)
    for i, b in enumerate(bs):
        if b:
            m[i, width - len(b):] = np.frombuffer(b, dtype=np.uint8)
    h = np.zeros(len(bs), dtype=np.int64)
    for j in range(width):
        h = (h * 256 + m[:, j]) % P31
    return h


def _token_hashes_fast(toks: list[str]) -> np.ndarray:
    """Fast token hashes: one C-speed ``zlib.crc32`` call per token +
    a splitmix64 finalizer, reduced into the 31-bit signature domain.

    Same output range [0, 2^31-1) and distribution quality as the
    reproducible fold, ~5-10x cheaper (no per-character passes). NOT
    oracle-expressible — production default; gate queries pass
    ``hasher="reproducible"`` explicitly."""
    from zlib import crc32
    if not toks:
        return np.empty(0, dtype=np.int64)
    z = np.fromiter((crc32(t.encode("utf-8")) for t in toks),
                    dtype=np.uint64, count=len(toks))
    z = (z + np.uint64(0x9E3779B97F4A7C15))
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    z = z ^ (z >> np.uint64(31))
    return (z % np.uint64(P31)).astype(np.int64)


TOKEN_HASHERS = {"fast": _token_hashes_fast,
                 "reproducible": _token_hashes}
DEFAULT_HASHER = "fast"


def _shingle_hashes(text: str, k: int,
                    hasher: str = "reproducible") -> np.ndarray:
    """Distinct k-token shingle hashes in [0, 2^31): rolling polynomial
    combine of token hashes mod 2^31-1 (``(acc*B + th) % P`` per step,
    values < 2^51 — int64/BIGINT-exact in every engine)."""
    toks = text.split(" ") if text else []
    if not toks:
        return np.empty(0, dtype=np.int64)
    th = TOKEN_HASHERS[hasher](toks)
    if len(th) < k:
        acc = np.zeros(1, dtype=np.int64)
        for v in th:
            acc = (acc * SHINGLE_BASE + v) % P31
        return acc
    n_sh = len(th) - k + 1
    arr = th[:n_sh].copy()
    for j in range(1, k):
        arr = (arr * SHINGLE_BASE + th[j:n_sh + j]) % P31
    return np.unique(arr)


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       num_perm: int = 64, shingle_k: int = 3,
                       seed: int = 42,
                       hasher: str = DEFAULT_HASHER) -> DataFrame:
    """(doc_id, sig array<long>): minhash over k-token shingles.

    Permutations are the universal-hash family (a*x + b) mod p with a/b
    from a seeded RNG — identical on every executor. ``hasher`` picks
    the token-hash backend: ``"fast"`` (crc32+splitmix64, production
    default) or ``"reproducible"`` (the oracle-checkable polynomial
    fold — what the hash-checked gates pass explicitly).
    """
    a, b = minhash_perm_consts(num_perm, seed)

    @pandas_udf("array<long>")
    def _sig(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts.fillna(""):
            hs = _shingle_hashes(t, shingle_k, hasher)
            if len(hs) == 0:
                out.append(np.full(num_perm, P31, dtype=np.int64))
                continue
            # (num_perm, n_shingles) universal hashes, min per row;
            # a*x < 2^62 so the products are int64-exact
            m = (a[:, None] * hs[None, :] + b[:, None]) % P31
            out.append(m.min(axis=1))
        return pd.Series(out)

    return docs.select("doc_id", _sig(F.col(text_col)).alias("sig"))


def minhash_perm_consts(num_perm: int, seed: int) -> tuple[np.ndarray,
                                                           np.ndarray]:
    """Seeded universal-hash constants — shared with the oracle SQL
    generator so both sides inline identical literals."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, P31, size=num_perm, dtype=np.int64)
    b = rng.integers(0, P31, size=num_perm, dtype=np.int64)
    return a, b


def band_key_col(sig_col: str, band: int, rows: int):
    """Dual-reproducible band bucket key: polynomial fold of the band's
    signature rows mod 2^31-1 (replaces engine-private murmur3 so the
    oracle can recompute the exact bucket keys). Values < 2^51 per
    step — BIGINT-safe in Spark and DuckDB alike."""
    key = None
    for j in range(rows):
        v = F.col(sig_col)[band * rows + j]
        key = v if key is None else (key * SHINGLE_BASE + v) % P31
    return key


def cap_buckets(buckets: DataFrame, keys: list[str],
                max_bucket: int) -> DataFrame:
    """Boilerplate guard shared by every LSH-family candidate generator:
    drop bucket keys holding more than ``max_bucket`` members before the
    self-join. A single hot bucket (empty docs, templated boilerplate,
    zero vectors) otherwise contributes O(bucket^2) join rows — the one
    thing that goes quadratic at 100 TB. The oversized-key set is tiny
    (it's the skew tail), so it broadcasts."""
    sizes = buckets.groupBy(*keys).agg(F.count("*").alias("bsz"))
    return buckets.join(
        F.broadcast(sizes.where(F.col("bsz") > max_bucket)), keys,
        "left_anti")


def _bucket_member_pairs(buckets: DataFrame, keys: list[str],
                         max_bucket: int,
                         id_col: str = "doc_id") -> DataFrame:
    """(doc_a, doc_b) for every same-bucket member pair — the shared
    one-exchange core of the LSH-family candidate generators (guide
    §2.4): ONE hash-aggregation collects each bucket's members, which
    gives the size cap (identical predicate to :func:`cap_buckets`:
    a bucket survives iff its member count <= max_bucket) AND both
    pair sides — replacing the {bucket-size agg + broadcast anti-join
    + two-sided self-join} shape that shuffled the bucket table twice
    and evaluated its lineage three times. Sorted members give the
    same doc_a < doc_b orientation as the join's where-clause; arrays
    are bounded by ``max_bucket`` so the inline pair expansion is
    O(max_bucket^2) transient per hot bucket, never O(corpus). One
    output row per (bucket, pair) — callers aggregate or distinct
    exactly as they did over the join output."""
    return _expand_pairs(_collect_buckets(buckets, keys, max_bucket,
                                          id_col))


def _collect_buckets(buckets: DataFrame, keys: list[str],
                     max_bucket: int,
                     id_col: str = "doc_id") -> DataFrame:
    """Sorted member-id array per bucket, oversized buckets dropped —
    the aggregation half of :func:`_bucket_member_pairs` (singleton
    buckets are KEPT so callers that also need per-member totals, like
    the Jaccard set sizes, read them from the same pass)."""
    return (buckets.groupBy(*keys)
            .agg(F.collect_list(id_col).alias("ids"))
            .where(F.size("ids") <= max_bucket)
            .select(*keys, F.array_sort("ids").alias("ids")))


def _expand_pairs(grouped: DataFrame) -> DataFrame:
    """Inline (doc_a, doc_b) expansion of sorted ``ids`` arrays —
    the pair half of :func:`_bucket_member_pairs`."""
    ids = F.col("ids")
    pairs = F.flatten(F.transform(
        ids, lambda x, i: F.transform(
            F.slice(ids, i + F.lit(2),
                    F.greatest(F.size(ids) - i - F.lit(1), F.lit(0))),
            lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")))))
    return (grouped.where(F.size("ids") >= 2)
            .select(F.explode(pairs).alias("p"))
            .select("p.doc_a", "p.doc_b"))


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text",
                      num_perm: int = 64, bands: int = 16,
                      shingle_k: int = 3, seed: int = 42,
                      max_bucket: int = 1000,
                      hasher: str = DEFAULT_HASHER) -> DataFrame:
    """Candidate near-dup pairs via banded LSH.

    rows_per_band = num_perm / bands sets the similarity knee
    (s ~ (1/bands)^(1/rows)). Buckets larger than ``max_bucket`` are
    dropped (boilerplate guard) — at 100 TB a single hot bucket would
    otherwise quadratically dominate the join.
    Output: (doc_a, doc_b, n_bands) with doc_a < doc_b.
    """
    rows = num_perm // bands
    sigs = minhash_signatures(docs, text_col, num_perm, shingle_k,
                              seed, hasher)
    band_cols = [
        F.struct(F.lit(i).alias("band"),
                 band_key_col("sig", i, rows).alias("bh"))
        for i in range(bands)
    ]
    buckets = (sigs.select("doc_id", F.explode(F.array(*band_cols)).alias("b"))
               .select("doc_id", F.col("b.band").alias("band"),
                       F.col("b.bh").alias("bh")))
    # one collect-members aggregation instead of {size agg + anti-join
    # + self-join} — see :func:`_bucket_member_pairs`; n_bands is the
    # per-pair bucket multiplicity, exactly the old join's row count
    return (_bucket_member_pairs(buckets, ["band", "bh"], max_bucket)
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_bands")))


def minhash_verify(pairs: DataFrame, sigs: DataFrame,
                   threshold: float = 0.5) -> DataFrame:
    """Estimate Jaccard from signature agreement for candidate pairs."""
    sa = sigs.select(F.col("doc_id").alias("doc_a"),
                     F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"),
                     F.col("sig").alias("sig_b"))
    est = (F.aggregate(
        F.zip_with("sig_a", "sig_b",
                   lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, v: acc + v).cast("double")
        / F.size("sig_a"))
    return (pairs.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b", est.alias("jaccard_est"))
            .where(F.col("jaccard_est") >= threshold))


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        shingle_k: int = 3, threshold: float = 0.5,
                        scale: int = 1_000_000,
                        max_df: int = 1000) -> DataFrame:
    """Exact shingle-set Jaccard for all overlapping pairs.

    Distributed: explode distinct shingles -> self-equi-join on shingle
    -> per-pair intersection counts vs per-doc set sizes. Jaccard is
    emitted as an exact integer ``floor(inter * scale / union)`` so the
    DuckDB oracle matches bitwise.

    Hot-shingle guard: shingles appearing in more than ``max_df``
    documents are excluded ENTIRELY (from both the intersection join
    and the per-doc set sizes, so the Jaccard stays internally
    consistent — it is the exact Jaccard over non-boilerplate
    shingles). A shingle shared by k docs contributes k^2 join rows,
    so without the cap one boilerplate phrase dominates the shuffle at
    corpus scale. The oracle SQL applies the identical cap.
    """
    # The exploded shingle table has exactly ONE consumer now (the
    # bucket-collect aggregation below), so it flows straight into
    # that exchange unmaterialized; the barrier this plan needs is on
    # the far SMALLER grouped table, which two consumers share (set
    # sizes + pair expansion). Trade-off of localCheckpoint (eager,
    # session-pinned, lineage-truncated) as before; a cluster
    # deployment swaps it for a staging-table write.
    sh = docs.select("doc_id",
                     F.explode(F.array_distinct(
                         _shingle_array(text_col, shingle_k)))
                     .alias("shingle"))
    # collect each shingle's doc set ONCE (guide §2.4): the bucket
    # arrays give the df cap (size > max_df dropped — the identical
    # predicate the anti-join applied), the per-doc set sizes (explode
    # of the SURVIVING buckets, singletons included), and the pair
    # expansion, replacing {df agg + broadcast anti-join + second
    # localCheckpoint + two-sided self-join}. Intersections, sizes and
    # the Jaccard fold are value-identical.
    grouped = _collect_buckets(sh, ["shingle"], max_df).localCheckpoint()
    sizes = (grouped.select(F.explode("ids").alias("doc_id"))
             .groupBy("doc_id").agg(F.count("*").alias("sz")))
    inter = (_expand_pairs(grouped)
             .groupBy("doc_a", "doc_b")
             .agg(F.count("*").alias("inter")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"))
    jac = F.expr(f"CAST(floor(CAST(inter * {scale} AS DOUBLE) / "
                 f"CAST(sza + szb - inter AS DOUBLE)) AS BIGINT)")
    return (inter.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b", "inter",
                    (F.col("sza") + F.col("szb") - F.col("inter"))
                    .alias("uni"), jac.alias("jaccard_scaled"))
            .where(F.col("jaccard_scaled") >= int(threshold * scale)))


def _shingle_array(text_col: str, k: int):
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(n >= k, F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))) \
        .otherwise(F.array(F.concat_ws(" ", toks)))


def jaccard_prefix_pairs(docs: DataFrame, text_col: str = "text",
                         shingle_k: int = 3, threshold: float = 0.5,
                         scale: int = 1_000_000) -> DataFrame:
    """Exact shingle-set Jaccard pairs via LOSSLESS prefix filtering
    (the PPJoin family, Xiao et al. "Efficient Similarity Joins for
    Near Duplicate Detection", WWW'08).

    :func:`ngram_jaccard_pairs` keeps the self-join linear with a
    hot-shingle df cap — cheap, but it DROPS pairs whose only overlap
    is boilerplate. This operator prunes without dropping anything:
    order every doc's shingles by ascending global document frequency
    (rarest first, ties by shingle), and join only each doc's PREFIX —
    the first ``sz - minoverlap(sz) + 1`` shingles, where
    ``minoverlap(sz) = ceil(ts * sz / scale)`` is the smallest
    intersection any partner at ``jaccard_scaled >= ts`` can have
    (``inter * scale >= ts * uni >= ts * sz``). Two qualifying sets
    MUST collide inside their prefixes under a shared total order, so
    candidate generation is complete; exact verification then
    recomputes inter/union per candidate. Net effect at corpus scale:
    the quadratic blowup concentrates in high-df shingles, exactly the
    ones prefix ordering pushes OUT of the prefixes — candidates
    shrink by orders of magnitude while the result stays the full
    exact all-pairs answer (the oracle for this gate is plain
    all-pairs Jaccard with NO cap).

    Integer-exact end to end: the prefix bound is computed with
    integer div (no float ceil that could under-shoot and lose a
    pair), and ``jaccard_scaled`` is the same ``floor(inter * scale /
    union)`` fold as the rest of the family.

    Output: (doc_a, doc_b, inter, uni, jaccard_scaled), doc_a < doc_b,
    jaccard_scaled >= threshold * scale.
    """
    from pyspark.sql import Window
    ts = int(threshold * scale)
    sh = (docs.select("doc_id",
                      F.explode(F.array_distinct(
                          _shingle_array(text_col, shingle_k)))
                      .alias("shingle"))
          .localCheckpoint())
    df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    ranked = (sh.join(df_counts, "shingle")
              .select("doc_id", "shingle",
                      F.row_number().over(w).alias("rn"),
                      F.count("*").over(
                          Window.partitionBy("doc_id")).alias("sz")))
    # minoverlap = ceil(ts * sz / scale) via integer div;
    # prefix keeps rn <= sz - minoverlap + 1
    prefix_len = (F.col("sz")
                  - F.expr(f"(CAST({ts} AS BIGINT) * sz "
                           f"+ {scale - 1}) DIV {scale}") + 1)
    pre = (ranked.where(F.col("rn") <= prefix_len)
           .select("doc_id", "shingle"))
    cand = (pre.alias("a").join(pre.alias("b"), "shingle")
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    inter = (cand
             .join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"),
                   "doc_a")
             .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
                   ["doc_b", "shingle"])
             .groupBy("doc_a", "doc_b")
             .agg(F.count("*").alias("inter")))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("sz").alias("szb"))
    jac = F.expr(f"CAST(floor(CAST(inter * {scale} AS DOUBLE) / "
                 f"CAST(sza + szb - inter AS DOUBLE)) AS BIGINT)")
    return (inter.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b", "inter",
                    (F.col("sza") + F.col("szb") - F.col("inter"))
                    .alias("uni"), jac.alias("jaccard_scaled"))
            .where(F.col("jaccard_scaled") >= ts))


def dedup_clusters(pairs: DataFrame, max_iters: int = 50,
                   method: str = "auto",
                   driver_threshold: int = 1_000_000) -> DataFrame:
    """Connected components over near-dup pairs: the "keep one doc per
    duplicate cluster" step that turns pairwise dedup output into an
    actionable keep/drop list.

    ``method="star"`` (default) is the large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond"): alternating rounds where every node links its larger
    neighbours (large-star) / its not-larger neighbours (small-star) to
    the minimum of its neighbourhood. Converges in O(log n) rounds for
    ANY graph shape — an adversarial 10k-node chain closes in ~15
    rounds where plain min-label propagation needs 10k rounds (and a
    bounded loop would silently stop early with WRONG clusters). Each
    round is one groupBy + one join over the edge set, which is
    |pairs|-sized — tiny next to the corpus.

    ``method="label"`` keeps the one-shuffle-per-round min-label
    propagation — marginally cheaper per round on the star/clique
    shapes real near-dup graphs take (diameter 1-2).

    Convergence: an xxhash64 checksum of the edge set per round —
    unchanged checksum means a fixpoint for star (all edges point at
    their component root); label mode keeps its monotone sum(label)
    fixpoint test. ``localCheckpoint`` per round truncates lineage
    (iterative plans otherwise grow exponentially in Catalyst).

    ``method="auto"`` (default) counts the edge set first and, when it
    fits ``driver_threshold``, runs union-find on the driver instead —
    the near-dup graph after capped LSH is orders of magnitude smaller
    than the corpus (it only contains docs that collided in a band), so
    at every realistic scale the iterative rounds are pure job-latency
    overhead for a graph that union-finds in milliseconds. This is the
    reference's own data-size-adaptive plan split (count -> choose,
    MapBuilder.java:205-229) applied to clustering; the collect is
    BOUNDED by the explicit threshold, and larger graphs fall through
    to the distributed star contraction.

    Output: (doc_id, cluster_id, cluster_size, keep) for every doc that
    appears in at least one pair; cluster_id = min doc_id in the
    component; keep = this doc is the cluster representative.
    """
    if method == "auto":
        method = ("driver" if pairs.limit(driver_threshold + 1).count()
                  <= driver_threshold else "star")
    if method == "driver":
        labels = _cc_driver(pairs)
    elif method == "star":
        labels = _cc_star(pairs, max_iters)
    else:
        labels = _cc_label(pairs, max_iters)
    sizes = labels.groupBy("lbl").agg(F.count("*").alias("cluster_size"))
    return (labels.join(sizes, "lbl")
            .select("doc_id", F.col("lbl").alias("cluster_id"),
                    "cluster_size",
                    (F.col("doc_id") == F.col("lbl")).alias("keep")))


def _cc_driver(pairs: DataFrame) -> DataFrame:
    """Union-find on the driver for bounded edge sets: (doc_id, lbl).

    Path-halving find + union-by-min keeps every root at its
    component's minimum doc_id — identical labels to the distributed
    forms.

    Driver memory is bounded in BYTES, not just edges: the edge set
    arrives as two flat Arrow columns (``toArrow`` — 16 bytes/edge for
    long ids at the 1M-edge default, ~16 MB, never per-edge Row
    objects), plus the union-find dict at O(distinct ids) — at most
    2 x edges. The label table returns through Arrow the same way."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            parent[r] = parent[parent[r]]
            r = parent[r]
        return r

    tbl = pairs.select("doc_a", "doc_b").toArrow()
    for batch in tbl.to_batches():
        for a, b in zip(batch.column(0).to_pylist(),
                        batch.column(1).to_pylist()):
            if a == b:  # self-loops carry no cluster info
                continue
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
    from pyspark.sql.types import StructField, StructType
    t = pairs.schema["doc_a"].dataType
    schema = StructType([StructField("doc_id", t), StructField("lbl", t)])
    out = pd.DataFrame({"doc_id": list(parent.keys()),
                        "lbl": [find(d) for d in parent]})
    return pairs.sparkSession.createDataFrame(out, schema)


def _cc_label(pairs: DataFrame, max_iters: int) -> DataFrame:
    """Min-label propagation: (doc_id, lbl) for every paired doc."""
    edges = (pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("d"))
             .unionByName(pairs.select(F.col("doc_b").alias("s"),
                                       F.col("doc_a").alias("d")))
             .persist())
    labels = (edges.select(F.col("s").alias("doc_id")).distinct()
              .withColumn("lbl", F.col("doc_id")).localCheckpoint())
    prev = labels.agg(F.sum("lbl")).collect()[0][0]
    for _ in range(max_iters):
        prop = (labels.join(edges, labels.doc_id == edges.s)
                .select(F.col("d").alias("doc_id"), "lbl"))
        labels = (labels.unionByName(prop)
                  .groupBy("doc_id").agg(F.min("lbl").alias("lbl"))
                  .localCheckpoint())
        cur = labels.agg(F.sum("lbl")).collect()[0][0]
        if cur == prev:
            break
        prev = cur
    edges.unpersist()
    return labels


def _cc_star(pairs: DataFrame, max_iters: int) -> DataFrame:
    """Large-star/small-star contraction: (doc_id, lbl) per paired doc.

    Edge invariant: (u, v) with v < u ("u links to v"). On fixpoint
    every u links directly to its component's minimum id.
    """
    edges = (pairs.select(F.greatest("doc_a", "doc_b").alias("u"),
                          F.least("doc_a", "doc_b").alias("v"))
             .where(F.col("u") != F.col("v"))
             .distinct().localCheckpoint())

    def checksum(e: DataFrame) -> tuple:
        row = e.agg(F.count("*"),
                    F.expr("bit_xor(xxhash64(u, v))")).collect()[0]
        return (row[0], row[1])

    prev = checksum(edges)
    for _ in range(max_iters):
        # large-star: neighbours of u that are LARGER than u link to
        # min(N(u) + {u})
        both = (edges.select("u", "v")
                .unionByName(edges.select(F.col("v").alias("u"),
                                          F.col("u").alias("v"))))
        m = (both.groupBy("u").agg(F.min("v").alias("mv"))
             .select("u", F.least("mv", "u").alias("m")))
        large = (both.join(m, "u")
                 .where(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v")))
        edges = large.where(F.col("u") != F.col("v")).distinct() \
            .localCheckpoint()
        # small-star: u and its not-larger neighbours link to
        # min(N_small(u) + {u}); edges hold (larger, smaller), so
        # min(v) < u already
        m = edges.groupBy("u").agg(F.min("v").alias("m"))
        with_self = (edges.join(m, "u")
                     .select(F.col("v").alias("n"), "m")
                     .unionByName(m.select(F.col("u").alias("n"), "m")))
        edges = (with_self.where(F.col("n") != F.col("m"))
                 .select(F.col("n").alias("u"), F.col("m").alias("v"))
                 .distinct().localCheckpoint())
        cur = checksum(edges)
        if cur == prev:
            break
        prev = cur
    roots = edges.select(F.col("v").alias("doc_id")).distinct() \
        .join(edges.select(F.col("u").alias("doc_id")), "doc_id",
              "left_anti")
    return (edges.select(F.col("u").alias("doc_id"),
                         F.col("v").alias("lbl"))
            .unionByName(roots.select("doc_id",
                                      F.col("doc_id").alias("lbl"))))


SIMHASH_BITS = 64
SIMHASH_THRESHOLD = 1 << 30  # sign test on the 31-bit hash field


def simhash_proj_consts(seed: int = 5, bits: int = SIMHASH_BITS
                        ) -> tuple[np.ndarray, np.ndarray]:
    """Seeded per-bit universal-hash constants — shared with the oracle
    SQL generator."""
    rng = np.random.default_rng(seed)
    c = rng.integers(1, P31, size=bits, dtype=np.int64)
    d = rng.integers(0, P31, size=bits, dtype=np.int64)
    return c, d


def simhash(docs: DataFrame, text_col: str = "text",
            seed: int = 5, hasher: str = DEFAULT_HASHER) -> DataFrame:
    """64-bit simhash over tokens (vectorized batch computation).

    Each output bit b is the majority sign of the universal hash
    ``(c_b * token_hash + d_b) mod 2^31-1 >= 2^30`` over the document's
    tokens — 64 seeded random projections of the token multiset. With
    ``hasher="reproducible"`` every step is 31-bit polynomial
    arithmetic, so the identical computation runs in DuckDB SQL and the
    simhash pair generation is oracle-checkable (not rows-only); the
    default ``"fast"`` backend swaps the token hash for crc32+splitmix64
    (same domain, C speed) for production runs.
    """
    c, d = simhash_proj_consts(seed)

    @pandas_udf("long")
    def _sh(texts: pd.Series) -> pd.Series:
        shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)
        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts.fillna("")):
            toks = t.split(" ") if t else []
            if not toks:
                continue
            th = TOKEN_HASHERS[hasher](toks)
            proj = (c[:, None] * th[None, :] + d[:, None]) % P31
            acc = np.where(proj >= SIMHASH_THRESHOLD, 1, -1).sum(axis=1)
            val = int(((acc > 0).astype(np.uint64) << shifts).sum(
                dtype=np.uint64))
            out[i] = val - (1 << 64) if val >= (1 << 63) else val
        return pd.Series(out)

    return docs.select("doc_id", _sh(F.col(text_col)).alias("simhash"))


def simhash_near_pairs(docs: DataFrame, text_col: str = "text",
                       bands: int = 4, max_bucket: int = 1000,
                       hasher: str = DEFAULT_HASHER) -> DataFrame:
    """Near-dup candidates: docs sharing any of ``bands`` 16-bit simhash
    bands (hamming distance <= bands-1 guaranteed recall).

    Band buckets larger than ``max_bucket`` are dropped before the
    self-join (same boilerplate guard as minhash LSH — e.g. all empty
    docs simhash to 0 and would otherwise go quadratic)."""
    sh = simhash(docs, text_col, hasher=hasher)
    width = 64 // bands
    mask = (1 << width) - 1
    band_cols = [F.struct(
        F.lit(i).alias("band"),
        F.shiftrightunsigned("simhash", i * width)
        .bitwiseAND(F.lit(mask)).alias("key")) for i in range(bands)]
    buckets = (sh.select("doc_id", F.explode(F.array(*band_cols)).alias("b"))
               .select("doc_id", "b.band", "b.key"))
    # same collect-members restructure (and equivalence argument) as
    # :func:`minhash_lsh_pairs`: one aggregation replaces the size
    # cap's agg + anti-join + the two-sided self-join, and the simhash
    # UDF now has ONE consumer, so the persist is gone too
    return (_bucket_member_pairs(buckets, ["band", "key"], max_bucket)
            .select("doc_a", "doc_b").distinct())


def dup_ngram_coverage(docs: DataFrame, text_col: str = "text",
                       k: int = 8, scale: int = 1_000_000) -> DataFrame:
    """Cross-document duplicate n-gram coverage (the Dolma /
    RefinedWeb "fraction of characters in duplicate n-grams" family,
    word-level): for each document, the share of its k-gram INSTANCES
    whose gram text also appears in at least one OTHER document.
    Complements :func:`maps_spark.operators.text.repetition_signals`
    (within-document repetition) with the corpus-wide signal that
    catches boilerplate shared across pages.

    Scale: strictly linear — one (gram) aggregation with map-side
    combine for document frequencies, then one equi-join of the
    per-instance explode back to those counts. Hot grams cost their
    instance count, never a pairwise blowup (counts are joined, not
    documents).

    Output: (doc_id, n_grams, n_dup_grams, dup_coverage_scaled) with
    coverage = floor(n_dup_grams * scale / n_grams) — integer-exact.
    """
    inst = docs.select(
        "doc_id", F.explode(_shingle_array(text_col, k)).alias("gram"))
    df_cnt = (inst.distinct().groupBy("gram")
              .agg(F.count("*").alias("n_docs_gram")))
    j = inst.join(df_cnt, "gram")
    return (j.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum((F.col("n_docs_gram") >= 2).cast("long"))
        .alias("n_dup_grams"))
        .select("doc_id", "n_grams", "n_dup_grams",
                F.floor(F.col("n_dup_grams") * scale / F.col("n_grams"))
                .cast("long").alias("dup_coverage_scaled")))


# Gram-key hashers for the ExactSubstr family (same pluggable split as
# TOKEN_HASHERS): "fast" ships an 8-byte xxhash64 long per gram
# position — ~4x fewer shuffle bytes than the 32-char md5 string and
# JVM-native — but has no DuckDB twin; "reproducible" keeps md5, which
# both engines compute identically, for the hash-checked gates.
DEFAULT_GRAM_HASHER = "fast"
_GRAM_HASHERS = {"fast": lambda c: F.xxhash64(c),
                 "reproducible": lambda c: F.md5(c)}


def _gram_starts(docs: DataFrame, text_col: str, min_gram: int,
                 gram_hasher: str = DEFAULT_GRAM_HASHER) -> DataFrame:
    """(doc_id, i, gh): hash of each word-level ``min_gram``-gram by its
    0-based start index in the document's non-empty token sequence
    (``gram_hasher`` picks the hash — see ``_GRAM_HASHERS``).
    Documents shorter than ``min_gram`` tokens contribute nothing.
    (Spark's ``sequence`` steps BACKWARDS when start > stop, so the
    short-doc case must be guarded, not relied on to be empty.)"""
    w = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    starts = F.when(
        F.size(w) >= min_gram,
        F.sequence(F.lit(0), F.size(w) - min_gram)
    ).otherwise(F.array().cast("array<int>"))
    gram = F.concat_ws(" ", F.slice("w", F.col("i") + 1,
                                    F.lit(min_gram)))
    return (docs.select("doc_id", w.alias("w"), starts.alias("ii"))
            .select("doc_id", F.explode("ii").alias("i"),
                    F.col("w").alias("w"))
            .select("doc_id", "i",
                    _GRAM_HASHERS[gram_hasher](gram).alias("gh")))


def dup_spans(docs: DataFrame, text_col: str = "text",
              min_gram: int = 8,
              gram_hasher: str = DEFAULT_GRAM_HASHER) -> DataFrame:
    """Duplicated-substring spans — the word-level L-gram form of
    suffix-array exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): every
    maximal token run covered by ``min_gram``-grams that occur more
    than once ANYWHERE in the corpus (other documents or elsewhere in
    the same one). Exactly the substrings the suffix-array method
    finds at threshold L, computed with joins instead of a
    distributed suffix array: one gram-count aggregation (map-side
    combined, vocabulary-of-grams-bounded), one equi-join back, and a
    per-document gap-and-islands merge — per-document window, never
    global.

    Output: (doc_id, span_start, span_end, span_tokens) — 0-based
    inclusive token indices over the document's non-empty token
    sequence; overlapping/adjacent duplicated grams merge into one
    span.
    """
    grams = _gram_starts(docs, text_col, min_gram, gram_hasher)
    counts = grams.groupBy("gh").agg(F.count("*").alias("n"))
    dup = (grams.join(counts.where(F.col("n") > 1).select("gh"), "gh")
           .select("doc_id", "i",
                   (F.col("i") + min_gram - 1).alias("end")))
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy("i")
    prev_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    islands = dup.select(
        "doc_id", "i", "end",
        F.sum(F.when(prev_end.isNull()
                     | (F.col("i") > prev_end + 1), 1).otherwise(0))
        .over(w).alias("island"))
    return (islands.groupBy("doc_id", "island")
            .agg(F.min("i").alias("span_start"),
                 F.max("end").alias("span_end"))
            .select("doc_id", "span_start", "span_end",
                    (F.col("span_end") - F.col("span_start") + 1)
                    .alias("span_tokens")))


def dup_span_stats(docs: DataFrame, text_col: str = "text",
                   min_gram: int = 8,
                   scale: int = 1_000_000,
                   gram_hasher: str = DEFAULT_GRAM_HASHER) -> DataFrame:
    """Per-document duplicated-substring coverage from
    :func:`dup_spans`: the filter signal form (drop or trim documents
    whose corpora-duplicated share exceeds a threshold). Docs with no
    duplicated span report zero.

    Output: (doc_id, n_tokens, dup_tokens, dup_frac_scaled) with
    frac = floor(dup_tokens * scale / n_tokens), integer-exact."""
    spans = dup_spans(docs, text_col, min_gram, gram_hasher)
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("span_tokens").alias("dup_tokens"))
    w = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    nt = docs.select("doc_id", F.size(w).cast("long").alias("n_tokens"))
    return (nt.join(per_doc, "doc_id", "left")
            .select("doc_id", "n_tokens",
                    F.coalesce("dup_tokens", F.lit(0)).cast("long")
                    .alias("dup_tokens"))
            .select("doc_id", "n_tokens", "dup_tokens",
                    F.when(F.col("n_tokens") > 0,
                           F.expr(f"(dup_tokens * {scale}) "
                                  "div n_tokens"))
                    .otherwise(F.lit(0)).cast("long")
                    .alias("dup_frac_scaled")))


def scrub_dup_spans(docs: DataFrame, text_col: str = "text",
                    min_gram: int = 8,
                    gram_hasher: str = DEFAULT_GRAM_HASHER) -> DataFrame:
    """Rebuild each document with its duplicated spans removed — the
    aggressive apply-side of :func:`dup_spans` (every occurrence goes,
    like :func:`drop_dup_paragraphs`; Lee et al.'s keep-one-occurrence
    variant needs a global canonical pick and is better served by
    dropping whole documents on :func:`dup_span_stats` coverage).

    Scale: spans explode to their covered token positions (bounded by
    the duplicated share of the corpus, not its size), one left-anti
    equi-join on (doc_id, pos), one per-doc ordered rebuild. Documents
    entirely covered drop out; documents with no spans pass through
    rebuilt from their token sequence (whitespace-normalized).

    Output: (doc_id, clean_text, n_removed_tokens)."""
    w = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    toks = (docs.select("doc_id", F.posexplode(w).alias("pos", "word")))
    covered = (dup_spans(docs, text_col, min_gram, gram_hasher)
               .select("doc_id", F.explode(F.sequence(
                   "span_start", "span_end")).alias("pos")))
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    removed = covered.groupBy("doc_id").agg(
        F.count("*").alias("n_removed_tokens"))
    return (kept.groupBy("doc_id")
            .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s["word"]), " ").alias("clean_text"))
            .join(removed, "doc_id", "left")
            .select("doc_id", "clean_text",
                    F.coalesce("n_removed_tokens", F.lit(0))
                    .cast("long").alias("n_removed_tokens")))


def containment_pairs(docs: DataFrame, text_col: str = "text",
                      shingle_k: int = 3, threshold: float = 0.8,
                      scale: int = 1_000_000,
                      max_df: int = 1000) -> DataFrame:
    """Asymmetric containment scoring — the near-dup signal symmetric
    Jaccard misses: a short document quoted wholesale inside a long
    one has tiny Jaccard but containment ~1 on the short side
    (Broder's containment, the MinHash-era quote/subset detector).
    For every overlapping pair, cont_x = |A∩B| / |X| in both
    directions, kept when EITHER side reaches ``threshold``.

    Same linear scale shape and hot-shingle guard as
    :func:`ngram_jaccard_pairs` (one shingle equi-join, never
    all-pairs; boilerplate shingles capped at ``max_df`` docs on both
    the join and the sizes, keeping the score internally consistent).
    Integer-exact: ``floor(inter * scale / size)`` via integer
    division — oracle-safe.

    Output: (doc_a, doc_b, inter, sza, szb, cont_a_scaled,
    cont_b_scaled) with doc_a < doc_b.
    """
    sh = docs.select("doc_id",
                     F.explode(F.array_distinct(
                         _shingle_array(text_col, shingle_k)))
                     .alias("shingle"))
    # same collect-members restructure (and equivalence argument) as
    # :func:`ngram_jaccard_pairs`
    grouped = _collect_buckets(sh, ["shingle"], max_df).localCheckpoint()
    sizes = (grouped.select(F.explode("ids").alias("doc_id"))
             .groupBy("doc_id").agg(F.count("*").alias("sz")))
    inter = (_expand_pairs(grouped)
             .groupBy("doc_a", "doc_b")
             .agg(F.count("*").alias("inter")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("sz").alias("szb"))
    cut = int(threshold * scale)
    return (inter.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b", "inter", "sza", "szb",
                    F.expr(f"(inter * {scale}) div sza")
                    .cast("long").alias("cont_a_scaled"),
                    F.expr(f"(inter * {scale}) div szb")
                    .cast("long").alias("cont_b_scaled"))
            .where((F.col("cont_a_scaled") >= cut)
                   | (F.col("cont_b_scaled") >= cut)))


def soft_dedup_weights(docs: DataFrame, clusters: DataFrame,
                       scale: int = 1_000_000) -> DataFrame:
    """Soft dedup — DOWN-WEIGHT duplicates instead of deleting them
    (the public alternative to hard dedup when near-dup text still
    carries signal): every document's sampling weight is
    ``scale / cluster_size`` for its near-dup cluster (from
    :func:`dedup_clusters`), so each duplicate CLUSTER contributes one
    document's worth of expected mass to the mix, however many copies
    exist. Documents in no cluster keep full weight. Feed the weights
    to the mixture sampler as a per-document multiplier.

    One broadcast-size left join (the cluster table is |near-dup
    docs|, tiny next to the corpus); integer-exact output.

    Output: (doc_id, cluster_size, weight_scaled).
    """
    cl = clusters.select("doc_id", "cluster_size")
    return (docs.select("doc_id").join(cl, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("cluster_size", F.lit(1)).cast("long")
                .alias("cluster_size"))
            .select("doc_id", "cluster_size",
                    F.expr(f"{scale} div cluster_size").cast("long")
                    .alias("weight_scaled")))


def char_qgram_array(col: str | F.Column, q: int = 3) -> F.Column:
    """Distinct character q-grams of a string as a pure Column
    expression (strings shorter than ``q`` collapse to one whole-string
    gram — same clamping as :func:`_shingle_array` does for tokens)."""
    c = F.col(col) if isinstance(col, str) else col
    idx = F.sequence(F.lit(1),
                     F.greatest(F.length(c) - (q - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: c.substr(i, F.lit(q))))


def fuzzy_pairs(df: DataFrame, key_col: str = "title",
                id_col: str = "doc_id", max_dist: int = 8,
                q: int = 3, max_gram_df: int | None = None
                ) -> DataFrame:
    """Blocked fuzzy record linkage: pairs whose ``key_col`` values are
    within Levenshtein distance ``max_dist``, found WITHOUT an all-pairs
    comparison — candidates are pairs sharing at least one character
    q-gram (plus a length-difference prefilter, since edit distance is
    at least the length gap), then verified with the exact JVM
    ``levenshtein``.

    Completeness: by q-gram count filtering (Gravano et al., VLDB'01),
    strings within distance d share >= max(|a|,|b|) - q + 1 - d*q
    multiset q-grams, so the shared-gram candidate step is LOSSLESS
    whenever the longer string has at least ``q * (max_dist + 1)``
    chars; shorter keys can escape blocking (document per deployment,
    or run the short stratum brute-force — it is tiny by definition).

    Scale: one explode + self equi-join on gram — the same linear
    shape as the shingle joins above, never corpus^2. ``max_gram_df``
    optionally drops boilerplate grams whose document frequency
    exceeds the cap (skew guard; off by default so the result is
    exactly the verified candidate set).

    Output: (id_a, id_b, dist) — verified pairs only, exact integer
    distance, deterministic.
    """
    keyed = df.select(F.col(id_col).alias("id"),
                      F.col(key_col).alias("k"))
    # carry the key length through the gram explode so the
    # length-difference prefilter runs on the joined gram rows BEFORE
    # the candidate .distinct() — edit distance >= |len_a - len_b|, so
    # filtering early only shrinks the dedup shuffle (result identical)
    grams = keyed.select(
        "id", F.length("k").alias("len"),
        F.explode(char_qgram_array("k", q)).alias("g"))
    if max_gram_df is not None:
        grams = cap_buckets(grams, ["g"], max_gram_df)
    cand = (grams.alias("a")
            .join(grams.alias("b"), "g")
            .where((F.col("a.id") < F.col("b.id")) &
                   (F.abs(F.col("a.len") - F.col("b.len"))
                    <= max_dist))
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"))
            .distinct())
    ka = keyed.select(F.col("id").alias("id_a"),
                      F.col("k").alias("k_a"))
    kb = keyed.select(F.col("id").alias("id_b"),
                      F.col("k").alias("k_b"))
    return (cand.join(ka, "id_a").join(kb, "id_b")
            .select("id_a", "id_b",
                    F.levenshtein("k_a", "k_b").alias("dist"))
            .where(F.col("dist") <= max_dist))


def dedup_method_overlap(docs: DataFrame, text_col: str = "text",
                         jaccard_threshold: float = 0.25,
                         containment_threshold: float = 0.5,
                         hasher: str = DEFAULT_HASHER) -> DataFrame:
    """Method-evaluation matrix for the near-dup family: run minhash
    (LSH + verify), simhash, n-gram Jaccard, containment, and
    winnowing over the same corpus and report, for every method pair,
    the two pair-set sizes and their intersection — the operator you
    run before choosing a dedup policy ("what does simhash catch that
    minhash misses, and how loose is it?").

    Scale: each member is its own audited linear pipeline; the
    comparison adds one union, one map-side-combined size agg, and
    one equi-join ON THE PAIR KEY (linear in total pairs, never in
    the corpus); the 5x5 matrix skeleton is driver-trivial.

    Output: (method_a, method_b, n_a, n_b, n_common) for the 10
    unordered method pairs, methods lexicographic — integer-exact.
    """
    from maps_spark.operators.text import winnow_pairs
    members = {
        "containment": containment_pairs(
            docs, threshold=containment_threshold, text_col=text_col),
        "minhash": minhash_verify(
            minhash_lsh_pairs(docs, text_col, hasher=hasher),
            minhash_signatures(docs, text_col, hasher=hasher),
            threshold=jaccard_threshold),
        "ngram": ngram_jaccard_pairs(docs, text_col=text_col,
                                     threshold=jaccard_threshold),
        "simhash": simhash_near_pairs(docs, text_col=text_col,
                                      hasher=hasher),
        "winnow": winnow_pairs(docs, text_col=text_col),
    }
    tagged = None
    for name, df in members.items():
        part = df.select(F.lit(name).alias("method"), "doc_a", "doc_b")
        tagged = part if tagged is None else tagged.unionByName(part)
    tagged = tagged.localCheckpoint()
    sizes = tagged.groupBy("method").agg(F.count("*").alias("n"))
    commons = (tagged.alias("a")
               .join(tagged.alias("b"),
                     (F.col("a.doc_a") == F.col("b.doc_a"))
                     & (F.col("a.doc_b") == F.col("b.doc_b"))
                     & (F.col("a.method") < F.col("b.method")))
               .groupBy(F.col("a.method").alias("method_a"),
                        F.col("b.method").alias("method_b"))
               .agg(F.count("*").alias("n_common")))
    sa = sizes.select(F.col("method").alias("method_a"),
                      F.col("n").alias("n_a"))
    sb = sizes.select(F.col("method").alias("method_b"),
                      F.col("n").alias("n_b"))
    return (sa.crossJoin(sb)
            .where(F.col("method_a") < F.col("method_b"))
            .join(commons, ["method_a", "method_b"], "left")
            .select("method_a", "method_b", "n_a", "n_b",
                    F.coalesce("n_common", F.lit(0)).cast("long")
                    .alias("n_common")))


def cross_source_dup_matrix(docs: DataFrame, text_col: str = "text",
                            source_col: str = "source",
                            hasher: str = DEFAULT_HASHER) -> DataFrame:
    """Which sources duplicate which: the near-dup candidate pairs
    (banded minhash LSH) annotated with both documents' sources and
    aggregated into an unordered source-pair matrix — the provenance
    / syndication view a corpus audit reports (e.g. mirror sites,
    wire-copy spread). Pair canonical order is lexicographic so
    (a, b) and (b, a) collapse.

    Cost beyond the (already capped, bucketed) LSH pairs: two
    broadcast-sized source joins and one matrix-sized agg.

    Output: (source_a, source_b, n_pairs)."""
    pairs = minhash_lsh_pairs(docs, text_col, hasher=hasher)
    s = docs.select("doc_id", source_col)
    return (pairs
            .join(s.select(F.col("doc_id").alias("doc_a"),
                           F.col(source_col).alias("sa")), "doc_a")
            .join(s.select(F.col("doc_id").alias("doc_b"),
                           F.col(source_col).alias("sb")), "doc_b")
            .groupBy(F.least("sa", "sb").alias("source_a"),
                     F.greatest("sa", "sb").alias("source_b"))
            .agg(F.count("*").alias("n_pairs")))
