"""Property-based tests (hypothesis) for the pure-Python codec and
hash layers — the pieces whose wire formats / modular arithmetic must
hold for ARBITRARY inputs, not just the synthetic corpus. No Spark
session needed; these run in milliseconds.

Model: SURVEY §5 — the reference pins its codecs with randomized
round-trips (VectorTileDecoderTest, PointFeatureSerDeTest)."""

import string

from hypothesis import given, settings
from hypothesis import strategies as st

# --- MVT wire codec ---------------------------------------------------------

attr_vals = st.integers(min_value=0, max_value=2**31 - 1)
attr_keys = st.text(string.ascii_letters + string.digits + "_:", min_size=1,
                    max_size=12)
features = st.lists(
    st.tuples(st.integers(-512, 1023), st.integers(-512, 1023),
              st.dictionaries(attr_keys, attr_vals, max_size=4)),
    max_size=8)
layer_names = st.sampled_from(
    ["OBSERVATION", "HUMAN_OBSERVATION", "MACHINE_OBSERVATION", "UNKNOWN"])


@settings(max_examples=200, deadline=None)
@given(st.dictionaries(layer_names, features, max_size=4))
def test_mvt_roundtrip(layers):
    from maps_spark.functions import mvt

    data = mvt.encode_tile(layers, extent=512)
    decoded = mvt.decode_tile(data)

    def canon(ls):
        return {name: sorted((x, y, tuple(sorted(attrs.items())))
                             for x, y, attrs in feats)
                for name, feats in ls.items() if feats}

    assert canon(decoded) == canon(layers)


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=2**63 - 1))
def test_varint_roundtrip(n):
    from maps_spark.functions.mvt import _read_varint, _varint

    got, pos = _read_varint(_varint(n), 0)
    assert got == n and pos == len(_varint(n))


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=-2**31, max_value=2**31 - 1))
def test_zigzag_roundtrip(n):
    from maps_spark.functions.mvt import _unzigzag, _zigzag

    assert _unzigzag(_zigzag(n)) == n
    assert _zigzag(n) >= 0


# --- point-features protobuf ------------------------------------------------

bors = st.sampled_from(["OBSERVATION", "HUMAN_OBSERVATION", "UNKNOWN"])
point_rows = st.lists(
    st.tuples(
        st.floats(-90, 90, allow_nan=False).map(lambda v: round(v, 6)),
        st.floats(-180, 180, allow_nan=False).map(lambda v: round(v, 6)),
        bors,
        st.integers(1600, 2030),
        st.integers(1, 10**6)),
    max_size=16)


@settings(max_examples=200, deadline=None)
@given(point_rows)
def test_pointpb_roundtrip(rows):
    from maps_spark.functions import pointpb
    from tests.oracles import point_rows

    data = pointpb.encode_features(rows)
    decoded = point_rows(pointpb.decode_features(data))
    assert sorted(decoded) == sorted(rows)


# --- Mersenne hash family (the dual-dialect signature arithmetic) -----------

P31 = 2147483647
tokens = st.text(string.printable.replace(" ", "").replace("\t", "")
                 .replace("\n", "").replace("\r", "").replace("\x0b", "")
                 .replace("\x0c", ""), max_size=24).filter(
    lambda t: all(ord(c) < 128 for c in t))


@settings(max_examples=200, deadline=None)
@given(st.lists(tokens, min_size=1, max_size=16))
def test_token_hash_is_base256_mod_mersenne(toks):
    """The vectorized numpy fold must equal the mathematical definition
    int.from_bytes(utf8, 'big') % (2^31 - 1) — i.e. no silent int64
    wraparound for any input, which is what makes the DuckDB SQL twin
    exact."""
    from maps_spark.operators.dedup import _token_hashes

    got = _token_hashes(toks)
    for t, h in zip(toks, got.tolist()):
        b = t.encode()
        want = int.from_bytes(b, "big") % P31 if b else 0
        assert h == want
        assert 0 <= h < P31


@settings(max_examples=100, deadline=None)
@given(st.text(st.characters(min_codepoint=1, max_codepoint=127),
               max_size=64))
def test_fingerprint_is_polynomial_mod_2_61(text):
    """operators.text.fingerprint's per-batch fold == the direct
    polynomial sum(byte_i * 257^(n-1-i)) mod 2^61-1 (the split-identity
    trick in the DuckDB twin relies on this)."""
    import pandas as pd

    from maps_spark.operators.text import fingerprint_series

    p = (1 << 61) - 1
    got = fingerprint_series(pd.Series([text])).iloc[0]
    want = 0
    for c in text.encode():
        want = (want * 257 + c) % p
    assert int(got) == want


@settings(max_examples=50, deadline=None)
@given(st.lists(st.text(st.characters(min_codepoint=1,
                                      max_codepoint=0x10FF),
                        max_size=200),
                min_size=0, max_size=8))
def test_fingerprint_batch_matches_scalar_loop(docs):
    """The vectorized (padded-matrix, Mersenne-split) batch fold must
    equal the exact python-int scalar loop for mixed-length unicode
    batches — including empty strings and empty batches."""
    import pandas as pd

    from maps_spark.operators.text import fingerprint_series

    p = (1 << 61) - 1
    got = fingerprint_series(pd.Series(docs, dtype=object)).tolist()
    for t, h in zip(docs, got):
        want = 0
        for c in t.encode("utf-8"):
            want = (want * 257 + c) % p
        assert h == want


@settings(max_examples=40, deadline=None)
@given(st.integers(1, 12), st.integers(1, 12), st.integers(1, 4),
       st.randoms(use_true_random=False))
def test_png_roundtrip_property(h, w, ch, rnd):
    """encode_png -> decode_png is the identity for every shape,
    channel count, and filter choice (the encoder cycles filters, so
    arbitrary shapes exercise every unfilter branch at every stride)."""
    import numpy as np

    from maps_spark.operators.multimodal import decode_png, encode_png
    arr = np.array([rnd.randrange(256) for _ in range(h * w * ch)],
                   dtype=np.uint8).reshape(h, w, ch)
    for mode in ("none", "cycle"):
        out = decode_png(encode_png(arr, filter_mode=mode))
        assert np.array_equal(out, arr), (h, w, ch, mode)


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 200), st.integers(1, 2), st.integers(8000, 48000),
       st.randoms(use_true_random=False))
def test_wav_roundtrip_property(n, ch, rate, rnd):
    import numpy as np

    from maps_spark.operators.multimodal import decode_wav, encode_wav
    arr = np.array([rnd.randrange(-32768, 32768) for _ in range(n * ch)],
                   dtype=np.int16).reshape(n, ch)
    out, r = decode_wav(encode_wav(arr, rate))
    assert r == rate and np.array_equal(out, arr)


@settings(max_examples=25, deadline=None)
@given(tokens=st.lists(st.sampled_from("ab"), min_size=0, max_size=40))
def test_dup_span_islands_match_bruteforce(spark, tokens):
    """dup_spans' gram-join + islands merge equals a brute-force
    duplicated-gram cover over a tiny alphabet (guarantees heavy
    duplication and adversarial overlaps)."""
    L = 3
    text = " ".join(tokens)
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    from maps_spark.operators.dedup import dup_spans
    got = sorted((r.span_start, r.span_end) for r in
                 dup_spans(docs, min_gram=L).collect())
    # brute force: positions covered by grams occurring > once
    grams = {}
    for i in range(max(len(tokens) - L + 1, 0)):
        grams.setdefault(tuple(tokens[i:i + L]), []).append(i)
    starts = sorted(i for g, ps in grams.items() if len(ps) > 1
                    for i in ps)
    want = []
    for i in starts:
        e = i + L - 1
        if want and i <= want[-1][1] + 1:
            want[-1] = (want[-1][0], max(want[-1][1], e))
        else:
            want.append((i, e))
    assert got == want, (text, got, want)


def _winnow_brute(text, k=3, w=4):
    """Reference winnowing: per window of w gram hashes, pick min hash
    (rightmost on ties); distinct selections."""
    P31, B = (1 << 31) - 1, 1000003

    def th(t):
        h = 0
        for ch in t:
            h = (h * 256 + ord(ch)) % P31
        return h

    hs = [th(t) for t in text.split(" ")]
    grams = []
    for i in range(max(len(hs) - k + 1, 0)):
        g = 0
        for h in hs[i:i + k]:
            g = (g * B + h) % P31
        grams.append((i, g))
    sel = set()
    for s in range(max(len(grams) - w, 0) + (1 if grams else 0)):
        win = grams[s:s + w]
        sel.add(min(win, key=lambda t: (t[1], -t[0])))
    return sel


@settings(max_examples=20, deadline=None)
@given(tokens=st.lists(st.sampled_from("abc"), min_size=0, max_size=30))
def test_winnow_fingerprints_match_bruteforce(spark, tokens):
    """The codegen window-min (packed hash/reversed-pos key) equals
    reference winnowing — tiny alphabet forces hash ties, so the
    rightmost tie rule is exercised."""
    from maps_spark.operators.text import winnow_fingerprints
    text = " ".join(tokens)
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = {(r.pos, r.gram_hash)
           for r in winnow_fingerprints(docs).collect()}
    assert got == _winnow_brute(text)


def test_winnow_guarantee_shared_substring(spark):
    """Schleimer et al.'s guarantee: two documents sharing a token run
    of >= window + k - 1 tokens share at least one selected gram HASH,
    wherever the run sits in each document."""
    from maps_spark.operators.text import winnow_fingerprints
    shared = "the common quoted passage appears verbatim here today"
    a = "alpha beta " + shared + " gamma delta epsilon"
    b = "one two three four " + shared + " five"
    docs = spark.createDataFrame([(1, a), (2, b)],
                                 "doc_id long, text string")
    sel = {}
    for r in winnow_fingerprints(docs, shingle_k=3, window=4).collect():
        sel.setdefault(r.doc_id, set()).add(r.gram_hash)
    assert sel[1] & sel[2], (sel[1], sel[2])


@settings(max_examples=30, deadline=None)
@given(ms=st.lists(st.integers(min_value=1, max_value=1 << 50),
                   min_size=2, max_size=40))
def test_value_sketch_bin_properties(ms):
    """The quantile sketch's integer bin function (evaluated through
    DuckDB, the oracle engine): monotone non-decreasing in m, and any
    two values sharing a bin differ by at most the (subs+1)/subs
    relative bin-width bound (below the 2^47 clamp)."""
    import duckdb
    from maps_spark.operators.sessions import QS_SUBS, _qs_bin_sql
    sql = _qs_bin_sql("m", QS_SUBS)
    rows = duckdb.sql(
        f"SELECT m, {sql} AS bin FROM (SELECT unnest({ms}) AS m)"
    ).fetchall()
    by_m = sorted(rows)
    for (m1, b1), (m2, b2) in zip(by_m, by_m[1:]):
        assert b1 <= b2, (m1, b1, m2, b2)
    cap = (1 << 47) - 1
    bins = {}
    for m, b in rows:
        bins.setdefault(b, []).append(min(m, cap))
    for b, vals in bins.items():
        lo, hi = min(vals), max(vals)
        assert hi <= lo * (QS_SUBS + 1) / QS_SUBS + 1, (b, lo, hi)


def test_spatial_keys_match_reference_implementation():
    """Random-coordinate sweep: the dual-dialect Morton/geohash
    expressions (evaluated in DuckDB, the oracle engine) must equal an
    independent pure-Python reference for every point — pinning the
    interleave/bit-parity logic beyond the fixed canonical values."""
    import math
    import random

    import duckdb

    from maps_spark.sql import dual

    def ref_cell(v, offset, span, n):
        return min(max(int(math.floor((v + offset) / span * n)), 0),
                   n - 1)

    def ref_morton(lat, lng, z):
        n = 1 << z
        x = ref_cell(lng, 180.0, 360.0, n)
        y = ref_cell(90.0 - lat, 0.0, 180.0, n)  # north origin
        m = 0
        for i in range(z):
            m |= ((x >> i) & 1) << (2 * i)
            m |= ((y >> i) & 1) << (2 * i + 1)
        return m

    B32 = dual.GEOHASH_BASE32

    def ref_geohash(lat, lng, p):
        # canonical bisection algorithm — entirely independent of the
        # bit-interleave construction under test
        lat_lo, lat_hi, lng_lo, lng_hi = -90.0, 90.0, -180.0, 180.0
        bits, out, even = 0, [], True
        ch = 0
        while len(out) < p:
            if even:
                mid = (lng_lo + lng_hi) / 2
                if lng >= mid:
                    ch = (ch << 1) | 1
                    lng_lo = mid
                else:
                    ch <<= 1
                    lng_hi = mid
            else:
                mid = (lat_lo + lat_hi) / 2
                if lat >= mid:
                    ch = (ch << 1) | 1
                    lat_lo = mid
                else:
                    ch <<= 1
                    lat_hi = mid
            even = not even
            bits += 1
            if bits == 5:
                out.append(B32[ch])
                bits, ch = 0, 0
        return "".join(out)

    rng = random.Random(101)
    pts = [(rng.uniform(-90, 90), rng.uniform(-180, 180))
           for _ in range(80)] + [(90.0, 180.0), (-90.0, -180.0),
                                  (0.0, 0.0), (85.0511, -0.0001)]
    vals = ", ".join(f"({la!r}, {lo!r})" for la, lo in pts)
    con = duckdb.connect()
    q = (f"SELECT {dual.morton_interleave(dual.grid_x('lng', 10), dual.grid_y('lat', 10), 10)} AS m, "
         f"{dual.geohash_expr('lat', 'lng', 6)} AS gh "
         f"FROM (SELECT CAST(a AS DOUBLE) AS lat, "
         f"CAST(b AS DOUBLE) AS lng FROM (VALUES {vals}) t(a, b)) s")
    rows = con.execute(q).fetchall()
    for (la, lo), (m, gh) in zip(pts, rows):
        assert m == ref_morton(la, lo, 10), (la, lo)
        assert gh == ref_geohash(la, lo, 6), (la, lo, gh)


@given(st.text(
    alphabet=("utmgclidfbsk_abcXYZ09._-~%/?&=#:@ " + "\t"),
    max_size=60))
@settings(max_examples=300, deadline=None)
def test_url_normalize_and_canonicalize_idempotent(u):
    """norm(norm(x)) == norm(x) and canon(canon(x)) == canon(x) for
    arbitrary URL-ish strings — the property that makes the
    normalized/canonical column safe to use as a graph key no matter
    how many pipeline stages re-apply it. Evaluated through DuckDB,
    which runs the SAME dual-dialect expression the Spark side does
    (the url_normalize/url_canonical gates pin cross-engine parity)."""
    import duckdb

    from maps_spark.operators.html import canon_href_sql, norm_url_sql
    con = duckdb.connect()

    def ev(expr_builder, x):
        return con.execute(
            f"SELECT {expr_builder('u')} FROM (SELECT ? AS u)",
            [x]).fetchone()[0]

    n1 = ev(norm_url_sql, u)
    assert ev(norm_url_sql, n1) == n1
    c1 = ev(canon_href_sql, u)
    assert ev(canon_href_sql, c1) == c1
    # canon is a no-op on already-normalized tracking-free URLs
    assert ev(canon_href_sql, c1) == ev(norm_url_sql, c1)


@given(st.text(alphabet="Disalow:ufbckrt/#*- \t\r\n\x0b" + "AU",
               max_size=120))
@settings(max_examples=300, deadline=None)
def test_robots_disallow_regex_is_engine_identical(body):
    """ROBOTS_DISALLOW_RE through DuckDB's RE2 equals a pure-Python
    reference of the intended semantics (start-of-input-or-newline,
    'Disallow:', optional space/tab run, a nonempty run of anything
    but space/tab/CR/LF) on ADVERSARIAL bodies — including vertical
    tabs and bare-\\r line endings, exactly the inputs where Java's
    (?m)/\\S and RE2's diverge; the regex is written without either
    construct so both engines agree on any input, and the
    robots_parse gate pins the Spark (Java) side to the same rows."""
    import duckdb

    from maps_spark.operators.crawl import ROBOTS_DISALLOW_RE

    def ref(b):
        out = []
        i = 0
        while True:
            j = b.find("Disallow:", i)
            if j < 0:
                return out
            if j == 0 or b[j - 1] == "\n":
                k = j + len("Disallow:")
                while k < len(b) and b[k] in " \t":
                    k += 1
                m = k
                while m < len(b) and b[m] not in " \t\r\n":
                    m += 1
                if m > k:
                    out.append(b[k:m])
            i = j + 1

    con = duckdb.connect()
    got = con.execute(
        f"SELECT regexp_extract_all(?, '{ROBOTS_DISALLOW_RE}', 1)",
        [body]).fetchone()[0]
    assert got == ref(body), body


@given(st.lists(
    st.tuples(st.text(alphabet="abc/?&=#xyz09._- ", max_size=20),
              st.one_of(st.none(),
                        st.text(alphabet="0123456789-T:Z", max_size=12))),
    max_size=6))
@settings(max_examples=200, deadline=None)
def test_sitemap_block_extraction_keeps_loc_lastmod_aligned(entries):
    """Whole-<url>-block parsing through DuckDB (RE2) recovers every
    (loc, lastmod-or-'') pair in order for arbitrary loc text and
    optional lastmod — the alignment guarantee two parallel
    extract_alls could not give. (A raw '<' inside a loc is invalid
    sitemap XML — it must be entity-escaped — and voids that entry's
    match identically in both engines, so the alphabet excludes
    it.)"""
    import duckdb

    from maps_spark.operators.crawl import (SITEMAP_LASTMOD_RE,
                                            SITEMAP_LOC_RE,
                                            SITEMAP_URL_RE)

    xml = "<urlset>" + "".join(
        "<url><loc>" + loc + "</loc>" +
        ("" if lm is None else "<lastmod>" + lm + "</lastmod>") +
        "</url>"
        for loc, lm in entries) + "</urlset>"
    con = duckdb.connect()
    blocks = con.execute(
        f"SELECT regexp_extract_all(?, '{SITEMAP_URL_RE}', 0)",
        [xml]).fetchone()[0]
    got = [(con.execute(
                f"SELECT regexp_extract(?, '{SITEMAP_LOC_RE}', 1)",
                [b]).fetchone()[0],
            con.execute(
                f"SELECT regexp_extract(?, '{SITEMAP_LASTMOD_RE}', 1)",
                [b]).fetchone()[0])
           for b in blocks]
    want = [(loc, "" if lm is None else lm) for loc, lm in entries]
    assert got == want, xml


@settings(max_examples=40, deadline=None)
@given(st.integers(1, 20), st.integers(1, 20), st.integers(1, 4),
       st.randoms(use_true_random=False))
def test_adam7_roundtrip_property(h, w, ch, rnd):
    """Interlaced encode -> decode is the identity for every shape
    and channel count — arbitrary dims leave arbitrary subsets of
    the seven passes empty or partial."""
    import numpy as np

    from maps_spark.operators.multimodal import decode_png, encode_png
    arr = np.array([rnd.randrange(256) for _ in range(h * w * ch)],
                   dtype=np.uint8).reshape(h, w, ch)
    out = decode_png(encode_png(arr, interlace=True))
    assert np.array_equal(out, arr), (h, w, ch)


@settings(max_examples=20, deadline=None)
@given(st.integers(1, 40), st.integers(1, 40), st.integers(0, 2),
       st.integers(0, 2), st.randoms(use_true_random=False))
def test_progressive_equals_baseline_property(h, w, al_dc, al_ac, rnd):
    """For every image and successive-approximation depth, the
    progressive decode must be PIXEL-IDENTICAL to the baseline
    decode (both encoders quantize through _quantize_block)."""
    import numpy as np

    from maps_spark.functions.jpeg import (decode_jpeg, encode_jpeg,
                                           encode_jpeg_progressive)
    arr = np.array([rnd.randrange(256) for _ in range(h * w)],
                   dtype=np.uint8).reshape(h, w)
    base = decode_jpeg(encode_jpeg(arr, q_luma=16))
    prog = decode_jpeg(encode_jpeg_progressive(
        arr, q_luma=16, al_dc=al_dc, al_ac=al_ac))
    assert np.array_equal(base, prog), (h, w, al_dc, al_ac)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(0, 255), min_size=4, max_size=36),
       st.integers(-32768, 32767), st.integers(0, 88))
def test_adpcm_decoder_matches_replay_for_arbitrary_nibbles(
        data_bytes, pred0, idx0):
    """The WAV-level ADPCM decoder must agree with a from-scratch
    replay of the IMA state machine for ARBITRARY nibble payloads
    and block headers — not just encoder-produced streams."""
    import struct

    import numpy as np

    from maps_spark.operators.multimodal import _IMA_STEPS, decode_wav
    nbytes = len(data_bytes) - len(data_bytes) % 4  # whole 4-byte groups
    payload_bytes = bytes(data_bytes[:nbytes])
    block_align = 4 + nbytes
    spb = 1 + nbytes * 2
    data = struct.pack("<hBB", pred0, idx0, 0) + payload_bytes
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, 8000, 8000, block_align,
                      4, 2, spb)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    out, _ = decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    idx_adj = [-1, -1, -1, -1, 2, 4, 6, 8]
    want = [pred0]
    pred, idx = pred0, idx0
    for byte in payload_bytes:
        for nb in (byte & 0xF, byte >> 4):
            step = _IMA_STEPS[idx]
            diff = ((step >> 3) + (step >> 2 if nb & 1 else 0)
                    + (step >> 1 if nb & 2 else 0)
                    + (step if nb & 4 else 0))
            pred = pred - diff if nb & 8 else pred + diff
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + idx_adj[nb & 7]))
            want.append(pred)
    assert np.array_equal(out[:, 0], np.array(want, np.int16))


@settings(max_examples=25, deadline=None)
@given(st.integers(1, 5), st.integers(1, 3), st.integers(1, 3),
       st.randoms(use_true_random=False))
def test_mjpeg_avi_frames_equal_independent_jpeg_decodes(
        n_frames, bh, bw, rnd):
    """Container property: decoding an MJPEG/AVI must yield exactly
    the per-frame baseline JPEG decodes, in order, for any frame
    count and dimensions."""
    import numpy as np

    from maps_spark.functions.jpeg import decode_jpeg, encode_jpeg
    from maps_spark.operators.multimodal import (decode_mjpeg_avi,
                                                 encode_mjpeg_avi)
    h, w = bh * 8, bw * 8
    frames = [np.array([rnd.randrange(256) for _ in range(h * w)],
                       dtype=np.uint8).reshape(h, w)
              for _ in range(n_frames)]
    out, _ = decode_mjpeg_avi(encode_mjpeg_avi(frames, q=16))
    assert out.shape[0] == n_frames
    for f in range(n_frames):
        assert np.array_equal(
            out[f], decode_jpeg(encode_jpeg(frames[f], q_luma=16)))
