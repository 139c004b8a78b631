"""The rendered-PNG memo (``functions.png``): a memoised PNG equals a
fresh render of the same input, the memo stays within its byte budget,
and ``write_png`` writes what a plain copy-then-compress encoder writes.
The reader-level checks (build swap, a mixed request stream) are in
``tests/test_tile_reader.py``."""

import struct
import sys
import threading
import zlib

import numpy as np
import pytest

from maps_spark.functions import mvt, png


@pytest.fixture(autouse=True)
def cold_memo():
    png._MEMO.clear()
    yield
    png._MEMO.clear()


def _tile(rng, n: int = 40) -> bytes:
    feats = [(int(x), int(y), {"2000": int(c)})
             for x, y, c in zip(rng.integers(-4, 516, n),
                                rng.integers(-4, 516, n),
                                rng.choice([1, 50, 500, 5000, 10**6], n))]
    return mvt.encode_tile({"OBSERVATION": feats}, extent=512)


def test_memoised_renders_equal_fresh_renders():
    """Every style x scale, both renderers: fill the memo with all of
    them first, so that a key collision would answer one input with
    another's PNG, then compare each memoised answer with a render that
    bypasses the memo."""
    rng = np.random.default_rng(11)
    tile = _tile(rng)
    children = [_tile(rng), None, _tile(rng), b""]
    cols = [mvt.decode_columns(c) if c else None for c in children]
    cases = [(style, scale) for style in sorted(png.STYLES)
             for scale in (0.5, 1.0, 2.0)]
    first = {}
    for style, scale in cases:
        first[style, scale] = (
            png.render_density_png(tile, style, scale=scale),
            png.render_heat_png(children, style, scale=scale))
    assert len(png._MEMO._entries) == 2 * len(cases)
    for style, scale in cases:
        density, heat = first[style, scale]
        # hits return the stored bytes; columns hit the bytes' entry
        assert png.render_density_png(bytearray(tile), style,
                                      scale=scale) is density
        assert png.render_heat_png(cols, style, scale=scale) is heat
        assert density == png._render_density(tile, style, 512, 2, scale)
        assert heat == png._render_heat(children, style, 512, 2, scale)
    assert len(png._MEMO._entries) == 2 * len(cases)
    assert png._MEMO.hits == 2 * len(cases)


def test_memo_stays_within_byte_budget(monkeypatch):
    monkeypatch.setattr(png, "_MEMO_BUDGET", 40_000)
    rng = np.random.default_rng(12)
    tiles = [_tile(rng, 5) for _ in range(8)]
    for i in range(300):
        # distinct keys: the tile, the dot width and the canvas size vary
        png.render_density_png(tiles[i % 8] if i % 3 else None,
                               tile_size=16 + i % 7, dot_width=1 + i)
        memo = png._MEMO
        assert memo.nbytes <= png._MEMO_BUDGET
        assert memo.nbytes == sum(c for _, c in memo._entries.values())
    # evicted least recently used first; the newest entry is held
    assert 0 < len(memo._entries) < 300
    assert memo.evicted == 300 - len(memo._entries) and memo.hits == 0
    newest = next(reversed(memo._entries))
    assert newest[3:] == (16 + 299 % 7, 1 + 299, 1.0)
    for key, (data, charge) in memo._entries.items():
        held = len(key[1]) if key[1] else 0
        assert charge == len(data) + held + png._ENTRY_BYTES
    # a PNG that alone exceeds the budget is served, not kept
    monkeypatch.setattr(png, "_MEMO_BUDGET", 100)
    png._MEMO.clear()
    assert png.render_density_png(None, tile_size=64).startswith(
        b"\x89PNG")
    assert not png._MEMO._entries and png._MEMO.nbytes == 0


def test_memo_shared_by_threads_keeps_its_account(monkeypatch):
    """More threads than cores render overlapping inputs through a
    small budget: every answer is the fresh render of its own input
    and the memo's byte count stays the sum of its entries' charges."""
    monkeypatch.setattr(png, "_MEMO_BUDGET", 6_000)
    want = {d: png._render_density(None, "classic.point", 8, d, 1.0)
            for d in range(1, 25)}
    wrong, done = [], []
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)

    def worker(seed: int):
        rng = np.random.default_rng(seed)
        for d in rng.integers(1, 25, 300).tolist():
            if png.render_density_png(None, tile_size=8,
                                      dot_width=d) != want[d]:
                wrong.append(d)
        done.append(seed)

    try:
        threads = [threading.Thread(target=worker, args=(i,))
                   for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(done) == 16 and not wrong
    memo = png._MEMO
    assert memo.nbytes == sum(c for _, c in memo._entries.values())
    assert memo.nbytes <= png._MEMO_BUDGET


def test_write_png_equals_copying_encoder():
    """``write_png`` hands its scanline array to zlib without a bytes
    copy; the output is the one the copying encoder wrote."""
    rng = np.random.default_rng(13)
    for h, w in ((1, 1), (7, 5), (64, 32)):
        rgba = rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
        raw = np.zeros((h, w * 4 + 1), dtype=np.uint8)
        raw[:, 1:] = rgba.reshape(h, w * 4)

        def chunk(tag: bytes, data: bytes) -> bytes:
            return (struct.pack(">I", len(data)) + tag + data +
                    struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

        want = (b"\x89PNG\r\n\x1a\n" +
                chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
                + chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
                + chunk(b"IEND", b""))
        assert png.write_png(rgba) == want
