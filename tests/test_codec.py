"""The codec driver table and the per-image UDF runner.

Every driver in ``codec.DRIVERS`` must answer a cut payload with a
typed ``ValueError`` — never a hang, a crash from the parser's
internals, or a size/array it did not read. The runner is exercised
on plain pandas batches, without Spark.
"""

from __future__ import annotations

import signal
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pytest

from gdal_spark.raster import bmp, codec

_RNG = np.random.default_rng(0)
_RGB = _RNG.integers(0, 256, (12, 16, 3), dtype=np.uint8)


def _sample(name: str) -> bytes:
    if name == "bmp":
        return bmp.encode(_RGB)
    if name == "gif":  # one palette/gray band
        return codec.encode_image(_RGB[:, :, 0].copy(), "gif")
    return codec.encode_image(_RGB, name)


@contextmanager
def _time_bound(seconds: float):
    """Fail (instead of hanging the suite) when the body runs too long."""

    def expire(*_):
        raise TimeoutError(f"no answer within {seconds} s")

    old = signal.signal(signal.SIGALRM, expire)
    signal.setitimer(signal.ITIMER_REAL, seconds)
    try:
        yield
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, old)


def _magic_len(name: str, full: bytes) -> int:
    """Length of the shortest prefix the driver table identifies."""
    return next(n for n in range(1, len(full)) if codec.identify(full[:n]) == name)


# one byte past the magic, then cuts inside every format's header (or
# past the short PNM/GIF ones); the fractions cut into the pixel data
_CUTS = ["magic+1", 16, 20, 25, 0.5, 0.75]


@pytest.mark.parametrize("cut", _CUTS)
@pytest.mark.parametrize("name", [d.name for d in codec.DRIVERS])
def test_truncated_payload_raises_value_error(name, cut):
    full = _sample(name)
    assert codec.sniff_info(full)[0] == name
    if cut == "magic+1":
        n = _magic_len(name, full) + 1
    else:
        n = cut if isinstance(cut, int) else int(len(full) * cut)
    part = full[:n]
    with _time_bound(10.0):
        with pytest.raises(ValueError):
            codec.decode_image(part)
        # header-only: a complete header may still be answered, but
        # only with what the full payload says
        try:
            got = codec.sniff_info(part)
        except ValueError:
            return
    assert cut != "magic+1", f"{name}: sniffed a size from its magic alone"
    assert got == codec.sniff_info(full), f"{name} cut to {n} bytes"


def test_identify_names_every_driver():
    for d in codec.DRIVERS:
        assert codec.identify(_sample(d.name)) == d.name
    assert codec.identify(b"\x00" * 16) is None


# ---------------------------------------------------------------------------
# runner
# ---------------------------------------------------------------------------


def _batch(rows):
    return pd.DataFrame(rows, columns=["image_id", "bytes", "fmt", "w"])


def _png(v: int) -> bytes:
    return codec.encode_image(np.full((3, 5), v, dtype=np.uint8), "png")


def test_runner_empty_batches_yield_nothing():
    def fn(r, px):
        yield (r.image_id,)

    assert list(codec.decoded_rows(iter([]), fn)) == []
    assert list(codec.decoded_rows(iter([_batch([]), _batch([])]), fn)) == []


def test_runner_rows_without_output_yield_no_batch():
    out = list(codec.decoded_rows(iter([_batch([("a", _png(1), "png", 5)])]), lambda r, px: ()))
    assert out == []


def test_runner_decodes_consecutive_image_once(monkeypatch):
    calls = []
    real = codec.decode_image

    def counting(buf, fmt=None):
        calls.append(fmt)
        return real(buf, fmt)

    monkeypatch.setattr(codec, "decode_image", counting)
    a, b = _png(10), _png(20)
    batches = [
        _batch([("a", a, "png", 5), ("a", a, "png", 5)]),
        _batch([("a", a, "png", 5), ("b", b, "png", 5), ("a", a, "png", 5)]),
    ]
    out = list(codec.decoded_rows(iter(batches), lambda r, px: [(r.image_id, int(px[0, 0]))]))
    # a once (its run spans the batch boundary), b once, a again after b
    assert len(calls) == 3
    assert [len(df) for df in out] == [2, 3]
    assert out[1].values.tolist() == [["a", 10], ["b", 20], ["a", 10]]


def test_runner_columns_follow_schema_order():
    def fn(r, px):
        h, w = px.shape
        yield (r.image_id, w, h, r.w * 2)
        yield (r.image_id + "'", w + 1, h + 1, r.w * 3)

    (out,) = codec.decoded_rows(iter([_batch([("a", _png(1), "png", 5)])]), fn)
    # unnamed, positional columns: Spark assigns them to the schema by
    # position, so the tuple order is the schema order
    assert list(out.columns) == [0, 1, 2, 3]
    assert out.values.tolist() == [["a", 5, 3, 10], ["a'", 6, 4, 15]]
