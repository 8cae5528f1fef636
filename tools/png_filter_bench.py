"""Micro-bench for the PNG Average/Paeth unfilter loops (r7 verdict
item 3): decodes an encoder-realistic raster where every scanline is
filtered with the WORST filters for the decoder (alternating
Average/Paeth — real encoders favor Paeth for photographic content),
comparing the shipped `_png_unfilter` against the r6 per-byte
reference loops. Run from the repo root:

    python tools/png_filter_bench.py

Filters are inverted from a synthetic RGB raster, so the bench
round-trips correctness too (re-filtered output must equal input).
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from s3_elasticsearch_data_pipeline_spark.operators.multimodal import (  # noqa: E402
    _paeth, _png_unfilter)


def _filter_raster(img: np.ndarray, bpp: int, ftype_of_row) -> bytes:
    """Forward-filter `img` (h, stride) rows with the given per-row
    filter chooser — the encoder side, per-byte reference code."""
    h, stride = img.shape
    out = bytearray()
    prev = [0] * stride
    for y in range(h):
        row = img[y].tolist()
        f = ftype_of_row(y)
        out.append(f)
        for i in range(stride):
            a = row[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if f == 3:
                out.append((row[i] - (a + b) // 2) & 0xFF)
            else:
                out.append((row[i] - _paeth(a, b, c)) & 0xFF)
        prev = row
    return bytes(out)


def _unfilter_r6(raw: bytes, height: int, stride: int,
                 bpp: int) -> bytes:
    """The r6 per-byte loops for Average/Paeth (reference baseline)."""
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    out = np.empty((height, stride), dtype=np.uint8)
    prev = [0] * stride
    for y in range(height):
        f = int(arr[y, 0])
        ln = arr[y, 1:].tolist()
        rec_l = [0] * stride
        if f == 3:
            for i in range(stride):
                a = rec_l[i - bpp] if i >= bpp else 0
                rec_l[i] = (ln[i] + (a + prev[i]) // 2) & 0xFF
        elif f == 4:
            for i in range(stride):
                a = rec_l[i - bpp] if i >= bpp else 0
                c = prev[i - bpp] if i >= bpp else 0
                rec_l[i] = (ln[i] + _paeth(a, prev[i], c)) & 0xFF
        else:
            raise ValueError(f)
        out[y] = rec_l
        prev = rec_l
    return out.tobytes()


def main() -> None:
    h, w, bpp = 256, 256, 3
    stride = w * bpp
    rng = np.random.default_rng(7)
    # smooth-ish gradient + noise: the content class Paeth wins on
    base = (np.add.outer(np.arange(h), np.arange(stride)) % 251)
    img = ((base + rng.integers(0, 9, size=(h, stride)))
           % 256).astype(np.uint8)

    for name, chooser in (("paeth-only", lambda y: 4),
                          ("avg-only", lambda y: 3),
                          ("alternating", lambda y: 3 + (y & 1))):
        raw = _filter_raster(img, bpp, chooser)
        want = img.tobytes()
        for label, fn in (("r6 per-byte", _unfilter_r6),
                          ("shipped", _png_unfilter)):
            got = fn(raw, h, stride, bpp)
            assert got == want, f"{name}/{label} mismatch"
            t0 = time.perf_counter()
            for _ in range(3):
                fn(raw, h, stride, bpp)
            dt = (time.perf_counter() - t0) / 3
            print(f"{name:12s} {label:12s} {dt*1000:8.1f} ms")


if __name__ == "__main__":
    main()
