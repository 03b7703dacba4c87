"""Pure-Python reference twins of the dedup kernels.

Plain-Python ground truth for the numpy kernels in
``operators/dedup.py`` (gram hashes, MinHash, SimHash, winnow
fingerprints), one text at a time; the tests cross-check the Spark
operators against them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from yahoofinancedatalake_spark.operators.dedup import (
    _FMIX1,
    _FMIX2,
    _MERSENNE,
    _ROT,
    _minhash_coeffs,
)


def ref_gram_hashes(text: str, n: int) -> set[int]:
    """Plain-python twin of ``dedup._gram_hash_arrays`` for one text."""
    mask = (1 << 64) - 1

    def rotl(x: int, k: int) -> int:
        return ((x << k) | (x >> (64 - k))) & mask

    def fmix(x: int) -> int:
        x ^= x >> 33
        x = (x * int(_FMIX1)) & mask
        x ^= x >> 33
        x = (x * int(_FMIX2)) & mask
        x ^= x >> 33
        return x

    toks = " ".join(text.lower().strip().split()).split()
    if not toks:
        return set()
    th = [int(v) for v in pd.util.hash_array(np.array(toks, dtype=object))]
    if len(toks) >= n:
        windows = [th[i: i + n] for i in range(len(toks) - n + 1)]
    else:
        windows = [th]
    out = set()
    for w in windows:
        acc = 0
        for j, hv in enumerate(w):
            acc ^= rotl(hv, _ROT[j])
        out.add(fmix(acc))
    return out


def ref_minhash(text: str, n_hashes: int = 32, seed: int = 42,
                shingle_n: int = 3) -> list[int] | None:
    grams = ref_gram_hashes(text, shingle_n)
    if not grams:
        return None
    p = _MERSENNE
    return [
        min((a * (g % p) + b) % p for g in grams)
        for a, b in _minhash_coeffs(n_hashes, seed)
    ]


def ref_simhash(text: str, shingle_n: int = 2) -> int | None:
    grams = ref_gram_hashes(text, shingle_n)
    if not grams:
        return None
    val = 0
    for bit in range(64):
        ones = sum((g >> bit) & 1 for g in grams)
        if 2 * ones > len(grams):
            val |= 1 << bit
    return val - (1 << 64) if val >= (1 << 63) else val


def ref_winnow_fingerprints(text: str, k: int = 16, w: int = 8) -> set[str]:
    """Pure-Python reference for ``dedup.winnow_fingerprints`` (same
    role as :func:`ref_minhash` — the property-test ground truth).

    The normalization mirrors ``dedup.normalized_text`` EXACTLY, not
    Python's defaults: Spark ``trim`` strips only 0x20 spaces (never
    tabs/newlines — UTF8String.trim) and Java regex ``\\s`` is the
    ASCII class ``[ \\t\\n\\x0B\\f\\r]`` (no Unicode whitespace), so
    ``str.strip()`` + Python ``\\s`` would disagree on tab/newline- or
    Unicode-whitespace-edged text and yield different k-grams.
    """
    import hashlib  # noqa: PLC0415
    import re  # noqa: PLC0415

    norm = re.sub(r"[ \t\n\x0b\f\r]+", " ", text.strip(" ").lower())
    if len(norm) < k:
        grams = [norm]
    else:
        grams = [norm[i: i + k] for i in range(len(norm) - k + 1)]
    hs = [hashlib.md5(g.encode("utf-8")).hexdigest() for g in grams]
    m = len(hs)
    return {min(hs[j: j + w]) for j in range(max(m - w + 1, 1))}
