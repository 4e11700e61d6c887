"""Vectorized text-hash kernels (mapInPandas) for the dedup operators.

The SimHash / MinHash signatures are the portable md5 constructions of the
DuckDB oracle SQL in :mod:`micro_lab_ocr_spark.queries` (same salts, same bit
layout): ``_sql_simhash_bit`` for SimHash, ``_shingles3_sql``,
``_minhash_sql`` and the band keys of ``_MINHASH_CTES`` for MinHash. One
numpy pass per Arrow batch computes them, the shape of the
``ann._cosine_topk`` kernel; tests/test_operators.py runs the kernels against
that SQL in DuckDB.

Tokenization parity: :func:`_normalize` is ``functions.text.normalize_text``
in Python, U+0130 fold included (see there). On every other character the
Python, JVM and DuckDB ``lower()`` either agree or give a character that is
not ASCII-alphanumeric, which the same regex collapses to a space — so the
token streams agree on all three engines.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd

_NON_ALNUM = re.compile(r"[^a-zA-Z0-9]+")

# memoized per-executor token→bit-row / shingle→digest caches (vocab repeats
# heavily across docs; capped so a pathological corpus can't OOM the worker)
_CACHE_CAP = 1_000_000


def _normalize(text: str) -> str:
    """functions.text.normalize_text: fold U+0130 → lower → non-alnum runs to
    single spaces → trim. After the substitution only ASCII spaces can remain
    at the ends, so strip(' ') equals Spark's space-only trim."""
    return _NON_ALNUM.sub(" ", text.replace("İ", "I").lower()).strip(" ")


def norm_tokens(text: str | None) -> list[str]:
    """Mirror of functions.text.tokens(), empty-safe."""
    if not text:
        return []
    return _normalize(text).split()


def make_fingerprint_kernel(id_col: str = "doc_id"):
    """mapInPandas kernel for functions.text.doc_fingerprint: md5 of the
    normalized text. Moves the per-row regex+digest off the JVM, whose
    allocation-heavy string path is memory-bound."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            fps = [
                None
                if t is None
                else hashlib.md5(_normalize(t).encode("utf-8")).hexdigest()
                for t in pdf["text"]
            ]
            yield pd.DataFrame({id_col: pdf[id_col], "fingerprint": fps})

    return kernel


# ---------------------------------------------------------------------------
# SimHash64 (queries._sql_simhash_bit definition)
# ---------------------------------------------------------------------------

_sim_cache: dict[str, np.ndarray] = {}


def _token_bits(tok: str) -> np.ndarray:
    """64 bit-votes for one token: bit i = high bit of hex digit i%32 of
    md5(tok + '#s0') (i < 32) / md5(tok + '#s1') (i >= 32)."""
    row = _sim_cache.get(tok)
    if row is not None:
        return row
    d0 = hashlib.md5((tok + "#s0").encode("utf-8")).digest()
    d1 = hashlib.md5((tok + "#s1").encode("utf-8")).digest()
    b = np.frombuffer(d0 + d1, dtype=np.uint8)
    bits = np.empty(64, dtype=np.int32)
    # hex digit 2k = high nibble of byte k, digit 2k+1 = low nibble; the
    # "digit in [89abcdef]" vote is the nibble's top bit
    bits[0::2] = (b >> 7) & 1
    bits[1::2] = (b >> 3) & 1
    if len(_sim_cache) < _CACHE_CAP:
        _sim_cache[tok] = bits
    return bits


_POW2 = (np.uint64(1) << np.arange(64, dtype=np.uint64))


def simhash64_py(text: str | None) -> int:
    """Signed 64-bit SimHash: bit i is 1 when most tokens vote for it (see
    :func:`_token_bits`), bit 63 the sign bit. Bit-identical to the 16 hex
    nibbles of queries._simhash_hex_sql."""
    toks = norm_tokens(text)
    if not toks:
        return 0
    bits = np.stack([_token_bits(t) for t in toks])
    votes = 2 * bits.sum(axis=0) - len(toks)
    word = int((_POW2[votes > 0]).sum(dtype=np.uint64))
    return word - (1 << 64) if word >= (1 << 63) else word


def simhash_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        yield pd.DataFrame(
            {
                "id": pdf["id"],
                "simhash": np.fromiter(
                    (simhash64_py(t) for t in pdf["text"]), dtype=np.int64, count=len(pdf)
                ),
            }
        )


# ---------------------------------------------------------------------------
# MinHash + LSH band keys (queries._minhash_sql / _MINHASH_CTES definition)
# ---------------------------------------------------------------------------

_min_cache: dict[str, tuple[bytes, ...]] = {}


def _salted_digests(s: str, num_hashes: int) -> tuple[bytes, ...]:
    """All ``num_hashes`` salted digests of one shingle, one cache lookup.
    (Shingle vocab repeats heavily across docs; the per-occurrence cost is a
    single dict hit after warmup.)"""
    d = _min_cache.get(s)
    if d is None or len(d) < num_hashes:
        enc = s.encode("utf-8")
        d = tuple(
            hashlib.md5(enc + b"#%d" % h).digest() for h in range(num_hashes)
        )
        if len(_min_cache) < _CACHE_CAP:
            _min_cache[s] = d
    return d


def word_shingles_py(text: str | None, k: int) -> list[str]:
    """Distinct k-word shingles, order of first appearance (mirrors
    queries._shingles3_sql for k=3 — set membership, order irrelevant
    downstream since signatures are mins)."""
    toks = norm_tokens(text)
    if len(toks) < k:
        return []
    seen: dict[str, None] = {}
    for i in range(len(toks) - k + 1):
        seen[" ".join(toks[i : i + k])] = None
    return list(seen)


def minhash_buckets_py(
    shingles: list[str], num_hashes: int, bands: int
) -> list[str]:
    """LSH band keys: md5 over '|'-joined per-band lexicographic-min salted
    md5 HEX digests (min over hex == min over raw digest bytes)."""
    rows_per_band = num_hashes // bands
    it = iter(shingles)
    mins = list(_salted_digests(next(it), num_hashes))
    for s in it:
        digs = _salted_digests(s, num_hashes)
        for h in range(num_hashes):
            if digs[h] < mins[h]:
                mins[h] = digs[h]
    sig = [m.hex() for m in mins]
    return [
        hashlib.md5(
            "|".join(sig[b * rows_per_band : (b + 1) * rows_per_band]).encode("utf-8")
        ).hexdigest()
        for b in range(bands)
    ]


def make_minhash_kernel(shingle_k: int, num_hashes: int, bands: int):
    """(id, text) → (id, buckets): band keys only — the shingle arrays (the
    dominant bytes at scale) never leave the kernel; candidate verification
    re-derives them for the tiny candidate set (make_pair_overlap_kernel)."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            bk_col = []
            for t in pdf["text"]:
                sh = word_shingles_py(t, shingle_k)
                bk_col.append(minhash_buckets_py(sh, num_hashes, bands) if sh else [])
            yield pd.DataFrame({"id": pdf["id"], "buckets": bk_col})

    return kernel


def make_pair_overlap_kernel(shingle_k: int):
    """(id_a, id_b, text_a, text_b) → (id_a, id_b, inter, un): shingle-set
    intersection/union SIZES per candidate pair. The division + rounding stay
    in Catalyst so the jaccard double is bit-identical to the SQL oracle's.
    A per-worker memo avoids re-shingling docs that appear in many pairs."""
    memo: dict[str, frozenset] = {}

    def sset(t: str) -> frozenset:
        s = memo.get(t)
        if s is None:
            s = frozenset(word_shingles_py(t, shingle_k))
            if len(memo) < 10_000:
                memo[t] = s
        return s

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            inter, un = [], []
            for ta, tb in zip(pdf["text_a"], pdf["text_b"]):
                a, b = sset(ta), sset(tb)
                inter.append(len(a & b))
                un.append(len(a | b))
            yield pd.DataFrame(
                {"id_a": pdf["id_a"], "id_b": pdf["id_b"], "inter": inter, "un": un}
            )

    return kernel
