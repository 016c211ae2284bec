"""Content-defined chunking kernel (gear rolling hash, FastCDC-style).

Why content-defined: fixed-size blocks lose all alignment after a
single inserted byte; a gear-hash boundary depends only on the last 64
bytes of content, so identical sub-sequences produce identical chunks
wherever they sit. That is what makes chunk-level dedup of BINARY
payloads (images, audio, archives — the multimodal family's media)
robust to prepended headers and edits.

Math: the gear recurrence h_t = (2·h_{t-1} + gear[b_t]) mod 2^64
telescopes to h_t = Σ_{k=0..63} gear[b_{t-k}] << k (mod 2^64) — terms
shifted ≥ 64 vanish — so the whole hash sequence is 64 shifted
vectorized adds in numpy (exactly equal to the sequential form, which
the tests assert). Boundary = hash & mask == 0, with min/max chunk
bounds applied greedily in candidate order (FastCDC's simplification
without the normalized two-mask refinement).

References: Xia et al., "FastCDC" (USENIX ATC 2016); the gear hash is
from Xia et al., "Ddelta" (Performance Evaluation 2014). Both public.
"""

from __future__ import annotations

import hashlib

_GEAR_CACHE: dict[int, "object"] = {}


def _gear_table(seed: int):
    """256 deterministic 64-bit gear values derived from sha256(seed,i)
    — engine-independent, no RNG state."""
    import numpy as np

    if seed not in _GEAR_CACHE:
        vals = [
            int.from_bytes(
                hashlib.sha256(f"cdc:{seed}:{i}".encode()).digest()[:8], "big"
            )
            for i in range(256)
        ]
        _GEAR_CACHE[seed] = np.asarray(vals, dtype=np.uint64)
    return _GEAR_CACHE[seed]


def gear_hashes(payload: bytes, seed: int = 0):
    """uint64 gear hash at every byte position (vectorized)."""
    import numpy as np

    g = _gear_table(seed)[np.frombuffer(payload, dtype=np.uint8)]
    h = np.zeros(len(payload), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for k in range(min(64, len(payload))):
            # gear[b_{t-k}] << k, aligned so index t reads b_{t-k}
            h[k:] += g[: len(payload) - k] << np.uint64(k)
    return h


def chunk_boundaries(
    payload: bytes,
    avg_size: int = 1024,
    min_size: int | None = None,
    max_size: int | None = None,
    seed: int = 0,
) -> list[int]:
    """End offsets (exclusive) of content-defined chunks covering the
    payload. ``avg_size`` must be a power of two (the boundary tests
    the top log2(avg_size) hash bits); min/max default to avg/4 and
    avg*4. Size calibration note (r12): candidates closer than
    min_size are SKIPPED, not re-drawn, so the realized mean chunk
    size is ~min_size + avg_size (measured 1275 at avg 1024 on random
    data) — size avg_size accordingly when targeting a chunk count."""
    if avg_size < 64 or avg_size & (avg_size - 1):
        raise ValueError(f"avg_size must be a power of two >= 64, got {avg_size}")
    min_size = avg_size // 4 if min_size is None else min_size
    max_size = avg_size * 4 if max_size is None else max_size
    if not 1 <= min_size <= avg_size <= max_size:
        raise ValueError(
            f"need 1 <= min_size({min_size}) <= avg_size({avg_size}) <= max_size({max_size})"
        )
    n = len(payload)
    if n == 0:
        return []
    import numpy as np

    # boundary = the TOP log2(avg_size) bits all zero. Gear's k-th bit
    # is a function of only the last k+1 bytes, so the former LOW-bit
    # mask made the whole predicate depend on just log2(avg_size)
    # trailing bytes — structured payloads with fixed record suffixes
    # (zero padding, PCM silence, constant trailers) degenerated to
    # all-min or all-max chunks regardless of the 50+ preceding bytes
    # (r12 review finding, reproduced; Ddelta/FastCDC mask high bits
    # for exactly this reason — bits 64-m..63 each see >= 64-m trailing
    # bytes of context). Same 2^-m boundary probability, so the size
    # distribution target is unchanged. NOTE: this changes boundary
    # POSITIONS (chunk sha identities) relative to pre-r12 outputs —
    # chunk relations are derived per run, nothing persists them.
    m = int(avg_size).bit_length() - 1
    shift = np.uint64(64 - m)
    h = gear_hashes(payload, seed)
    candidates = np.nonzero((h >> shift) == 0)[0]

    cuts: list[int] = []
    last = 0
    n_cand = len(candidates)
    while True:
        # first candidate whose chunk would be >= min_size (a candidate
        # at byte t ends a chunk at t+1)
        ci = int(np.searchsorted(candidates, last + min_size - 1, side="left"))
        if ci < n_cand and int(candidates[ci]) + 1 - last <= max_size:
            cut = int(candidates[ci]) + 1
        elif n - last > max_size:
            cut = last + max_size
        else:
            break
        cuts.append(cut)
        last = cut
    if last < n:
        cuts.append(n)
    return cuts


def chunk_payload(
    payload: bytes,
    avg_size: int = 1024,
    min_size: int | None = None,
    max_size: int | None = None,
    seed: int = 0,
) -> list[tuple[int, int, str]]:
    """(offset, length, sha256-hex) per content-defined chunk."""
    out = []
    start = 0
    mv = memoryview(payload)  # zero-copy slices on the hot path (r12)
    for end in chunk_boundaries(payload, avg_size, min_size, max_size, seed):
        out.append((start, end - start, hashlib.sha256(mv[start:end]).hexdigest()))
        start = end
    return out
