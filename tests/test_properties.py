"""Property-based tests (hypothesis) for the pure-numpy statistical
kernels — no Spark session needed, so these run in milliseconds and
explore the input space the fixed fixtures can't."""

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from mwas_rfam_spark.functions.stattests import (
    grouped_permutation_mean_diff,
    permutation_test_mean_diff,
    student_t_sf,
    welch_ttest_from_stats,
)

finite = st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False)


@given(st.floats(0.0, 50.0), st.floats(1.0, 200.0))
@settings(max_examples=200, deadline=None)
def test_t_sf_bounds_and_symmetry(t, df):
    sf = float(student_t_sf(t, df))
    assert 0.0 <= sf <= 0.5 + 1e-12
    assert float(student_t_sf(-t, df)) == (1.0 - sf) or t == 0.0


@given(st.floats(1.0, 200.0))
@settings(max_examples=50, deadline=None)
def test_t_sf_at_zero_is_half(df):
    assert abs(float(student_t_sf(0.0, df)) - 0.5) < 1e-12


@given(st.floats(0.1, 20.0), st.floats(2.0, 100.0))
@settings(max_examples=100, deadline=None)
def test_t_sf_monotone_in_t(t, df):
    assert float(student_t_sf(t + 0.5, df)) <= float(student_t_sf(t, df)) + 1e-12


@given(
    st.lists(finite, min_size=2, max_size=8),
    st.lists(finite, min_size=2, max_size=8),
)
@settings(max_examples=100, deadline=None)
def test_permutation_p_valid_and_exact_for_small(x, y):
    x, y = np.asarray(x), np.asarray(y)
    stat, p = permutation_test_mean_diff(x, y, n_resamples=20_000, rng=1)
    assert 0.0 < p <= 1.0
    assert stat == float(np.mean(x) - np.mean(y))
    # n <= 16 → C(n, k) <= 12870 <= 20000: the exact path consumes no
    # randomness, so the seed must not matter. (A REORDERED x can shift p:
    # np.mean is summation-order sensitive at the last ulp and the
    # observed value can sit exactly on null ties — same as scipy.)
    stat2, p2 = permutation_test_mean_diff(x, y, n_resamples=20_000, rng=999)
    assert p2 == p and stat2 == stat


@given(
    st.lists(finite, min_size=30, max_size=40),
    st.integers(4, 15),
    st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_grouped_matches_rowwise(pool, n_x, seed):
    """The shared-null kernel must be row-order independent: evaluating a
    row alone reproduces its p from any batched evaluation."""
    pooled = np.sort(np.asarray(pool))
    n_xs = [n_x, min(n_x + 3, len(pool) - 2), n_x]
    obs = [0.5, -0.3, 0.5]
    batched = grouped_permutation_mean_diff(
        pooled, n_xs, obs, 500, np.random.default_rng(seed)
    )
    for i in range(len(n_xs)):
        alone = grouped_permutation_mean_diff(
            pooled, [n_xs[i]], [obs[i]], 500, np.random.default_rng(seed)
        )
        assert alone[0] == batched[i]


@given(
    st.floats(-100.0, 100.0), st.floats(0.1, 50.0), st.integers(2, 500),
    st.floats(-100.0, 100.0), st.floats(0.1, 50.0), st.integers(2, 500),
)
@settings(max_examples=200, deadline=None)
def test_welch_p_valid(m1, s1, n1, m2, s2, n2):
    t, df, p = welch_ttest_from_stats(m1, s1, n1, m2, s2, n2)
    assert 0.0 <= float(p) <= 1.0
    assert float(df) >= 1.0 or math.isnan(float(df))
    # symmetry: swapping sides flips the statistic, keeps p
    t2, _, p2 = welch_ttest_from_stats(m2, s2, n2, m1, s1, n1)
    assert abs(float(t) + float(t2)) < 1e-9 * max(1.0, abs(float(t)))
    assert abs(float(p) - float(p2)) < 1e-12


# ---- round-5 kernels: codec / tokenizer / chunking invariants ----


@given(
    st.integers(1, 12),
    st.integers(1, 10),
    st.integers(1, 3),
    st.integers(2, 8),
    st.randoms(use_true_random=False),
)
@settings(max_examples=40, deadline=None)
def test_gif_roundtrip_property(w, h, n_frames, n_colors, rnd):
    """encode → decode is the identity on palette-index frames for any
    dims / frame count / palette size in range."""
    from mwas_rfam_spark.functions.gif_codec import decode_gif, encode_gif

    pal = [(rnd.randrange(256), rnd.randrange(256), rnd.randrange(256))
           for _ in range(n_colors)]
    frames = [
        bytes(rnd.randrange(n_colors) for _ in range(w * h)) for _ in range(n_frames)
    ]
    data = encode_gif(w, h, frames, pal)
    gw, gh, out = decode_gif(data)
    assert (gw, gh) == (w, h) and len(out) == n_frames
    assert out == [b"".join(bytes(pal[i]) for i in fr) for fr in frames]


@given(st.text(alphabet="abcdef \n\t", max_size=120), st.integers(0, 40))
@settings(max_examples=80, deadline=None)
def test_bpe_encode_decode_inverse_property(text, n_merges):
    """decode(encode(text)) == whitespace-normalized lowercase text for
    ANY merge table trained on ANY corpus (here: the text itself)."""
    from mwas_rfam_spark.functions.bpe import (
        decode_tokens,
        encode_text,
        ranks_from_merges,
        train_bpe,
        word_frequencies,
    )

    merges = train_bpe(word_frequencies([text]), n_merges)
    toks = encode_text(text, ranks_from_merges(merges))
    assert decode_tokens(toks) == " ".join(text.lower().split())


@given(st.binary(max_size=4000), st.sampled_from([64, 256, 1024]))
@settings(max_examples=60, deadline=None)
def test_cdc_reassembly_and_bounds_property(payload, avg):
    """Chunks always reassemble the payload exactly; every chunk except
    the tail respects [min, max]; the vectorized gear hash equals the
    sequential recurrence on arbitrary bytes."""
    from mwas_rfam_spark.functions.cdc import chunk_payload, gear_hashes
    from reference_specs import gear_hashes_reference

    chunks = chunk_payload(payload, avg_size=avg)
    assert b"".join(payload[o : o + ln] for o, ln, _ in chunks) == payload
    sizes = [ln for _o, ln, _s in chunks]
    for s in sizes[:-1]:
        assert avg // 4 <= s <= avg * 4
    if sizes:
        assert sizes[-1] <= avg * 4
    assert gear_hashes(payload).tolist() == gear_hashes_reference(payload)


@given(
    st.integers(1, 40),
    st.integers(1, 40),
    st.sampled_from([1, 3]),
    st.sampled_from(["444", "420"]),
    st.integers(0, 3),
    st.randoms(use_true_random=False),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_roundtrip_property(w, h, channels, sub, ri, rnd):
    """Baseline JPEG round-trip on random SMOOTH images (constant +
    small jitter — JPEG's own domain): dims/channels exact, per-pixel
    error bounded; the stream always declares itself a JPEG."""
    import numpy as np

    from mwas_rfam_spark.functions.jpeg_codec import decode_jpeg, encode_jpeg, is_jpeg

    base = rnd.randrange(30, 226)
    rng = np.random.default_rng(rnd.randrange(1 << 30))
    img = np.clip(
        base + rng.integers(-8, 9, (h, w, channels)), 0, 255
    ).astype(np.uint8)
    data = encode_jpeg(
        w, h, channels, img.tobytes(), quality=92, subsampling=sub, restart_interval=ri
    )
    assert is_jpeg(data)
    gw, gh, gc, px = decode_jpeg(data)
    assert (gw, gh, gc) == (w, h, channels)
    got = np.frombuffer(px, dtype=np.uint8).reshape(h, w, channels).astype(int)
    assert np.abs(got - img.astype(int)).max() <= 32  # lossy, bounded


@given(
    st.integers(1, 40),
    st.integers(1, 40),
    st.sampled_from([1, 3]),
    st.sampled_from(["444", "420"]),
    st.integers(30, 95),
    st.randoms(use_true_random=False),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_progressive_equals_baseline_property(w, h, channels, sub, q, rnd):
    """Progressive (SOF2) and baseline (SOF0) encodes of the SAME
    pixels quantize to the same coefficients, so their decodes must be
    BIT-IDENTICAL — on arbitrary random images (not just JPEG's smooth
    domain: identity of the coefficient path needs no smoothness)."""
    import numpy as np

    from mwas_rfam_spark.functions.jpeg_codec import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(rnd.randrange(1 << 30))
    img = rng.integers(0, 256, (h, w, channels)).astype(np.uint8)
    base = encode_jpeg(w, h, channels, img.tobytes(), quality=q, subsampling=sub)
    prog = encode_jpeg(
        w, h, channels, img.tobytes(), quality=q, subsampling=sub, progressive=True
    )
    assert decode_jpeg(prog) == decode_jpeg(base)


@settings(max_examples=20, deadline=None)
@given(
    w=st.integers(8, 32),
    h=st.integers(8, 24),
    q=st.sampled_from([50, 90]),
    rnd=st.randoms(use_true_random=False),
)
def test_jpeg_multiscan_equals_interleaved_property(w, h, q, rnd):
    """r13 property pin for the restructured baseline path: a color
    4:4:4 stream delivered as THREE non-interleaved scans (one SOS per
    component, rendered at EOI) decodes bit-identically to the same
    coefficients delivered as one interleaved scan. Built by
    re-packaging the entropy data of an encode_jpeg stream is not
    possible (bit-packed), so both streams are synthesized from the
    same per-component DC/AC blocks."""
    import struct as _s

    import numpy as np

    from mwas_rfam_spark.functions import jpeg_codec as J
    from mwas_rfam_spark.functions.jpeg_codec import decode_jpeg

    rng = np.random.default_rng(rnd.randrange(2**31))
    bw, bh = -(-w // 8), -(-h // 8)
    n_blocks = bw * bh
    # sparse random coefficient blocks per component, DC in a safe range
    comps = {}
    for cid in (1, 2, 3):
        blocks = []
        for _ in range(n_blocks):
            blk = np.zeros(64, dtype=np.int64)
            blk[0] = int(rng.integers(-200, 200))
            for k in rng.choice(np.arange(1, 64), size=4, replace=False):
                blk[k] = int(rng.integers(-30, 30))
            blocks.append(blk)
        comps[cid] = blocks

    def seg(marker, payload):
        return _s.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    head = bytearray(b"\xff\xd8")
    head += seg(0xDB, b"\x00" + bytes([max(1, q // 10)] * 64))
    head += seg(0xC4, bytes([0x00]) + bytes(J._DC_BITS) + bytes(J._DC_SYMS))
    head += seg(0xC4, bytes([0x10]) + bytes(J._AC_BITS) + bytes(sorted(J._AC_SYMS)))
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([3])
    for cid in (1, 2, 3):
        sof += bytes([cid, 0x11, 0])
    head += seg(0xC0, sof)

    inter = bytearray(head)
    inter += seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    wtr = J._BitWriter()
    preds = {1: 0, 2: 0, 3: 0}
    for n in range(n_blocks):  # MCU order at 1x1 sampling = block raster
        for cid in (1, 2, 3):
            preds[cid] = J._encode_block(wtr, comps[cid][n], preds[cid])
    inter += wtr.flush() + b"\xff\xd9"

    multi = bytearray(head)
    for cid in (1, 2, 3):
        multi += seg(0xDA, bytes([1, cid, 0x00, 0, 63, 0]))
        wtr = J._BitWriter()
        pred = 0
        for n in range(n_blocks):
            pred = J._encode_block(wtr, comps[cid][n], pred)
        multi += wtr.flush()
    multi += b"\xff\xd9"

    assert decode_jpeg(bytes(multi)) == decode_jpeg(bytes(inter))
