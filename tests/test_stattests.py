"""Numeric kernel tests — no Spark needed.

Golden values from closed forms (t-dist df=1 is Cauchy, df=2 has an
algebraic CDF) and standard t-tables; permutation exact mode checked
against brute-force enumeration.
"""

import math

import numpy as np
import pytest

from mwas_rfam_spark.functions.stattests import (
    betainc_reg,
    permutation_test_mean_diff,
    student_t_sf,
    welch_ttest_from_stats,
)


def test_betainc_closed_forms():
    # I_x(1, 1) = x
    assert betainc_reg(1, 1, 0.3) == pytest.approx(0.3, abs=1e-12)
    # I_x(2, 2) = x^2 (3 - 2x)
    x = 0.7
    assert betainc_reg(2, 2, x) == pytest.approx(x * x * (3 - 2 * x), abs=1e-12)
    # symmetry I_x(a,b) = 1 - I_{1-x}(b,a)
    assert betainc_reg(2.5, 1.5, 0.4) == pytest.approx(
        1 - betainc_reg(1.5, 2.5, 0.6), abs=1e-12
    )


def test_student_t_sf_cauchy():
    # df=1 → Cauchy: sf(t) = 0.5 - arctan(t)/pi
    for t in [-3.0, -1.0, 0.0, 0.5, 1.0, 2.5, 10.0]:
        expect = 0.5 - math.atan(t) / math.pi
        assert student_t_sf(t, 1.0) == pytest.approx(expect, rel=1e-10)


def test_student_t_sf_df2():
    # df=2 → sf(t) = 0.5 * (1 - t / sqrt(2 + t^2))
    for t in [-2.0, 0.0, 1.0, 3.0]:
        expect = 0.5 * (1 - t / math.sqrt(2 + t * t))
        assert student_t_sf(t, 2.0) == pytest.approx(expect, rel=1e-10)


def test_student_t_table_values():
    # classic critical values: P(T > t_crit) = 0.025
    assert student_t_sf(2.228, 10) == pytest.approx(0.025, abs=2e-4)
    assert student_t_sf(2.086, 20) == pytest.approx(0.025, abs=2e-4)
    assert student_t_sf(1.96, 1e6) == pytest.approx(0.025, abs=2e-4)


def test_welch_known_example():
    # textbook Welch example (e.g. Wikipedia "Welch's t-test" example 1-like):
    # verify against an independent implementation of the formulas
    m1, s1, n1 = 20.0, 2.0, 10
    m2, s2, n2 = 22.0, 4.0, 12
    t, df, p = welch_ttest_from_stats(m1, s1, n1, m2, s2, n2)
    vn1, vn2 = s1 * s1 / n1, s2 * s2 / n2
    t_expect = (m1 - m2) / math.sqrt(vn1 + vn2)
    df_expect = (vn1 + vn2) ** 2 / (vn1**2 / (n1 - 1) + vn2**2 / (n2 - 1))
    assert float(t) == pytest.approx(t_expect, rel=1e-12)
    assert float(df) == pytest.approx(df_expect, rel=1e-12)
    assert 0.0 < float(p) < 1.0
    # p must equal 2*sf(|t|, df)
    assert float(p) == pytest.approx(2 * float(student_t_sf(abs(t_expect), df_expect)), rel=1e-10)


def test_welch_identical_groups_p_one():
    t, df, p = welch_ttest_from_stats(5.0, 1.0, 10, 5.0, 1.0, 10)
    assert float(t) == 0.0
    assert float(p) == pytest.approx(1.0, abs=1e-12)


def test_permutation_exact_brute_force():
    x = np.array([1.0, 2.0, 3.0, 10.0])
    y = np.array([1.5, 2.5, 0.5, 1.0])
    stat, p = permutation_test_mean_diff(x, y, n_resamples=10_000)
    # C(8,4)=70 → exact mode; brute-force check
    from itertools import combinations

    pooled = np.concatenate([x, y])
    obs = x.mean() - y.mean()
    null = []
    for comb in combinations(range(8), 4):
        m = np.zeros(8, bool)
        m[list(comb)] = True
        null.append(pooled[m].mean() - pooled[~m].mean())
    null = np.array(null)
    gamma = 1e-14 * max(1, abs(obs), float(np.abs(pooled).max()))
    p_ge = (null >= obs - gamma).sum() / 70
    p_le = (null <= obs + gamma).sum() / 70
    expect = min(1.0, 2 * min(p_ge, p_le))
    assert stat == pytest.approx(obs)
    assert p == pytest.approx(expect, abs=1e-12)


def test_permutation_randomized_seeded_reproducible():
    rng_x = np.random.default_rng(7)
    x = rng_x.normal(0.0, 1.0, 12)
    y = rng_x.normal(3.0, 1.0, 12)  # C(24,12) >> 10k → randomized
    s1, p1 = permutation_test_mean_diff(x, y, 10_000, rng=123)
    s2, p2 = permutation_test_mean_diff(x, y, 10_000, rng=123)
    assert (s1, p1) == (s2, p2)
    # a real shift should be detected
    assert p1 < 0.05


def test_permutation_null_uniformish():
    rng = np.random.default_rng(3)
    x = rng.normal(0, 1, 10)
    y = rng.normal(0, 1, 10)
    _, p = permutation_test_mean_diff(x, y, 5_000, rng=1)
    assert p > 0.05  # same distribution → not significant


def test_welch_df_zero_returns_nan_not_crash():
    """r12 review finding: df computing to exactly 0 (nobs=1 with a
    positive SD on one side) made math.lgamma(0) raise ValueError
    inside the p-value batch; scipy parity is NaN."""
    t, df, p = welch_ttest_from_stats(1.0, 1.0, 1, 0.0, 1.0, 5)
    assert df == 0.0
    assert math.isnan(p)


def test_comb_at_most_exact_and_capped():
    """r12 review finding: exact math.comb on cap-scale groups costs
    seconds per set row; the early-exit partial product is exact below
    the cap and merely 'too big' above it."""
    import math as _m

    from mwas_rfam_spark.functions.stattests import comb_at_most

    for n, k in [(10, 3), (22, 11), (5, 0), (5, 5), (7, 9)]:
        want = _m.comb(n, k) if k <= n else 0
        assert comb_at_most(n, k, 10_000) == min(want, 10_001) or want <= 10_000
        if want <= 10_000:
            assert comb_at_most(n, k, 10_000) == want
    assert comb_at_most(1_000_000, 500_000, 10_000) == 10_001  # instant


def test_permutation_kernels_validate_cohorts():
    """r12 review finding: n_x=0 crashed in an obscure reshape and
    n_x=n silently returned p=0.0 (maximally significant)."""
    from mwas_rfam_spark.functions.stattests import (
        grouped_permutation_mean_diff,
        permutation_test_mean_diff,
    )

    pooled = np.array([1.0, 2.0, 3.0, 4.0])
    with pytest.raises(ValueError, match="0 < n_x < n"):
        grouped_permutation_mean_diff(pooled, [0], [0.0], 100, 0)
    with pytest.raises(ValueError, match="0 < n_x < n"):
        grouped_permutation_mean_diff(pooled, [4], [0.0], 100, 0)
    with pytest.raises(ValueError, match="non-empty"):
        permutation_test_mean_diff([], [1.0, 2.0])


def test_permutation_kernels_refuse_non_finite_inputs():
    """r13 review finding (same class as the r12 n_x=n hole): a NaN in
    pooled values or a NaN observed made every >=/<= tie comparison
    False, so both permutation paths silently returned p=0.0 — maximally
    SIGNIFICANT — instead of failing loud. One NaN rpm in a group would
    have flooded that (bioproject, group) with false hits."""
    from mwas_rfam_spark.functions.stattests import (
        grouped_permutation_mean_diff,
        permutation_test_mean_diff,
    )

    ok = np.array([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0])
    with pytest.raises(ValueError, match="finite"):
        grouped_permutation_mean_diff(
            np.append(ok, np.nan), [3], [0.5], 100, 0
        )
    with pytest.raises(ValueError, match="finite"):
        grouped_permutation_mean_diff(
            np.append(ok, np.inf), [3], [0.5], 100, 0
        )
    with pytest.raises(ValueError, match="finite"):
        grouped_permutation_mean_diff(ok, [3], [np.nan], 100, 0)
    with pytest.raises(ValueError, match="finite"):
        permutation_test_mean_diff([1.0, np.nan, 2.0], [3.0, 4.0, 5.0])
    with pytest.raises(ValueError, match="finite"):
        permutation_test_mean_diff([1.0, 2.0], [3.0, np.inf])
    # the randomized path validates too (large n forces it)
    big = np.arange(60, dtype=np.float64)
    with pytest.raises(ValueError, match="finite"):
        grouped_permutation_mean_diff(
            np.append(big, np.nan), [20], [0.1], 50, 0
        )


# --- the one-pass per-group test kernel (operators.mwas) --------------------
# The kernel is called exactly as cogroup(...).applyInArrow calls it: key
# scalars, the group's tested rows on the left, its pooled values (one row
# or none) on the right.


def _kernel_left(rows, bp="P1", group="g1"):
    """rows: (set_id, n_true, n_false, is_t, stat, welch_df)."""
    import pyarrow as pa

    cols = list(zip(*rows))
    return pa.table(
        {
            "bio_project": pa.array([bp] * len(rows), pa.string()),
            "group": pa.array([group] * len(rows), pa.string()),
            "set_id": pa.array(cols[0], pa.string()),
            "n_true": pa.array(cols[1], pa.int64()),
            "n_false": pa.array(cols[2], pa.int64()),
            "is_t": pa.array(cols[3], pa.bool_()),
            "stat": pa.array(cols[4], pa.float64()),
            "welch_df": pa.array(cols[5], pa.float64()),
        }
    )


def _kernel_right(obs=None, bp="P1", group="g1"):
    import pyarrow as pa

    vals = [] if obs is None else [list(obs)]
    return pa.table(
        {
            "__gv_bp": pa.array([bp] * len(vals), pa.string()),
            "__gv_g": pa.array([group] * len(vals), pa.string()),
            "obs_rpm": pa.array(vals, pa.list_(pa.float64())),
        }
    )


def _run_kernel(left, right, n_resamples=200, seed=7, bp="P1", group="g1"):
    import pyarrow as pa

    from mwas_rfam_spark.operators.mwas import _make_grouped_test_fn

    kernel = _make_grouped_test_fn(n_resamples, seed)
    return kernel((pa.scalar(bp), pa.scalar(group)), left, right).to_pydict()


def test_kernel_t_only_group_gets_welch_p():
    """A group whose rows all take the t-test, with no pooled vector:
    every row's p is welch_ttest_from_stats' p for that row's stats."""
    stats = [(5.0, 1.5, 4, 3.0, 2.0, 9), (1.0, 0.5, 3, 1.2, 0.1, 10), (2.0, 3.0, 6, 9.0, 1.0, 7)]
    rows = []
    for i, (m1, s1, n1, m2, s2, n2) in enumerate(stats):
        t, df, _ = welch_ttest_from_stats(m1, s1, n1, m2, s2, n2)
        rows.append((f"s{i}", n1, n2, True, float(t), float(df)))
    out = _run_kernel(_kernel_left(rows), _kernel_right())
    assert out["set_id"] == ["s0", "s1", "s2"]
    for i, (m1, s1, n1, m2, s2, n2) in enumerate(stats):
        t, _, p = welch_ttest_from_stats(m1, s1, n1, m2, s2, n2)
        assert out["stat"][i] == float(t)
        assert out["p"][i] == pytest.approx(float(p), rel=1e-12, abs=0)
    assert out["kernel_seconds"] == [0.0, 0.0, 0.0]
    assert out["kernel_bytes"] == [0, 0, 0]


def test_kernel_perm_rows_without_pooled_side_yield_no_row():
    """Permutation rows with an empty pooled side get no kernel row, so
    their p stays NULL after the join back; t-test rows of the same
    group still get theirs."""
    perm_only = [("s0", 6, 20, False, 0.4, 1.0), ("s1", 8, 18, False, -0.2, 1.0)]
    out = _run_kernel(_kernel_left(perm_only), _kernel_right())
    assert out["set_id"] == []

    t, df, p = welch_ttest_from_stats(5.0, 1.0, 4, 3.0, 2.0, 22)
    mixed = perm_only + [("s2", 4, 22, True, float(t), float(df))]
    out = _run_kernel(_kernel_left(mixed), _kernel_right())
    assert out["set_id"] == ["s2"]
    assert out["p"][0] == pytest.approx(float(p), rel=1e-12, abs=0)


def test_kernel_mixed_group_perm_p_matches_grouped_kernel():
    """In a mixed group the permutation p-values are exactly
    grouped_permutation_mean_diff over the same pooled vector (observed
    values zero-padded to n_true + n_false, sorted) with the documented
    per-group seed: sha256("bp|group")[:15] XOR base seed."""
    import hashlib

    from mwas_rfam_spark.functions.stattests import grouped_permutation_mean_diff

    rng = np.random.default_rng(3)
    obs = rng.gamma(2.0, 5.0, size=18)
    n = 30
    t, df, p_t = welch_ttest_from_stats(4.0, 1.0, 3, 2.0, 1.5, n - 3)
    rows = [
        ("a", 10, n - 10, False, 1.25, 1.0),
        ("b", 3, n - 3, True, float(t), float(df)),
        ("c", 12, n - 12, False, -0.75, 1.0),
        ("d", 10, n - 10, False, 2.5, 1.0),
    ]
    out = _run_kernel(_kernel_left(rows), _kernel_right(obs), n_resamples=500, seed=11)
    assert out["set_id"] == ["a", "b", "c", "d"]

    seed_hex = hashlib.sha256(b"P1|g1").hexdigest()[:15]
    seed = (int(seed_hex, 16) ^ 11) & 0x7FFFFFFFFFFFFFFF
    pooled = np.sort(np.concatenate([obs, np.zeros(n - obs.size)]))
    want = grouped_permutation_mean_diff(
        pooled, [10, 12, 10], [1.25, -0.75, 2.5], 500, np.random.default_rng(seed)
    )
    assert [out["p"][i] for i in (0, 2, 3)] == list(want)
    assert out["p"][1] == pytest.approx(float(p_t), rel=1e-12, abs=0)
    assert out["stat"] == [1.25, float(t), -0.75, 2.5]
    # telemetry only on the permutation rows
    assert out["kernel_bytes"][1] == 0 and out["kernel_seconds"][1] == 0.0
    assert all(out["kernel_bytes"][i] > 0 for i in (0, 2, 3))


def test_kernel_nan_t_gives_nan_p():
    """Both SDs 0 with equal means: t = 0/0 = NaN (df 1) and p = NaN,
    as scipy gives — not NULL."""
    t, df, p = welch_ttest_from_stats(2.0, 0.0, 3, 2.0, 0.0, 4)
    assert math.isnan(t) and math.isnan(p)
    out = _run_kernel(_kernel_left([("s0", 3, 4, True, float(t), float(df))]), _kernel_right())
    assert math.isnan(out["stat"][0])
    assert out["p"][0] is not None and math.isnan(out["p"][0])
