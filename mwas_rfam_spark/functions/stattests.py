"""Pure-numpy statistical test kernels (no scipy in the runtime).

Replicates the two tests the reference calls (main/mwas_general.py:404-423):

* Welch's t-test from summary stats — the closed-form identical to
  ``scipy.stats.ttest_ind_from_stats(equal_var=False)``. The t-distribution
  survival function is computed with the regularized incomplete beta
  function via Lentz's continued fraction (standard published algorithm,
  Numerical Recipes §6.4 / DLMF 8.17).
* A two-sided independent-sample permutation test with mean-difference
  statistic — mirroring ``scipy.stats.permutation_test`` semantics
  (main/mwas_general.py:413-419): randomized with ``n_resamples`` draws and
  the +1/+1 p-value correction, automatically switching to the exact
  (complete enumeration) null when C(n, k) <= n_resamples. Unlike the
  reference (unseeded), ours is seeded per test key for reproducibility
  (SURVEY.md §5 determinism note). ONE body:
  ``grouped_permutation_mean_diff`` tests every cohort of a pooled
  vector at once; ``permutation_test_mean_diff`` is its one-cohort call.

Everything is vectorized numpy; on executors the kernels run inside the
MWAS stage's one ``applyInArrow`` kernel
(``operators.mwas._make_grouped_test_fn``).
"""

from __future__ import annotations

import math
from itertools import combinations

import numpy as np

__all__ = [
    "betainc_reg",
    "student_t_sf",
    "welch_ttest_from_stats",
    "permutation_test_mean_diff",
    "grouped_permutation_mean_diff",
    "mean_diff_statistic",
    "perm_chunk_rows",
    "comb_at_most",
]

_MAX_CF_ITER = 300
_CF_EPS = 3.0e-15
_TINY = 1.0e-300


def _betacf(a, b, x):
    """Continued fraction for the incomplete beta function (Lentz's method).

    Vectorized over numpy arrays; standard algorithm per Numerical Recipes
    §6.4 (public domain formulation of DLMF 8.17.22).
    """
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    x = np.asarray(x, dtype=np.float64)
    qab = a + b
    qap = a + 1.0
    qam = a - 1.0
    c = np.ones_like(x)
    d = 1.0 - qab * x / qap
    d = np.where(np.abs(d) < _TINY, _TINY, d)
    d = 1.0 / d
    h = d.copy()
    for m in range(1, _MAX_CF_ITER + 1):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        d = np.where(np.abs(d) < _TINY, _TINY, d)
        c = 1.0 + aa / c
        c = np.where(np.abs(c) < _TINY, _TINY, c)
        d = 1.0 / d
        h = h * d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        d = np.where(np.abs(d) < _TINY, _TINY, d)
        c = 1.0 + aa / c
        c = np.where(np.abs(c) < _TINY, _TINY, c)
        d = 1.0 / d
        delta = d * c
        h = h * delta
        if np.all(np.abs(delta - 1.0) < _CF_EPS):
            break
    return h


# hoisted: np.vectorize is a Python-loop wrapper whose construction was
# paid three times per betainc_reg call on the Arrow-batched t-test hot
# path (r12 review finding)
_lgamma = np.vectorize(math.lgamma)


def betainc_reg(a, b, x):
    """Regularized incomplete beta function I_x(a, b), vectorized.
    Out-of-domain parameters (a <= 0 or b <= 0) yield NaN — scipy
    parity (r12 review finding: math.lgamma(0) raised ValueError, so a
    df=0 Welch row crashed the whole batch instead of reporting NaN)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    x = np.asarray(x, dtype=np.float64)
    x = np.clip(x, 0.0, 1.0)
    bad = (a <= 0) | (b <= 0) | np.isnan(a) | np.isnan(b)
    a = np.where(bad, 1.0, a)
    b = np.where(bad, 1.0, b)
    with np.errstate(divide="ignore", invalid="ignore"):
        ln_front = (
            -_lgamma(a)
            - _lgamma(b)
            + _lgamma(a + b)
            + a * np.log(np.where(x > 0, x, 1.0))
            + b * np.log1p(np.where(x < 1, -x, 0.0))
        )
        front = np.exp(ln_front)
    # use the CF directly where it converges fast (x < (a+1)/(a+b+2)),
    # else the symmetry I_x(a,b) = 1 - I_{1-x}(b,a)
    use_direct = x < (a + 1.0) / (a + b + 2.0)
    direct = front * _betacf(a, b, x) / np.where(a == 0, 1.0, a)
    mirrored = 1.0 - front * _betacf(b, a, 1.0 - x) / np.where(b == 0, 1.0, b)
    out = np.where(use_direct, direct, mirrored)
    out = np.where(x <= 0.0, 0.0, out)
    out = np.where(x >= 1.0, 1.0, out)
    return np.where(bad, np.nan, np.clip(out, 0.0, 1.0))


def student_t_sf(t, df):
    """P(T > t) for Student's t with ``df`` degrees of freedom, vectorized.

    sf(t) = I_{df/(df+t^2)}(df/2, 1/2) / 2 for t >= 0; symmetric otherwise.
    """
    t = np.asarray(t, dtype=np.float64)
    df = np.asarray(df, dtype=np.float64)
    x = df / (df + t * t)
    tail = 0.5 * betainc_reg(df / 2.0, 0.5, x)
    sf = np.where(t >= 0, tail, 1.0 - tail)
    return np.where(np.isnan(t) | np.isnan(df), np.nan, sf)


def welch_ttest_from_stats(mean1, std1, nobs1, mean2, std2, nobs2):
    """Welch's unequal-variance t-test from summary statistics.

    Identical formulas to ``scipy.stats.ttest_ind_from_stats(equal_var=
    False)``. NOTE: the reference feeds population SDs (np.nanstd ddof=0,
    main/mwas_general.py:382-385) into a function documented for ddof=1
    SDs; we replicate the formulas verbatim so callers reproduce the
    reference's numbers exactly with whichever SD they pass.

    Returns (t_statistic, df, two_sided_p) as float64 arrays.
    """
    m1 = np.asarray(mean1, dtype=np.float64)
    s1 = np.asarray(std1, dtype=np.float64)
    n1 = np.asarray(nobs1, dtype=np.float64)
    m2 = np.asarray(mean2, dtype=np.float64)
    s2 = np.asarray(std2, dtype=np.float64)
    n2 = np.asarray(nobs2, dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        vn1 = s1 * s1 / n1
        vn2 = s2 * s2 / n2
        denom = np.sqrt(vn1 + vn2)
        t = (m1 - m2) / denom
        df = (vn1 + vn2) ** 2 / (vn1 * vn1 / (n1 - 1.0) + vn2 * vn2 / (n2 - 1.0))
        # scipy: if both variances are 0 the df expression is 0/0 → df=1
        df = np.where(np.isnan(df), 1.0, df)
        p = 2.0 * student_t_sf(np.abs(t), df)
    return t, df, p


def perm_chunk_rows(n_resamples: int, n: int) -> int:
    """Rows per permutation buffer: ≤ ~32 MB per task regardless of
    group size (SCALE.md 'Statistical kernel memory bound'). THE chunk
    rule — the kernels below and the per-test telemetry in
    operators/mwas.py must agree on it (it was copy-pasted three times;
    a strategy change would have silently staled the telemetry — r11
    review finding)."""
    return max(1, min(n_resamples, 4_000_000 // max(n, 1)))


def comb_at_most(n: int, k: int, cap: int) -> int:
    """Early-exit binomial: the exact C(n, k) when it is <= cap, else
    any value > cap. The running product after i steps is C(n-k+i, i),
    non-decreasing toward C(n, k), so the first partial above cap
    proves the total is too. math.comb at cap-scale groups is a
    multi-megabit integer costing seconds PER SET ROW just to learn
    the answer dwarfs n_resamples (r12 review finding, measured 8.8 s
    at n=1M)."""
    k = min(k, n - k)
    if k < 0:
        return 0
    c = 1
    for i in range(1, k + 1):
        c = c * (n - k + i) // i
        if c > cap:
            return cap + 1
    return c


def mean_diff_statistic(x, y):
    """mean(x) - mean(y) — reference main/mwas_general.py:339-341."""
    return float(np.mean(x) - np.mean(y))


def _exact_null_mean_diff(pooled: np.ndarray, n_x: int) -> np.ndarray:
    """Complete enumeration of mean(x') - mean(y') over all C(n, n_x) splits."""
    n = pooled.shape[0]
    total = pooled.sum()
    idx = np.fromiter(
        (i for comb in combinations(range(n), n_x) for i in comb),
        dtype=np.int64,
    ).reshape(-1, n_x)
    sum_x = pooled[idx].sum(axis=1)
    mean_x = sum_x / n_x
    mean_y = (total - sum_x) / (n - n_x)
    return mean_x - mean_y


def grouped_permutation_mean_diff(
    pooled,
    n_xs,
    observeds,
    n_resamples: int = 10_000,
    rng: np.random.Generator | int | None = None,
):
    """Permutation p-values for MANY tests sharing one pooled vector.

    In MWAS every metadata set within a (bioproject, group) splits the
    SAME pooled value vector — only the cohort size ``n_x`` and the
    observed statistic differ. One shared permutation matrix therefore
    serves every test: a row-permutation's prefix of length n_x is a
    uniform random size-n_x subset, so the prefix-cumsum gives the null
    sum for EVERY cohort size at once. Cost drops from
    O(tests × resamples × n) to O(resamples × n + tests × resamples).

    Properties relied on by callers/tests:
    * Row-order independent: the permutation stream depends only on
      ``pooled`` as passed (the kernel does not sort it, so callers pass
      a canonical order — both callers pass it sorted), n_resamples and
      the rng seed — never on which rows are evaluated.
      Evaluating one row alone reproduces its batched p exactly.
      (Caveat, r12 review: the segmented reduceat groups sums at the
      DISTINCT cohort sizes present, so float summation ORDER can
      differ by ulps between alone and batched; a null value within
      1 ulp of the tie-band edge could then flip one count. Not
      observed in 4000 randomized trials — measure-rare — but the
      equality is exact-by-construction only when the evaluated rows'
      cohort-size set is unchanged.)
    * Exact-enumeration switch per row (C(n, n_x) <= n_resamples), null
      memoized per distinct n_x.

    Returns a float64 array of two-sided p-values aligned with the input
    rows.
    """
    pooled = np.asarray(pooled, dtype=np.float64)
    observeds = np.asarray(observeds, dtype=np.float64)
    # fail-loud on non-finite inputs (r13 review finding): a single NaN
    # in pooled (or a NaN observed) makes every >=/<= tie comparison
    # False, so both paths silently returned p=0.0 — maximally
    # SIGNIFICANT — for the whole group instead of an error. Same
    # failure class as the n_x=n silent p=0.0 the r12 review closed.
    if not np.isfinite(pooled).all():
        raise ValueError(
            "pooled values must be finite (a NaN/inf would silently "
            "bias every tie count toward p=0)"
        )
    if not np.isfinite(observeds).all():
        raise ValueError("observed statistics must be finite")
    n = pooled.shape[0]
    total = pooled.sum()
    # tie tolerance scale: |obs| alone fails under catastrophic
    # cancellation (huge near-equal values -> tiny obs, but subset-sum
    # noise scales with the VALUES); include the pooled magnitude
    absmax = float(np.max(np.abs(pooled))) if n else 0.0
    m = len(n_xs)
    out = np.empty(m, dtype=np.float64)

    exact_cache: dict[int, np.ndarray] = {}
    random_rows = []
    for i in range(m):
        n_x = int(n_xs[i])
        if not 0 < n_x < n:
            # n_x=0 crashed in an obscure reshape; n_x=n silently
            # returned p=0.0 through NaN comparisons (r12 review
            # finding) — both cohorts must be non-empty for the
            # statistic to exist
            raise ValueError(
                f"cohort size must satisfy 0 < n_x < n, got n_x={n_x} n={n}"
            )
        if comb_at_most(n, n_x, n_resamples) <= n_resamples:
            if n_x not in exact_cache:
                exact_cache[n_x] = _exact_null_mean_diff(pooled, n_x)
            null = exact_cache[n_x]
            obs = float(observeds[i])
            gamma = 1e-14 * max(1.0, abs(obs), absmax)
            p_ge = np.count_nonzero(null >= obs - gamma) / null.shape[0]
            p_le = np.count_nonzero(null <= obs + gamma) / null.shape[0]
            out[i] = min(1.0, 2.0 * min(p_ge, p_le))
        else:
            random_rows.append(i)

    if random_rows:
        if not isinstance(rng, np.random.Generator):
            rng = np.random.default_rng(rng)
        ge = np.zeros(len(random_rows), dtype=np.int64)
        le = np.zeros(len(random_rows), dtype=np.int64)
        # memory-lean inner loop: one reusable permutation buffer (no tile
        # allocation per chunk) and segmented reduceat at the distinct
        # cohort sizes instead of a full (k, n) cumsum — the stage is
        # memory-bandwidth bound, so dropping a k×n array per chunk is a
        # ~1.7× kernel speedup. Chunk size is a pure function of
        # (n, n_resamples) so the permutation stream stays deterministic.
        ds = np.unique(np.asarray([int(n_xs[i]) for i in random_rows], dtype=np.int64))
        col_of = {int(d): j for j, d in enumerate(ds)}
        idxs = np.concatenate([[0], ds])
        chunk = perm_chunk_rows(n_resamples, n)
        buf = np.empty((chunk, n), dtype=np.float64)
        done = 0
        while done < n_resamples:
            k = min(chunk, n_resamples - done)
            b = buf[:k]
            b[:] = pooled
            rng.permuted(b, axis=1, out=b)
            # pref[:, j] = sum of the first ds[j] elements of each permuted row
            pref = np.cumsum(np.add.reduceat(b, idxs, axis=1), axis=1)
            for j, i in enumerate(random_rows):
                n_x = int(n_xs[i])
                sum_x = pref[:, col_of[n_x]]
                null = sum_x / n_x - (total - sum_x) / (n - n_x)
                obs = float(observeds[i])
                gamma = 1e-14 * max(1.0, abs(obs), absmax)
                ge[j] += np.count_nonzero(null >= obs - gamma)
                le[j] += np.count_nonzero(null <= obs + gamma)
            done += k
        denom = n_resamples + 1
        for j, i in enumerate(random_rows):
            p_ge = (ge[j] + 1) / denom
            p_le = (le[j] + 1) / denom
            out[i] = min(1.0, 2.0 * min(p_ge, p_le))
    return out


def permutation_test_mean_diff(
    x,
    y,
    n_resamples: int = 10_000,
    rng: np.random.Generator | int | None = None,
) -> tuple[float, float]:
    """Two-sided independent-sample permutation test, statistic mean(x)-mean(y).

    Mirrors ``scipy.stats.permutation_test`` (independent permutation type):
    exact enumeration when C(n, len(x)) <= n_resamples, else ``n_resamples``
    random splits with the (count+1)/(N+1) correction. Two-sided p is
    2*min(P(null <= obs), P(null >= obs)) clipped to 1. The null and the
    tie rule are :func:`grouped_permutation_mean_diff`'s, called with one
    cohort.
    """
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n_x, n_y = x.shape[0], y.shape[0]
    if n_x == 0 or n_y == 0:
        raise ValueError(
            f"both samples must be non-empty, got len(x)={n_x} len(y)={n_y}"
        )
    # fail-loud on non-finite samples (r13 review finding — see
    # grouped_permutation_mean_diff): NaN comparisons count as neither
    # tail, so a NaN value returned (nan, 0.0) — p maximally significant
    if not (np.isfinite(x).all() and np.isfinite(y).all()):
        raise ValueError("sample values must be finite")
    # canonical pooled ordering: the null depends on the value multiset
    # only, but float summation order would otherwise leak the caller's
    # row order into the last ulp of the null values (and flip tie counts)
    pooled = np.sort(np.concatenate([x, y]))
    observed = mean_diff_statistic(x, y)
    p = grouped_permutation_mean_diff(pooled, [n_x], [observed], n_resamples, rng)[0]
    return observed, float(p)
