"""Shared numeric helpers used across kernel families.

Ports of MATLAB-compatible utilities the reference relies on for
bit-compatibility (binpicker 'nice' bin edges, histc semantics,
gaussian KDE with Scott bandwidth, findpeaks) — re-implemented from
the documented algorithms.
"""

from __future__ import annotations

import math

import numpy as np


def histc(x: np.ndarray, edges: np.ndarray) -> np.ndarray:
    """MATLAB histc: counts[i] = #x in [edges[i], edges[i+1]), last bin
    counts values equal to edges[-1]. Parity: utils.py:105-111."""
    x = np.asarray(x, dtype=np.float64)
    idx = np.digitize(x, edges)  # 0 = below first edge
    counts = np.zeros(len(edges), dtype=np.int64)
    inside = (idx >= 1) & (idx <= len(edges) - 1)
    np.add.at(counts, idx[inside] - 1, 1)
    counts[-1] += int(np.sum(x == edges[-1]))
    return counts


def binpicker(
    xmin: float,
    xmax: float,
    nbins: int | None,
    binwidth_est: float | None = None,
) -> np.ndarray:
    """MATLAB-style histogram bin edges (binpicker semantics,
    utils.py:113-211), both branches:

    * ``nbins`` given: bin width starts at a power-of-10 floor of the raw
      width, the left edge snaps to a multiple of it, then the width is
      refined to ``p10 * ceil(ll / p10)`` so exactly ``nbins`` bins span
      [xmin, xmax]; the last edge is pinned to cover xmax.
    * ``nbins=None`` (automatic): a 'nice' width from
      {1, 2, 3, 5, 10} x 10^k nearest the estimate (``binwidth_est`` or
      the raw width), with bin count derived from the snapped left edge.

    Nearly-constant data (range below sqrt(eps(xscale))) gets the
    half-integer-snapped degenerate edges of the original.
    """
    if xmin > xmax:
        raise ValueError("xmin > xmax")
    xmin, xmax = float(xmin), float(xmax)
    if nbins is None:
        raw = binwidth_est if binwidth_est is not None else abs(xmax - xmin)
    else:
        raw = (
            binwidth_est
            if binwidth_est is not None
            else abs(xmax - xmin) / nbins
        )
    xscale = max(abs(xmin), abs(xmax))
    xrange = xmax - xmin
    raw = max(raw, float(np.spacing(xscale)))
    if xrange > max(math.sqrt(np.spacing(xscale)), np.finfo(np.float64).tiny):
        pow10 = 10.0 ** math.floor(math.log10(raw))
        rel = raw / pow10  # in [1, 10)
        if nbins is None:
            if rel < 1.5:
                bin_width = 1.0 * pow10
            elif rel < 2.5:
                bin_width = 2.0 * pow10
            elif rel < 4.0:
                bin_width = 3.0 * pow10
            elif rel < 7.5:
                bin_width = 5.0 * pow10
            else:
                bin_width = 10.0 * pow10
            left_edge = min(bin_width * math.floor(xmin / bin_width), xmin)
            nbins_actual = max(1, int(math.ceil((xmax - left_edge) / bin_width)))
            right_edge = max(left_edge + nbins_actual * bin_width, xmax)
        else:
            bin_width = pow10 * math.floor(rel)
            left_edge = min(bin_width * math.floor(xmin / bin_width), xmin)
            if nbins > 1:
                ll = (xmax - left_edge) / nbins
                ul = (xmax - left_edge) / (nbins - 1)
                p10 = 10.0 ** math.floor(math.log10(ul - ll))
                bin_width = p10 * math.ceil(ll / p10)
            nbins_actual = nbins
            right_edge = max(left_edge + nbins_actual * bin_width, xmax)
    else:
        # nearly-constant data
        nb = 1 if nbins is None else nbins
        bin_range = max(1.0, math.ceil(nb * np.spacing(xscale)))
        left_edge = math.floor(2.0 * (xmin - bin_range / 4.0)) / 2.0
        right_edge = math.ceil(2.0 * (xmax + bin_range / 4.0)) / 2.0
        bin_width = (right_edge - left_edge) / nb
        nbins_actual = nb
    if not np.isfinite(bin_width):
        return np.linspace(left_edge, right_edge, nbins_actual + 1)
    return np.concatenate(
        [
            [left_edge],
            left_edge + np.arange(1, nbins_actual) * bin_width,
            [right_edge],
        ]
    )


def gaussian_kde_eval(
    data: np.ndarray, points: np.ndarray, bw: float | None = None
) -> np.ndarray:
    """Gaussian KDE with Scott's rule bandwidth (scipy.stats.gaussian_kde
    default semantics): bw = n^(-1/5) * std(data, ddof=1)."""
    data = np.asarray(data, dtype=np.float64)
    points = np.atleast_1d(np.asarray(points, dtype=np.float64))
    n = len(data)
    if bw is None:
        bw = n ** (-1.0 / 5.0) * np.std(data, ddof=1)
    if bw <= 0:
        return np.full(len(points), np.nan)
    z = (points[:, None] - data[None, :]) / bw
    dens = np.exp(-0.5 * z * z).sum(axis=1) / (n * bw * math.sqrt(2 * math.pi))
    return dens


def xcorr(x: np.ndarray, y: np.ndarray, normed: bool = True,
          maxlags: int | None = 10) -> tuple[np.ndarray, np.ndarray]:
    """Cross-correlation coefficients at lags -maxlags..maxlags
    (matplotlib-style normalization; utils.py:426-452 semantics,
    complete: equal-length check, maxlags=None -> full +/-(N-1) range,
    range validation)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n = len(x)
    if n != len(y):
        raise ValueError("x and y must be equal length")
    c = np.correlate(x, y, mode="full")
    if normed:
        denom = math.sqrt(float(x @ x) * float(y @ y))
        c = c / denom if denom > 0 else np.full_like(c, np.nan)
    if maxlags is None:
        maxlags = n - 1
    if maxlags >= n or maxlags < 1:
        raise ValueError(f"maxlags must be None or strictly positive < {n}")
    lags = np.arange(-maxlags, maxlags + 1)
    return lags, c[n - 1 - maxlags : n + maxlags]


def norm_cdf(x) -> np.ndarray | float:
    """Standard normal CDF via erf (no scipy)."""
    xarr = np.asarray(x, dtype=np.float64)
    vec = np.vectorize(math.erf)
    out = 0.5 * (1.0 + vec(xarr / math.sqrt(2.0)))
    return float(out) if np.isscalar(x) or out.ndim == 0 else out


def norm_ppf(p: float) -> float:
    """Inverse standard normal CDF (Acklam's rational approximation,
    |rel err| < 1.15e-9)."""
    if not 0.0 < p < 1.0:
        return float("nan") if p != 0.0 and p != 1.0 else math.copysign(math.inf, p - 0.5)
    a = [-3.969683028665376e01, 2.209460984245205e02, -2.759285104469687e02,
         1.383577518672690e02, -3.066479806614716e01, 2.506628277459239e00]
    b = [-5.447609879822406e01, 1.615858368580409e02, -1.556989798598866e02,
         6.680131188771972e01, -1.328068155288572e01]
    c = [-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e00,
         -2.549732539343734e00, 4.374664141464968e00, 2.938163982698783e00]
    d = [7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e00,
         3.754408661907416e00]
    plow, phigh = 0.02425, 1 - 0.02425
    if p < plow:
        q = math.sqrt(-2 * math.log(p))
        return (((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5]) / (
            (((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1
        )
    if p > phigh:
        q = math.sqrt(-2 * math.log(1 - p))
        return -(((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5]) / (
            (((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1
        )
    q = p - 0.5
    r = q * q
    return (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r + a[5]) * q / (
        ((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r + 1
    )


def chi2_sf(x: float, k: int) -> float:
    """Chi-square survival function via the regularized upper incomplete
    gamma (series/continued-fraction, Numerical-Recipes style)."""
    if x < 0:
        return 1.0
    a = k / 2.0
    xx = x / 2.0
    if xx == 0:
        return 1.0
    # P(a, x) series for x < a+1, else continued fraction for Q(a, x)
    gln = math.lgamma(a)
    if xx < a + 1.0:
        ap = a
        s = 1.0 / a
        delta = s
        for _ in range(500):
            ap += 1.0
            delta *= xx / ap
            s += delta
            if abs(delta) < abs(s) * 1e-14:
                break
        p = s * math.exp(-xx + a * math.log(xx) - gln)
        return max(0.0, min(1.0, 1.0 - p))
    b = xx + 1.0 - a
    c = 1e308
    d = 1.0 / b
    h = d
    for i in range(1, 500):
        an = -i * (i - a)
        b += 2.0
        d = an * d + b
        if abs(d) < 1e-300:
            d = 1e-300
        c = b + an / c
        if abs(c) < 1e-300:
            c = 1e-300
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 1e-14:
            break
    q = math.exp(-xx + a * math.log(xx) - gln) * h
    return max(0.0, min(1.0, q))


def t_ppf_975(nu: float) -> float:
    """97.5th percentile of Student's t with ``nu`` dof — the asymptotic
    Cornish-Fisher expansion in 1/nu (Abramowitz & Stegun 26.7.5).
    |error| < 5e-6 at nu=30 and < 1e-8 for nu >= 100, far inside the
    engine's 1e-6 rounding; replicated verbatim in the SQL oracle so
    both sides compute the identical value."""
    z = 1.959963984540054  # norm_ppf(0.975)
    z3 = z**3
    z5 = z**5
    z7 = z**7
    z9 = z**9
    return (
        z
        + (z3 + z) / (4.0 * nu)
        + (5.0 * z5 + 16.0 * z3 + 3.0 * z) / (96.0 * nu**2)
        + (3.0 * z7 + 19.0 * z5 + 17.0 * z3 - 15.0 * z) / (384.0 * nu**3)
        + (79.0 * z9 + 776.0 * z7 + 1482.0 * z5 - 1920.0 * z3 - 945.0 * z)
        / (92160.0 * nu**4)
    )
