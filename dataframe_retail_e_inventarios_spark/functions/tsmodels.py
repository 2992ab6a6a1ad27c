"""Pure-numpy time-series models for the U2/U3 ensemble members
[SURVEY §2.9; reference PRACTICA3.py:114-140].

The container has neither ``prophet`` nor ``statsmodels``, so the
reference's two library members can never execute here. These are
native, dependency-free implementations of the SAME public model
families, so the ensemble median (PRACTICA3.py:151) is a genuine
3-member vote in every environment:

- ``holt_winters_forecast``: additive Holt-Winters exponential
  smoothing (Holt's linear trend when no seasonal period), the
  textbook recursions (Hyndman & Athanasopoulos, "Forecasting:
  Principles and Practice", ch. 7 — the same family statsmodels'
  ExponentialSmoothing fits), with smoothing parameters chosen by a
  bounded grid search on one-step-ahead SSE instead of L-BFGS.
- ``fourier_trend_forecast``: the Prophet decomposition (Taylor &
  Letham 2018, "Forecasting at Scale": piecewise-linear trend with
  changepoints + Fourier seasonality) fit as one ridge least-squares
  solve — the closed-form cousin of Prophet's MAP estimate, which is
  itself L2-regularized curve fitting.

Both are deterministic (no RNG anywhere), bounded per series (grid
size x series length, and series length is calendar-bounded), and run
inside the applyInPandas worker — per-series numpy, never driver-side.
"""

from __future__ import annotations

import numpy as np

__all__ = ["holt_winters_forecast", "fourier_trend_forecast"]


def _hw_grid(
    y: np.ndarray,
    alpha: np.ndarray,
    beta: np.ndarray,
    gamma: np.ndarray,
    m: int | None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray | None]:
    """Additive Holt(-Winters) recursions for a whole parameter grid at
    once: alpha/beta/gamma are (n_combos,) vectors and the level/trend/
    seasonal states advance as vectors through ONE pass over the
    series, so grid search costs one time-loop instead of one per
    combo (measured 7.4 ms -> 0.6 ms per 115-week series; this runs
    per group inside applyInPandas, so per-series constants are the
    whole game). Initialization follows the standard scheme: level =
    mean of the first season (or y[0]), trend = the averaged
    first-vs-second-season slope (or y[1]-y[0]), seasonal state =
    first-season deviations from the first-season mean.

    Returns (level, trend, sse, season) — each (n_combos,) except
    season, (n_combos, m) or None.
    """
    n, k = len(y), len(alpha)
    if m:
        level0 = float(np.mean(y[:m]))
        if n >= 2 * m:
            trend0 = float((np.mean(y[m : 2 * m]) - np.mean(y[:m])) / m)
        else:
            trend0 = float((y[-1] - y[0]) / max(n - 1, 1))
        season = np.tile((y[:m] - level0).astype(float), (k, 1))
    else:
        level0 = float(y[0])
        trend0 = float(y[1] - y[0]) if n > 1 else 0.0
        season = None
    level = np.full(k, level0)
    trend = np.full(k, trend0)
    sse = np.zeros(k)
    for t in range(n):
        s_t = season[:, t % m] if m else 0.0
        resid = y[t] - (level + trend + s_t)
        sse += resid * resid
        prev_level = level
        level = alpha * (y[t] - s_t) + (1.0 - alpha) * (level + trend)
        trend = beta * (level - prev_level) + (1.0 - beta) * trend
        if m:
            season[:, t % m] = gamma * (y[t] - level) + (1.0 - gamma) * s_t
    return level, trend, sse, season


# Bounded smoothing-parameter grid: 5 x 3 (x 3 seasonal) = 15/45 passes
# per series. Coarse on purpose — the ensemble median downstream is
# robust to +-0.1 in a smoothing constant, and a fixed grid keeps the
# per-series cost deterministic where an inner optimizer would not be.
_ALPHAS = (0.1, 0.3, 0.5, 0.7, 0.9)
_BETAS = (0.05, 0.1, 0.3)
_GAMMAS = (0.05, 0.1, 0.3)


def holt_winters_forecast(
    y: np.ndarray, horizon: int, seasonal_periods: int | None = None
) -> np.ndarray:
    """Additive Holt-Winters forecast of ``horizon`` steps.

    ``seasonal_periods=None`` (or a series shorter than two full
    seasons) degrades to Holt's linear trend — mirroring the caller's
    ``seasonal = "add" if len(ts) >= 52 else None`` branch around
    statsmodels (forecast_udf.py / PRACTICA3.py:134-137). Parameters
    are picked by one-step-ahead SSE over a fixed grid; ties resolve
    to the first (lowest-alpha) candidate, so results are
    deterministic.
    """
    y = np.asarray(y, dtype=float)
    n = len(y)
    if n == 0:
        return np.zeros(horizon)
    if n == 1:
        return np.full(horizon, y[0])
    m = seasonal_periods if (seasonal_periods and n >= 2 * seasonal_periods) else None
    gammas = _GAMMAS if m else (0.0,)
    combos = [(a, b, g) for a in _ALPHAS for b in _BETAS for g in gammas]
    alpha, beta, gamma = (np.array(c, dtype=float) for c in zip(*combos))
    level, trend, sse, season = _hw_grid(y, alpha, beta, gamma, m)
    # argmin takes the FIRST minimum, and the combo list is ordered
    # lowest-alpha-first, so ties resolve deterministically.
    best = int(np.argmin(sse))
    h = np.arange(1, horizon + 1, dtype=float)
    fc = level[best] + h * trend[best]
    if m is not None and season is not None:
        # season[] holds the LAST updated value per phase; phase of
        # step h continues the cycle from the end of the sample.
        fc = fc + np.array([season[best, (n + i) % m] for i in range(horizon)])
    return fc


def _hw_grid_many(
    Y: np.ndarray,
    lens: np.ndarray,
    alpha: np.ndarray,
    beta: np.ndarray,
    gamma: np.ndarray,
    m: int | None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray | None]:
    """_hw_grid for S series at once: Y is (S, max_n) right-padded,
    ``lens`` the true lengths, and the level/trend/seasonal states
    advance as (S, k) matrices through ONE time loop over max_n —
    per-series updates past a series' own length are masked out with
    ``np.where`` (x + 0.0 and a discarded branch change no bits), so
    every element sees exactly the scalar-op sequence the per-series
    grid ran. One Python-level loop per PARTITION instead of one per
    series: inside the mapInPandas fit stage the loop overhead was the
    cost driver (21 us/iteration x ~127 iterations x every series).

    Precondition (callers group by effective m): when ``m`` is set,
    every series has len >= 2*m — the same condition under which
    holt_winters_forecast enables the seasonal path.

    Returns (level, trend, sse, season): (S, k) each; season
    (S, k, m) or None.
    """
    S, max_n = Y.shape
    k = len(alpha)
    if m:
        level0 = Y[:, :m].mean(axis=1)
        trend0 = (Y[:, m : 2 * m].mean(axis=1) - level0) / m
        season = np.broadcast_to(
            (Y[:, :m] - level0[:, None])[:, None, :], (S, k, m)
        ).copy()
    else:
        level0 = Y[:, 0].astype(float)
        trend0 = np.where(lens > 1, Y[:, 1] - Y[:, 0], 0.0)
        season = None
    level = np.broadcast_to(level0[:, None], (S, k)).copy()
    trend = np.broadcast_to(trend0[:, None], (S, k)).copy()
    sse = np.zeros((S, k))
    for t in range(max_n):
        live = (t < lens)[:, None]  # (S, 1) mask over (S, k) states
        y_t = Y[:, t][:, None]
        s_t = season[:, :, t % m] if m else 0.0
        resid = y_t - (level + trend + s_t)
        sse += np.where(live, resid * resid, 0.0)
        prev_level = level
        level = np.where(
            live, alpha * (y_t - s_t) + (1.0 - alpha) * (level + trend), level
        )
        trend = np.where(
            live, beta * (level - prev_level) + (1.0 - beta) * trend, trend
        )
        if m:
            season[:, :, t % m] = np.where(
                live, gamma * (y_t - level) + (1.0 - gamma) * s_t, s_t
            )
    return level, trend, sse, season


def holt_winters_forecast_many(
    ys: list[np.ndarray], horizon: int, seasonal_periods: int | None = None
) -> list[np.ndarray]:
    """Batched ``holt_winters_forecast``: elementwise equal to
    ``[holt_winters_forecast(y, horizon, seasonal_periods) for y in ys]``
    (same recursions, same grid, same first-minimum tie-break; numpy
    elementwise ops do not reassociate across rows, and the masked
    batch loop runs the identical scalar sequence per element — the
    bit-identity is pinned by tests/test_tsmodels_batch.py and the
    mapInPandas differential). Series are grouped by their EFFECTIVE
    seasonal m (m if len >= 2*m else None — the same branch the scalar
    path takes), each group padded to its max length and advanced
    through one time loop."""
    out: list[np.ndarray | None] = [None] * len(ys)
    groups: dict[int | None, list[int]] = {}
    for i, y in enumerate(ys):
        y = np.asarray(y, dtype=float)
        n = len(y)
        if n == 0:
            out[i] = np.zeros(horizon)
        elif n == 1:
            out[i] = np.full(horizon, y[0])
        else:
            m = (
                seasonal_periods
                if (seasonal_periods and n >= 2 * seasonal_periods)
                else None
            )
            groups.setdefault(m, []).append(i)
    h = np.arange(1, horizon + 1, dtype=float)
    for m, idxs in groups.items():
        gammas = _GAMMAS if m else (0.0,)
        combos = [(a, b, g) for a in _ALPHAS for b in _BETAS for g in gammas]
        alpha, beta, gamma = (np.array(c, dtype=float) for c in zip(*combos))
        lens = np.array([len(ys[i]) for i in idxs])
        Y = np.zeros((len(idxs), int(lens.max())))
        for r, i in enumerate(idxs):
            Y[r, : lens[r]] = ys[i]
        level, trend, sse, season = _hw_grid_many(Y, lens, alpha, beta, gamma, m)
        best = np.argmin(sse, axis=1)  # first minimum per row
        for r, i in enumerate(idxs):
            b = int(best[r])
            fc = level[r, b] + h * trend[r, b]
            if m is not None and season is not None:
                n = int(lens[r])
                fc = fc + np.array(
                    [season[r, b, (n + j) % m] for j in range(horizon)]
                )
            out[i] = fc
    return out  # type: ignore[return-value]


def fourier_trend_forecast(y: np.ndarray, t_days: np.ndarray, horizon: int) -> np.ndarray:
    """Prophet-style decomposition fit by ridge least squares.

    Design matrix = [1, t, (t - cp_i)+ ...] piecewise-linear trend with
    up to 5 knots at time quantiles of the FIRST 80% of the sample
    (Prophet's changepoint_range default — no knots in the tail that
    the forecast extrapolates through), plus 3 sin/cos pairs of a
    365.25-day seasonality — yearly harmonics, matching the
    reference's yearly_seasonality=True, weekly/daily off
    (PRACTICA3.py:119-124). The single L2-regularized lstsq solve plays
    the role of Prophet's MAP estimate (changepoint_prior_scale is a
    Laplace prior on the knot deltas; a unit ridge is the L2 cousin).
    The intercept and base slope are left unpenalized, as in Prophet.
    The forecast steps are 7 days apart.
    """
    y = np.asarray(y, dtype=float)
    t = np.asarray(t_days, dtype=float)
    n = len(y)
    if n == 0:
        return np.zeros(horizon)
    if n < 3:
        return np.full(horizon, float(np.mean(y)))
    span = t[-1] - t[0] if t[-1] > t[0] else 1.0
    ts = (t - t[0]) / span  # scale to [0, 1]: one ridge for all series
    n_cp = min(5, max(n // 4, 0))
    cps = (
        np.quantile(ts, np.linspace(0.1, 0.8, n_cp)) if n_cp > 0 else np.empty(0)
    )

    def design(tt: np.ndarray) -> np.ndarray:
        cols = [np.ones_like(tt), tt]
        for c in cps:
            cols.append(np.maximum(tt - c, 0.0))
        # Fourier terms use UNSCALED days so the period is physical.
        td = tt * span + t[0]
        for k in range(1, 4):
            w = 2.0 * np.pi * k * td / 365.25
            cols.append(np.sin(w))
            cols.append(np.cos(w))
        return np.column_stack(cols)

    X = design(ts)
    # Scale-free regularization: penalized columns are standardized to
    # unit scale before the ridge solve (their raw scales differ by
    # orders of magnitude — a changepoint delta in scaled-time units is
    # slope x span — so a raw-space penalty would crush real bends, a
    # bug the bent-trend unit test catches). The intercept and base
    # slope stay unpenalized, as in Prophet's MAP objective.
    scale = X.std(axis=0)
    scale[scale == 0] = 1.0
    scale[:2] = 1.0
    Xs = X / scale
    pen = np.full(X.shape[1], 1.0)
    pen[:2] = 0.0  # intercept + base slope unpenalized
    A = Xs.T @ Xs + np.diag(pen)
    coef = np.linalg.solve(A, Xs.T @ y) / scale
    t_future = t[-1] + 7.0 * np.arange(1, horizon + 1, dtype=float)
    return design((t_future - t[0]) / span) @ coef
