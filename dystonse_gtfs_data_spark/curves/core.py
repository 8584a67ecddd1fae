"""Pure-numpy curve algebra.

A "curve" is an empirical CDF of delay seconds: a piecewise-linear,
monotone function given by sorted (x, y) points with y in [0, 1],
first y == 0 and last y == 1.  This mirrors the reference's
``IrregularDynamicCurve<f32, f32>`` (dystonse-curves crate; usage in
/root/reference/src/analyser/curve_utils.rs:44-94) but is implemented
from scratch on numpy arrays so it can run vectorized inside pandas
UDFs.  Everything here is driver/executor-agnostic pure math; the
Spark plumbing lives in ``curves.udfs`` and ``operators``.

Where the external crate's source is not available (simplify, average,
curve_at_x_with_continuation), semantics are defined here from the
documented behavior and kept deterministic; tests pin them.
"""

from __future__ import annotations

import math

import numpy as np

__all__ = [
    "Curve",
    "make_curve",
    "simplify",
    "average_curves",
    "convolve_cdfs",
    "transfer_probability",
    "walk_time_curve",
    "recurse_markers",
    "build_curve_set",
    "curve_set_interpolate",
]


class Curve:
    """Piecewise-linear CDF over sorted x points, y monotone 0→1."""

    __slots__ = ("xs", "ys")

    def __init__(self, xs, ys):
        self.xs = np.asarray(xs, dtype=np.float64)
        self.ys = np.asarray(ys, dtype=np.float64)
        if self.xs.ndim != 1 or self.xs.shape != self.ys.shape:
            raise ValueError("xs/ys must be 1-D and same length")
        if len(self.xs) < 2:
            raise ValueError("curve needs >= 2 points")

    # -- evaluation (reference: Curve trait y_at_x / x_at_y, linear interp,
    #    used e.g. at src/monitor/mod.rs:1455-1472) ----------------------
    def y_at_x(self, x) -> np.ndarray | float:
        return np.interp(x, self.xs, self.ys, left=0.0, right=1.0)

    def x_at_y(self, y) -> np.ndarray | float:
        # inverse interpolation; flat segments resolve to their left edge
        return np.interp(y, self.ys, self.xs)

    def min_x(self) -> float:
        return float(self.xs[0])

    def max_x(self) -> float:
        return float(self.xs[-1])

    def points(self) -> list[tuple[float, float]]:
        return [(float(x), float(y)) for x, y in zip(self.xs, self.ys)]

    def __repr__(self) -> str:  # pragma: no cover
        return f"Curve({len(self.xs)} pts, x∈[{self.xs[0]:g},{self.xs[-1]:g}])"


def _triangular_weights(values: np.ndarray, focus: float | None) -> np.ndarray:
    """Weight 1 at focus, linear to 0 at min/max (reference get_weight,
    src/analyser/curve_utils.rs:46-66)."""
    if focus is None:
        return np.ones_like(values)
    lo, hi = values[0], values[-1]
    w = np.ones_like(values)
    below = values < focus
    above = values > focus
    if focus > lo:
        w[below] = (values[below] - lo) / (focus - lo)
    else:
        w[below] = 0.0
    if hi > focus:
        w[above] = 1.0 - (values[above] - focus) / (hi - focus)
    else:
        w[above] = 0.0
    np.clip(w, 0.0, 1.0, out=w)
    return w


def make_curve(values, focus: float | None = None) -> tuple[Curve, float] | None:
    """Build a weighted ECDF curve from raw delay values.

    Reference semantics (make_curve, src/analyser/curve_utils.rs:68-94):
    sort values; triangular weights around ``focus`` (or 1s); cumulative
    weight / total; one point per *distinct* x carrying the cumulative
    weight **including the first occurrence** of that x; a leading point
    with x == 0.0 is dropped (the reference initializes last_x = 0.0 —
    quirk preserved); require >= 2 points; pin first y=0, last y=1.

    Returns (curve, sum_of_weights) or None when the curve would have
    fewer than 2 points.
    """
    values = np.sort(np.asarray(values, dtype=np.float64))
    if values.size == 0:
        return None
    weights = _triangular_weights(values, focus)
    total = float(weights.sum())
    if total <= 0.0:
        return None
    cum = np.cumsum(weights)
    # first occurrence of each distinct x, with its own weight included
    first = np.ones(len(values), dtype=bool)
    first[1:] = values[1:] != values[:-1]
    xs = values[first]
    ys = cum[first] / total
    # reference quirk: last_x starts at 0.0, so a leading x == 0.0 point
    # is silently skipped (its weight still counts toward later points)
    if xs.size and xs[0] == 0.0:
        xs, ys = xs[1:], ys[1:]
    if xs.size < 2:
        return None
    ys = ys.copy()
    ys[0] = 0.0
    ys[-1] = 1.0
    return Curve(xs, ys), total


#: Interior points from which one RDP segment's errors are computed as
#: one numpy expression; shorter segments (nearly all of a delay CDF's)
#: loop over Python floats, which costs less than the numpy call overhead.
_RDP_NUMPY_SEGMENT = 64


def _rdp_thresholds(xs: np.ndarray, ys: np.ndarray, floor: float) -> np.ndarray:
    """Per point, the largest tolerance at which Ramer–Douglas–Peucker
    (vertical distance) keeps it: ``simplify(c, ε)`` keeps exactly the
    points whose threshold is > ε, for every ε >= ``floor``.

    The RDP split point of a segment — the first interior point of
    largest error — does not depend on ε; only the decision to split
    (error > ε) does.  A point survives iff every split on its path from
    the root, its own included, has error > ε, so its threshold is the
    minimum split error along that path (the endpoints: +inf).  Splits
    with error <= ``floor`` are not descended (their subtrees read -inf),
    and a segment whose largest error is NaN (repeated x: 0/0) never
    splits, as ``NaN > ε`` is false.

    Both error paths evaluate ``y_lo + dy * (x - x_lo) / dx`` with the
    same IEEE double operations in the same order, so the choice between
    them never changes a split."""
    n = len(xs)
    xl, yl = xs.tolist(), ys.tolist()
    thr = [-math.inf] * n
    thr[0] = thr[-1] = math.inf
    stack = [(0, n - 1, math.inf)]
    while stack:
        lo, hi, bound = stack.pop()
        if hi - lo < 2:
            continue
        x0, y0 = xl[lo], yl[lo]
        dy, dx = yl[hi] - y0, xl[hi] - x0
        if dx == 0.0 or hi - lo > _RDP_NUMPY_SEGMENT:
            with np.errstate(divide="ignore", invalid="ignore"):
                err = np.abs(ys[lo + 1 : hi] - (y0 + dy * (xs[lo + 1 : hi] - x0) / dx))
            imax = int(np.argmax(err))  # the first NaN, else the first maximum
            best, mid = float(err[imax]), lo + 1 + imax
        else:
            best, mid = -1.0, lo
            for i in range(lo + 1, hi):
                e = abs(yl[i] - (y0 + dy * (xl[i] - x0) / dx))
                if e > best:
                    best, mid = e, i
                elif e != e:  # NaN: np.argmax's first NaN wins
                    best, mid = e, i
                    break
        if best > floor:
            b = min(best, bound)
            thr[mid] = b
            stack.append((lo, mid, b))
            stack.append((mid, hi, b))
    return np.array(thr)


def simplify(curve: Curve, epsilon: float) -> Curve:
    """Remove points reproducible by linear interpolation within ``epsilon``
    vertical tolerance (Ramer–Douglas–Peucker on the y axis).

    The reference calls curve.simplify(ε) with ε ∈ {0.001, 0.01, 0.05}
    (src/analyser/specific_curves.rs:363, default_curves.rs:148-234,
    time_curve.rs:73); the crate's exact algorithm is unavailable, so we
    define RDP with vertical distance — deterministic and tolerance-true.
    """
    keep = _rdp_thresholds(curve.xs, curve.ys, epsilon) > epsilon
    return Curve(curve.xs[keep], curve.ys[keep])


def simplify_to_max_points(curve: Curve, max_points: int = 30) -> Curve:
    """Escalate the simplify tolerance (0.001, doubling up to 0.512) until
    the curve fits in ``max_points`` — the Spark analog of the
    reference's serialize_compact_limited(120) byte cap on stored
    prediction curves (src/importer/per_schedule_importer.rs:362):
    bounded storage, coarser tail resolution.  One RDP tree serves every
    tolerance tried."""
    if len(curve.xs) <= max_points:
        return curve
    eps = 0.001
    thr = _rdp_thresholds(curve.xs, curve.ys, eps)
    while True:
        keep = thr > eps
        eps *= 2.0
        if np.count_nonzero(keep) <= max_points or eps > 0.512:
            return Curve(curve.xs[keep], curve.ys[keep])


def average_curves(curves: list[Curve]) -> Curve:
    """Pointwise mean of CDFs sampled at the union of all x points
    (reference CurveData averaging, src/types/curve_data.rs:21-42)."""
    if not curves:
        raise ValueError("average of zero curves")
    xs = np.unique(np.concatenate([c.xs for c in curves]))
    ys = np.mean(np.stack([c.y_at_x(xs) for c in curves]), axis=0)
    ys[0] = 0.0
    ys[-1] = 1.0
    return Curve(xs, ys)


def convolve_cdfs(f: Curve, g: Curve) -> Curve:
    """Discrete convolution of two CDFs → CDF of the sum (reference
    add_duration_curve, src/monitor/time_curve.rs:34-77): de-cumulate on a
    step grid, convolve, re-cumulate, simplify(0.05).

    step = max(12, (span / 200) * 2) seconds, like the reference.
    """
    min_n = int(np.floor(f.x_at_y(0.01) + g.x_at_y(0.01)))
    max_n = int(np.ceil(f.x_at_y(0.99) + g.x_at_y(0.99)))
    step = max(12, (max_n - min_n) // 200 * 2)
    half = step // 2
    min_n -= step
    max_n += step
    min_k = int(g.min_x()) - step
    max_k = int(np.ceil(g.max_x())) + step

    ns = np.arange(min_n, max_n, step, dtype=np.float64)
    ks = np.arange(min_k, max_k, step, dtype=np.float64)
    # vectorized double loop: pmf_f[n-k] * pmf_g[k]
    g_pmf = g.y_at_x(ks + half) - g.y_at_x(ks - half)
    diffs = ns[:, None] - ks[None, :]
    f_pmf = f.y_at_x(diffs + half) - f.y_at_x(diffs - half)
    contrib = np.maximum(0.0, f_pmf * g_pmf[None, :]).sum(axis=1)
    sums = np.cumsum(contrib)

    xs = [ns[0] - step]
    ys = [0.0]
    for n, s in zip(ns, sums):
        if s > 1.0:
            break
        xs.append(float(n))
        ys.append(float(s))
    xs.append(float(max_n + step))
    ys.append(1.0)
    return simplify(Curve(np.array(xs), np.array(ys)), 0.05)


def transfer_probability(arrival: Curve, departure: Curve) -> float:
    """P(making a transfer) = 1 − mean over 100 arrival percentiles of
    P(departure before that arrival) (src/monitor/time_curve.rs:18-32)."""
    ps = np.arange(0, 100, dtype=np.float64) / 100.0
    arr_times = arrival.x_at_y(ps)
    miss = departure.y_at_x(arr_times)
    return float(1.0 - miss.mean())


def walk_time_curve(distance_meters: float) -> Curve:
    """Distance → CDF of walk duration (src/monitor/journey_data.rs:558-594):
    detour factor 1.4–1.8, speeds 0.8–3.5 m/s, fixed delay 10–45 s,
    cos-sqrt pseudo-normal over 21 points, simplify(0.01); < 20 m → flat
    ±12 s curve."""
    if distance_meters < 20.0:
        return Curve([-12.0, 12.0], [0.0, 1.0])
    max_factor = 1.4 + max(0.0, min(0.4, (500.0 - distance_meters) / 500.0 * 0.4))
    min_duration = distance_meters * 1.0 / 3.5 + 10.0
    max_duration = distance_meters * max_factor / 0.8 + 45.0
    ps = np.arange(0, 101, 5, dtype=np.float64)
    durations = min_duration + (max_duration - min_duration) * ps / 100.0
    scaled = np.pi + np.pi * ps / 100.0
    c = np.cos(scaled)
    ys = (np.sqrt(np.abs(c)) * np.sign(c) + 1.0) / 2.0
    return simplify(Curve(durations, ys), 0.01)


def recurse_markers(initial_curve: Curve, count: int) -> list[float]:
    """Recursive marker placement between min_x and max_x: a new marker
    must be >= 20 s and >= 20 data points away from both neighbors;
    bisect the admissible interval (src/analyser/curve_utils.rs:8-44)."""
    markers: list[float] = []

    def rec(lower: float, upper: float) -> None:
        min_x_by_delay = lower + 20.0
        max_x_by_delay = upper - 20.0
        lower_y = float(initial_curve.y_at_x(lower))
        upper_y = float(initial_curve.y_at_x(upper))
        min_x_by_count = float(initial_curve.x_at_y(lower_y + 20.0 / count))
        max_x_by_count = float(initial_curve.x_at_y(upper_y - 20.0 / count))
        min_x = max(min_x_by_delay, min_x_by_count)
        max_x = min(max_x_by_delay, max_x_by_count)
        if min_x <= max_x:
            mid = (min_x + max_x) / 2.0
            rec(lower, mid)
            markers.append(mid)
            rec(mid, upper)

    rec(initial_curve.min_x(), initial_curve.max_x())
    return markers


def build_curve_set(
    pairs: list[tuple[float, float]],
) -> tuple[list[tuple[float, Curve]], int] | None:
    """Stop-pair curve-set builder (generate_curves_for_stop_pair,
    src/analyser/specific_curves.rs:371-426).

    ``pairs`` are (delay_at_start, delay_at_end), as a sequence of
    pairs or an (n, 2) array.  Sort by start delay;
    build the initial-delay ECDF; place markers; for each (lower, mid,
    upper) marker window build a focused ECDF of the end delays whose
    start delay falls in the window; simplify(0.001); drop curves whose
    x-span < 13 s.  Returns (list of (focus_delay, curve), sample_size)
    where sample_size is the mean samples per kept curve, or None.
    """
    if len(pairs) == 0:
        return None
    arr = np.asarray(pairs, dtype=np.float64)
    order = np.argsort(arr[:, 0], kind="stable")
    arr = arr[order]
    count = len(arr)
    made = make_curve(arr[:, 0], None)
    if made is None:
        return None
    initial_curve, _ = made
    markers = [initial_curve.min_x(), initial_curve.min_x()]
    markers += recurse_markers(initial_curve, count)
    markers += [initial_curve.max_x(), initial_curve.max_x()]

    curves: list[tuple[float, Curve]] = []
    sample_size = 0
    for lower, mid, upper in zip(markers, markers[1:], markers[2:]):
        min_index = int(count * float(initial_curve.y_at_x(lower)))
        max_index = int(count * float(initial_curve.y_at_x(upper)))
        sl = arr[min_index:max_index, 1]
        sample_size += len(sl)
        if len(sl) > 1:
            made = make_curve(sl, focus=float(mid))
            if made is None:
                continue
            curve = simplify(made[0], 0.001)
            if curve.max_x() < curve.min_x() + 13.0:
                continue
            curves.append((float(mid), curve))
    if not curves:
        return None
    return curves, sample_size // len(curves)


def curve_set_interpolate(
    curve_set: list[tuple[float, Curve]], initial_delay: float
) -> Curve:
    """curve_at_x_with_continuation (used at src/predictor/mod.rs:324):
    pick/blend the member curve for a given initial delay.

    Inside the focus range: pointwise linear blend of the two adjacent
    focus curves on the union of their x grids.  Outside ("with
    continuation"): take the boundary curve shifted horizontally by the
    distance from its focus — a delayed vehicle keeps its distribution
    shape, translated.
    """
    if not curve_set:
        raise ValueError("empty curve set")
    cs = sorted(curve_set, key=lambda fc: fc[0])
    foci = [f for f, _ in cs]
    if initial_delay <= foci[0]:
        c = cs[0][1]
        return Curve(c.xs + (initial_delay - foci[0]), c.ys)
    if initial_delay >= foci[-1]:
        c = cs[-1][1]
        return Curve(c.xs + (initial_delay - foci[-1]), c.ys)
    hi = int(np.searchsorted(np.asarray(foci), initial_delay, side="right"))
    lo = hi - 1
    f_lo, c_lo = cs[lo]
    f_hi, c_hi = cs[hi]
    t = (initial_delay - f_lo) / (f_hi - f_lo)
    xs = np.unique(np.concatenate([c_lo.xs, c_hi.xs]))
    ys = (1.0 - t) * c_lo.y_at_x(xs) + t * c_hi.y_at_x(xs)
    ys[0] = 0.0
    ys[-1] = 1.0
    return Curve(xs, ys)
