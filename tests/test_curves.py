"""Golden + property tests for the pure-numpy curve library
(SURVEY §5 plan item 3: curve math vs numpy reference, invariants from
src/analyser/curve_utils.rs:90-91)."""

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from hypothesis.extra import numpy as hnp

from dystonse_gtfs_data_spark.curves import (
    Curve,
    average_curves,
    build_curve_set,
    convolve_cdfs,
    curve_set_interpolate,
    make_curve,
    simplify,
    transfer_probability,
    walk_time_curve,
)
from dystonse_gtfs_data_spark.curves.core import simplify_to_max_points


def is_valid_cdf(c: Curve) -> bool:
    return (
        np.all(np.diff(c.xs) > 0)
        and np.all(np.diff(c.ys) >= -1e-12)
        and c.ys[0] == 0.0
        and c.ys[-1] == 1.0
    )


class TestMakeCurve:
    def test_simple_ecdf(self):
        curve, total = make_curve([10.0, 20.0, 30.0, 40.0])
        assert total == 4.0
        assert curve.points() == [(10.0, 0.0), (20.0, 0.5), (30.0, 0.75), (40.0, 1.0)]

    def test_duplicates_collapse_to_first_occurrence_weight(self):
        curve, _ = make_curve([1.0, 2.0, 2.0, 2.0, 3.0])
        # distinct xs: 1,2,3; y at 2 = cum weight at FIRST 2 = 2/5
        assert curve.points() == [(1.0, 0.0), (2.0, 0.4), (3.0, 1.0)]

    def test_all_equal_rejected(self):
        assert make_curve([5.0, 5.0, 5.0]) is None

    def test_single_value_rejected(self):
        assert make_curve([5.0]) is None
        assert make_curve([]) is None

    def test_leading_zero_x_quirk(self):
        # reference initializes last_x = 0.0 → a leading x==0 point is dropped
        curve, _ = make_curve([0.0, 10.0, 20.0])
        assert curve.xs[0] == 10.0
        assert is_valid_cdf(curve)

    def test_focus_weighting(self):
        vals = [0.0, 25.0, 50.0, 75.0, 100.0]
        curve, total = make_curve(vals, focus=50.0)
        # weights: 0, .5, 1, .5, 0 → total 2
        assert total == pytest.approx(2.0)
        assert is_valid_cdf(curve)
        # mass concentrates near focus: y jumps most around x=50
        y25 = float(curve.y_at_x(25.0))
        y75 = float(curve.y_at_x(75.0))
        assert y75 - y25 > 0.6

    @given(
        st.lists(
            st.floats(min_value=-3000, max_value=3000, allow_nan=False), min_size=2, max_size=200
        )
    )
    @settings(max_examples=100, deadline=None)
    def test_property_valid_cdf(self, values):
        res = make_curve(values)
        if res is not None:
            assert is_valid_cdf(res[0])


class TestEval:
    def test_interpolation(self):
        c = Curve([0.0, 10.0], [0.0, 1.0])
        assert float(c.y_at_x(5.0)) == pytest.approx(0.5)
        assert float(c.x_at_y(0.25)) == pytest.approx(2.5)
        assert float(c.y_at_x(-5.0)) == 0.0
        assert float(c.y_at_x(15.0)) == 1.0

    def test_quantile_roundtrip(self):
        curve, _ = make_curve(list(np.arange(100.0)))
        for p in [0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99]:
            x = float(curve.x_at_y(p))
            assert float(curve.y_at_x(x)) == pytest.approx(p, abs=1e-9)


class TestSimplify:
    def test_collinear_points_removed(self):
        c = Curve([0, 1, 2, 3, 4], [0.0, 0.25, 0.5, 0.75, 1.0])
        s = simplify(c, 0.01)
        assert len(s.xs) == 2

    def test_tolerance_respected(self):
        rng = np.random.default_rng(42)
        xs = np.sort(rng.uniform(0, 100, 50))
        xs[0], xs[-1] = 0.0, 100.0
        ys = np.linspace(0, 1, 50) + rng.uniform(-0.004, 0.004, 50)
        ys = np.clip(np.maximum.accumulate(ys), 0, 1)
        ys[0], ys[-1] = 0.0, 1.0
        c = Curve(xs, ys)
        s = simplify(c, 0.05)
        # every original point reproducible within eps
        assert np.all(np.abs(s.y_at_x(c.xs) - c.ys) <= 0.05 + 1e-9)

    def test_keeps_sharp_corner(self):
        c = Curve([0, 50, 100], [0.0, 0.9, 1.0])
        s = simplify(c, 0.01)
        assert len(s.xs) == 3


def stack_rdp(curve: Curve, epsilon: float) -> Curve:
    """Reference RDP: one segment at a time from an explicit stack, the
    split at the first interior point of largest vertical error (NaN
    first, as np.argmax), split iff that error > epsilon."""
    xs, ys = curve.xs, curve.ys
    n = len(xs)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        lo, hi = stack.pop()
        if hi - lo < 2:
            continue
        seg_x = xs[lo + 1 : hi]
        with np.errstate(divide="ignore", invalid="ignore"):
            interp = ys[lo] + (ys[hi] - ys[lo]) * (seg_x - xs[lo]) / (xs[hi] - xs[lo])
        err = np.abs(ys[lo + 1 : hi] - interp)
        imax = int(np.argmax(err))
        if err[imax] > epsilon:
            mid = lo + 1 + imax
            keep[mid] = True
            stack.append((lo, mid))
            stack.append((mid, hi))
    return Curve(xs[keep], ys[keep])


def stack_rdp_to_max_points(curve: Curve, max_points: int) -> Curve:
    """Reference cap: a fresh stack RDP per doubling tolerance."""
    if len(curve.xs) <= max_points:
        return curve
    eps = 0.001
    out = curve
    while len(out.xs) > max_points and eps <= 0.512:
        out = stack_rdp(curve, eps)
        eps *= 2.0
    return out


@st.composite
def rdp_curves(draw):
    """Curves of 2-400 points in three shapes: coarse grids of x and y
    (repeated x, so 0/0 errors, and exact error ties), delay-CDF-like
    staircases, and free floats."""
    n = draw(st.integers(2, 400))
    shape = draw(st.sampled_from(["grid", "cdf", "float"]))
    if shape == "grid":
        xs = np.sort(draw(hnp.arrays(np.int64, n, elements=st.integers(-8, 24))))
        ys = draw(hnp.arrays(np.int64, n, elements=st.integers(0, 8))) / 8.0
        return Curve(xs.astype(np.float64), ys)
    if shape == "cdf":
        steps = draw(hnp.arrays(np.int64, n, elements=st.integers(0, 5)))
        xs = np.cumsum(steps) * 12.0 - 600.0
        mass = draw(hnp.arrays(np.int64, n, elements=st.integers(0, 9)))
        ys = np.cumsum(mass) / max(1, int(mass.sum()))
        return Curve(xs, ys)
    floats = st.floats(-1000.0, 1000.0, allow_nan=False, allow_infinity=False)
    xs = np.sort(draw(hnp.arrays(np.float64, n, elements=floats)))
    ys = draw(hnp.arrays(np.float64, n, elements=st.floats(0.0, 1.0)))
    return Curve(xs, ys)


def assert_same_curve(got: Curve, want: Curve) -> None:
    assert np.array_equal(got.xs, want.xs)
    assert np.array_equal(got.ys, want.ys)


class TestSimplifyMatchesStackRdp:
    """simplify and simplify_to_max_points walk one RDP tree per curve;
    they must keep exactly the points the segment-at-a-time RDP keeps."""

    EPSILONS = (0.0, 0.001, 0.01, 0.05, 0.512)

    @given(rdp_curves())
    @example(Curve([0, 1, 2, 3, 4], [0.0, 0.5, 0.0, 0.5, 0.0]))  # tied errors
    @example(Curve([0, 0, 0, 1, 1, 1], [0.0, 0.2, 0.4, 0.6, 0.8, 1.0]))  # 0/0
    @example(Curve([5, 5, 5, 5], [0.0, 0.25, 0.5, 1.0]))  # all x repeated
    @settings(max_examples=300, deadline=None)
    def test_simplify(self, curve):
        for eps in self.EPSILONS:
            assert_same_curve(simplify(curve, eps), stack_rdp(curve, eps))

    @given(rdp_curves())
    @settings(max_examples=300, deadline=None)
    def test_simplify_to_max_points(self, curve):
        for max_points in (2, 30):
            assert_same_curve(
                simplify_to_max_points(curve, max_points),
                stack_rdp_to_max_points(curve, max_points),
            )

    def test_long_segments_match(self):
        # segments wider than the Python-float loop take the numpy path
        rng = np.random.default_rng(7)
        xs = np.sort(rng.integers(-3000, 3000, 2000)).astype(np.float64)
        ys = np.sort(rng.random(2000))
        curve = Curve(xs, ys)
        for eps in self.EPSILONS:
            assert_same_curve(simplify(curve, eps), stack_rdp(curve, eps))
        assert_same_curve(
            simplify_to_max_points(curve, 30), stack_rdp_to_max_points(curve, 30)
        )


class TestAverage:
    def test_average_of_identical_is_identity(self):
        c, _ = make_curve([0.0, 10.0, 20.0, 30.0][1:])
        avg = average_curves([c, c, c])
        assert np.allclose(avg.y_at_x(c.xs), c.ys)

    def test_average_of_two_shifted(self):
        a = Curve([0.0, 10.0], [0.0, 1.0])
        b = Curve([10.0, 20.0], [0.0, 1.0])
        avg = average_curves([a, b])
        assert float(avg.y_at_x(10.0)) == pytest.approx(0.5)


class TestConvolution:
    def test_uniform_plus_point_mass_shifts(self):
        # X ~ U[0, 600]; Y ≈ 100 (narrow) → X+Y ≈ U[100, 700]
        f = Curve([0.0, 600.0], [0.0, 1.0])
        g = Curve([99.0, 101.0], [0.0, 1.0])
        h = convolve_cdfs(f, g)
        assert float(h.x_at_y(0.5)) == pytest.approx(400.0, abs=30.0)
        assert is_valid_cdf(h)

    def test_mass_conserved(self):
        f = Curve([0.0, 100.0, 300.0], [0.0, 0.6, 1.0])
        g = Curve([-60.0, 0.0, 60.0], [0.0, 0.5, 1.0])
        h = convolve_cdfs(f, g)
        assert is_valid_cdf(h)
        # mean of sum ≈ mean of f + mean of g (trapezoid means)
        def mean(c):
            pm = np.diff(c.ys)
            mids = (c.xs[1:] + c.xs[:-1]) / 2
            return float((pm * mids).sum())
        assert mean(h) == pytest.approx(mean(f) + mean(g), abs=40.0)


class TestTransferProbability:
    def test_guaranteed_transfer(self):
        arrival = Curve([0.0, 10.0], [0.0, 1.0])
        departure = Curve([100.0, 110.0], [0.0, 1.0])
        assert transfer_probability(arrival, departure) == pytest.approx(1.0, abs=0.02)

    def test_guaranteed_miss(self):
        arrival = Curve([100.0, 110.0], [0.0, 1.0])
        departure = Curve([0.0, 10.0], [0.0, 1.0])
        assert transfer_probability(arrival, departure) == pytest.approx(0.0, abs=0.02)

    def test_symmetric_overlap(self):
        a = Curve([0.0, 100.0], [0.0, 1.0])
        assert transfer_probability(a, a) == pytest.approx(0.5, abs=0.02)


class TestWalkCurve:
    def test_short_distance_flat(self):
        c = walk_time_curve(10.0)
        assert c.points() == [(-12.0, 0.0), (12.0, 1.0)]

    @pytest.mark.parametrize("d", [20.0, 250.0, 500.0, 1000.0])
    def test_valid_and_bounded(self, d):
        c = walk_time_curve(d)
        assert is_valid_cdf(c)
        # min duration = d/3.5 + 10 (sprint), max = d*factor/0.8 + 45
        assert c.min_x() >= d / 3.5 + 10.0 - 1e-6
        assert c.max_x() <= d * 1.8 / 0.8 + 45.0 + 1e-6


class TestCurveSet:
    @staticmethod
    def _pairs(n=200, seed=7):
        rng = np.random.default_rng(seed)
        start = rng.normal(60, 90, n).round()
        end = start + rng.normal(30, 40, n).round()
        return list(zip(start.tolist(), end.tolist()))

    def test_builds_multiple_focused_curves(self):
        res = build_curve_set(self._pairs())
        assert res is not None
        curves, sample_size = res
        assert len(curves) >= 2
        assert sample_size > 0
        foci = [f for f, _ in curves]
        assert foci == sorted(foci)
        for _, c in curves:
            assert is_valid_cdf(c)
            assert c.max_x() >= c.min_x() + 13.0

    def test_too_few_pairs(self):
        assert build_curve_set([(1.0, 2.0)]) is None

    def test_interpolation_between_foci(self):
        curves, _ = build_curve_set(self._pairs())
        foci = [f for f, _ in curves]
        mid = (foci[0] + foci[-1]) / 2
        c = curve_set_interpolate(curves, mid)
        assert is_valid_cdf(c)

    def test_continuation_beyond_range_shifts(self):
        curves, _ = build_curve_set(self._pairs())
        f_hi, c_hi = max(curves, key=lambda fc: fc[0])
        shifted = curve_set_interpolate(curves, f_hi + 100.0)
        assert shifted.min_x() == pytest.approx(c_hi.min_x() + 100.0)
        assert shifted.max_x() == pytest.approx(c_hi.max_x() + 100.0)
