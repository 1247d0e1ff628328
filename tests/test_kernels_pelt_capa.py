"""Ported from /root/reference/tests/test_pelt.py and test_capa.py, plus the
offline PELT variant."""

import numpy as np
import pytest

from streamchange_spark.kernels import (
    Capa,
    ConstMeanL2,
    L2Cost,
    OfflinePelt,
    Pelt,
    simulate,
)


def test_pelt_accuracy():
    seg_len = 100
    x = simulate([0, 30, 0], [seg_len], p=1, seed=2)
    detector = Pelt(L2Cost(), minsl=2, maxsl=10000)
    segments = detector.fit_predict(x[:, 0])
    assert len(segments) == 3
    assert len(detector.changepoints_) == 2
    # Quirk preserved: changepoints_ come out in descending time order.
    assert detector.changepoints_[0] == 2 * seg_len - 1
    assert detector.changepoints_[1] == seg_len - 1
    for segment in segments:
        assert segment["start"] >= 0
        assert segment["end"] <= x.shape[0] - 1
        assert segment["start"] <= segment["end"]


def test_capa_accuracy():
    seg_len = 100
    x = simulate([0, 30], [seg_len], p=1, seed=2)
    point_anom_pos = 10
    x[point_anom_pos] = 200
    capa = Capa(ConstMeanL2(), minsl=2, maxsl=1000, predict_point_anomalies=True)
    capa.fit(x[:, 0])
    assert len(capa.collective_anomalies_) == 1
    assert capa.collective_anomalies_[0]["end"] == x.shape[0] - 1
    assert capa.collective_anomalies_[0]["start"] == seg_len
    assert len(capa.point_anomalies_) == 1
    assert capa.point_anomalies_[0]["start"] == point_anom_pos
    assert len(capa.predict()) == 2


def test_offline_pelt():
    seg_len = 100
    x = simulate([0, 30, 0], [seg_len], p=1, seed=2)
    detector = OfflinePelt(minsl=2)
    detector.fit(x)
    starts = [s["start"] for s in detector.segments_]
    ends = [s["end"] for s in detector.segments_]
    assert starts == [0, 100, 200]
    assert ends == [99, 199, 299]
    assert all(s["size"] == seg_len for s in detector.segments_)


def test_offline_pelt_multivariate():
    x = simulate([0, 10], [80], p=3, seed=7)
    detector = OfflinePelt(minsl=2)
    detector.fit(x)
    assert len(detector.segments_) == 2
    assert detector.segments_[0]["end"] == 79


def test_pelt_short_series_terminates():
    """Series shorter than minsl: the reference's extraction would spin
    forever; our fit emits one whole-series segment instead."""
    det = Pelt(L2Cost(), minsl=2, maxsl=100)
    det.fit(np.array([5.0]))
    assert det.segments_ == [{"start": 0, "end": 0, "size": 1}]
    assert det.changepoints_ == []
    det.fit(np.array([]))
    assert det.segments_ == []
    cap = Capa(ConstMeanL2(), minsl=2, maxsl=100)
    cap.fit(np.array([5.0]))
    assert cap.collective_anomalies_ == []
    off = OfflinePelt(minsl=2)
    off.fit(np.array([5.0]))
    assert len(off.segments_) == 1
    off.fit(np.array([]))
    assert off.segments_ == []


def test_online_vs_offline_pelt_consistency():
    """Both PELT variants should find the same change points on a clear
    signal (the offline one lists them ascending, online descending)."""
    x = simulate([0, 20, 0], [60], p=1, seed=11)
    online = Pelt(L2Cost(), minsl=2, maxsl=10000).fit(x[:, 0])
    offline = OfflinePelt(minsl=2).fit(x)
    online_cpts = sorted(int(c) for c in online.changepoints_)
    offline_cpts = sorted(int(s["end"]) for s in offline.segments_[:-1])
    assert online_cpts == offline_cpts == [59, 119]


def test_pelt_batch_fit_identical_to_update_loop():
    """Pelt.fit's view-based L2 fast path == literal update() replay (same
    segments, changepoints, and post-fit streaming state)."""
    from streamchange_spark.kernels import BIC, L2Cost, Pelt

    class L2CostSlow(L2Cost):  # type(cost) check routes to the update loop
        pass

    for minsl, maxsl in ((1, 1000), (2, 50), (5, 30)):
        for seed in range(8):
            r = np.random.default_rng(seed)
            n = int(r.integers(1, 400))
            x = r.normal(0, 1, n) + np.where(
                np.arange(n) > n // 2, r.choice([0, 3, 8]), 0
            )
            if seed % 3 == 0 and n > 4:
                x[r.integers(0, n, 2)] = np.nan
            a = Pelt(L2Cost(BIC()), minsl=minsl, maxsl=maxsl).fit(x)
            b = Pelt(L2CostSlow(BIC()), minsl=minsl, maxsl=maxsl).fit(x)
            assert a.segments_ == b.segments_
            assert a.changepoints_ == b.changepoints_
            if n > 10 and not np.isnan(x).any():
                a.update(1.23)
                b.update(1.23)
                assert a.last_cpt == b.last_cpt


def test_capa_batch_fit_identical_to_update_loop():
    """Capa.fit's view-based fast path == literal update() replay."""
    from streamchange_spark.kernels import Capa, ConstMeanL2

    class SlowSaving(ConstMeanL2):  # type check routes to the update loop
        pass

    for minsl, maxsl in ((2, 1000), (2, 50), (5, 30)):
        for seed in range(8):
            r = np.random.default_rng(seed)
            n = int(r.integers(0, 400))
            x = r.normal(0, 1, n)
            if n > 20:
                a0 = int(r.integers(0, n - 10))
                x[a0 : a0 + 8] += r.choice([0, 5, 10])
                x[int(r.integers(0, n))] += r.choice([0, 15])
            if seed % 3 == 0 and n > 4:
                x[r.integers(0, n, 2)] = np.nan
            a = Capa(ConstMeanL2(), minsl=minsl, maxsl=maxsl).fit(x)
            b = Capa(SlowSaving(), minsl=minsl, maxsl=maxsl).fit(x)
            assert a.collective_anomalies_ == b.collective_anomalies_
            assert a.point_anomalies_ == b.point_anomalies_
            if n > 10 and not np.isnan(x).any():
                a.update(2.5)
                b.update(2.5)
                assert a.anomaly_start == b.anomaly_start


def test_pelt_pruned_identical_to_unpruned():
    """Pelt(prune=True) (OfflinePelt admissible-set rule on the online
    window) == the unpruned DP bit for bit: same last_cpt trail, segments,
    changepoints, and post-fit streaming state — while keeping the
    candidate set small."""
    from streamchange_spark.kernels import BIC, ConstantPenalty, L2Cost, Pelt

    for minsl, maxsl, pen in ((1, 1000, BIC()), (2, 60, ConstantPenalty(8.0)),
                              (1, 40, ConstantPenalty(25.0))):
        for seed in range(8):
            r = np.random.default_rng(100 + seed)
            n = int(r.integers(1, 400))
            x = r.normal(0, 1, n) + np.where(
                np.arange(n) > n // 2, r.choice([0, 3, 8]), 0
            )
            if seed % 3 == 0 and n > 4:
                x[r.integers(0, n, 2)] = np.nan
            a = Pelt(L2Cost(pen), minsl=minsl, maxsl=maxsl).fit(x)
            b = Pelt(L2Cost(pen), minsl=minsl, maxsl=maxsl, prune=True).fit(x)
            assert a.segments_ == b.segments_
            assert a.changepoints_ == b.changepoints_
            if n > 10 and not np.isnan(x).any():
                for v in (1.23, -0.5, 9.0):
                    a.update(v)
                    b.update(v)
                    assert a.last_cpt == b.last_cpt
                    assert a.opt_cost.newest_first[0] == b.opt_cost.newest_first[0]
            assert len(b._adm) <= maxsl

    # effectiveness (distribution-dependent, so asserted on a deterministic
    # strong-change series): admissible set collapses after each change
    r = np.random.default_rng(7)
    n = 600
    x = r.normal(0, 1, n) + np.where((np.arange(n) // 50) % 2 == 1, 6.0, 0.0)
    b = Pelt(L2Cost(ConstantPenalty(30.0)), minsl=2, maxsl=1000, prune=True).fit(x)
    a = Pelt(L2Cost(ConstantPenalty(30.0)), minsl=2, maxsl=1000).fit(x)
    assert a.segments_ == b.segments_
    assert len(b._adm) < n // 4


def _piecewise_series(segments, noise_seed, sigma):
    """Piecewise-constant levels plus Gaussian noise, one float column."""
    x = np.concatenate([np.full(n, float(level)) for n, level in segments])
    return x + np.random.default_rng(noise_seed).normal(0.0, sigma, len(x))


def _sse(seg):
    return float(((seg - seg.mean()) ** 2).sum())


def _segment_strategy(max_segments, max_len):
    from hypothesis import strategies as st

    return st.lists(
        st.tuples(st.integers(1, max_len), st.integers(-10, 10)),
        min_size=1,
        max_size=max_segments,
    )


def test_pelt_pruned_equals_unpruned_property():
    """Hypothesis: Pelt(prune=True) finds the same segments and changepoints
    as Pelt(prune=False) on random piecewise-constant series, across
    minsl, maxsl and penalty."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from streamchange_spark.kernels import ConstantPenalty

    @settings(max_examples=120, deadline=None, derandomize=True)
    @given(
        _segment_strategy(6, 40),
        st.integers(0, 2**32 - 1),
        st.sampled_from([0.05, 0.5, 1.0, 3.0]),
        st.integers(1, 5),
        st.integers(2, 80),
        st.sampled_from([1.0, 8.0, 25.0]),
    )
    def check(segments, noise_seed, sigma, minsl, maxsl, pen):
        maxsl = max(maxsl, minsl + 1)
        x = _piecewise_series(segments, noise_seed, sigma)
        a = Pelt(L2Cost(ConstantPenalty(pen)), minsl=minsl, maxsl=maxsl).fit(x)
        b = Pelt(
            L2Cost(ConstantPenalty(pen)), minsl=minsl, maxsl=maxsl, prune=True
        ).fit(x)
        assert a.segments_ == b.segments_
        assert a.changepoints_ == b.changepoints_

    check()


def _exhaustive_partition(x, minsl, pen):
    """O(n^2) optimal partitioning without pruning: minimise the sum over
    segments of (sum of squared deviations from the segment mean + pen),
    every segment holding >= minsl points. Returns (cost, segments)."""
    n = len(x)
    best = [np.inf] * (n + 1)
    best[0] = -pen
    start = [0] * (n + 1)
    for j in range(minsl, n + 1):
        for s in range(0, j - minsl + 1):
            c = best[s] + _sse(x[s:j]) + pen
            if c < best[j]:
                best[j], start[j] = c, s
    segments, j = [], n
    while j > 0:
        segments.append({"start": start[j], "end": j - 1, "size": j - start[j]})
        j = start[j]
    return best[n], segments[::-1]


def test_offline_pelt_equals_exhaustive_dp_property():
    """Hypothesis: OfflinePelt's pruned DP returns the optimal partition an
    exhaustive O(n^2) DP finds, for n <= 40 (segments and total cost)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from streamchange_spark.kernels import ConstantPenalty

    @settings(max_examples=150, deadline=None, derandomize=True)
    @given(
        _segment_strategy(5, 12).filter(lambda s: sum(n for n, _ in s) <= 40),
        st.integers(0, 2**32 - 1),
        st.sampled_from([0.05, 0.5, 1.0, 3.0]),
        st.integers(1, 5),
        st.sampled_from([0.5, 4.0, 18.4]),
    )
    def check(segments, noise_seed, sigma, minsl, pen):
        x = _piecewise_series(segments, noise_seed, sigma)
        det = OfflinePelt(penalty=ConstantPenalty(pen), minsl=minsl).fit(x)
        if len(x) < minsl:
            assert det.segments_ == [{"start": 0, "end": len(x) - 1, "size": len(x)}]
            return
        cost, segments_ = _exhaustive_partition(x, minsl, pen)
        got = sum(_sse(x[s["start"] : s["end"] + 1]) + pen for s in det.segments_)
        assert got - pen == pytest.approx(cost, rel=1e-9, abs=1e-9)
        assert det.segments_ == segments_
        assert det.changepoints_ == [s["end"] for s in segments_]

    check()
