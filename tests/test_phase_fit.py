"""The minute's phase model as the driver fits it (numpy only, no JVM):
order-free, deterministic and best of its starts. The row cap is
checked before the collect, in ``tests/test_domain_pipeline.py``."""

from __future__ import annotations

import numpy as np
import pytest

from skysafe_datalake_spark.ml import phase_kmeans as pk


def _features(n=900, seed=3):
    """Ground, climb/descent and cruise traffic (velocity, altitude,
    vertical rate), overlapping like real traffic."""
    rng = np.random.default_rng(seed)
    k = n // 3
    return np.concatenate(
        [
            rng.normal([30.0, 150.0, 0.0], [15.0, 100.0, 1.0], (k, 3)),
            rng.normal([170.0, 5000.0, 0.0], [30.0, 2500.0, 9.0], (k, 3)),
            rng.normal([240.0, 11000.0, 0.0], [10.0, 600.0, 1.0], (n - 2 * k, 3)),
        ]
    )


def _same_fit(a: pk.PhaseFit, b: pk.PhaseFit) -> None:
    assert np.array_equal(a.centers, b.centers)
    assert np.array_equal(a.mean, b.mean) and np.array_equal(a.std, b.std)
    assert a.cluster_phase == b.cluster_phase
    assert a.info == b.info


def test_fit_is_independent_of_row_order():
    x = _features()
    fit = pk.fit_phase_model(x)
    assert fit.info.used_kmeans
    for seed in (1, 2):
        perm = np.random.default_rng(seed).permutation(len(x))
        _same_fit(pk.fit_phase_model(x[perm]), fit)


def test_fit_keeps_the_start_with_the_lowest_sse():
    x = _features()
    fit = pk.fit_phase_model(x)
    # every start, rerun on the rows as the fit orders them
    z, _, _ = pk.standardize(x[np.lexsort(x.T[::-1])])
    sses = [pk.lloyd(z, seed)[1] for seed in pk.START_SEEDS]
    assert all(fit.info.sse <= s for s in sses)
    assert fit.info.start == sses.index(min(sses))
    assert 1 <= fit.info.iterations <= pk.MAX_ITER


def test_fit_is_deterministic():
    x = _features()
    _same_fit(pk.fit_phase_model(x), pk.fit_phase_model(x.copy()))


def test_fit_labels_threshold_and_anomaly_count():
    x = _features()
    fit = pk.fit_phase_model(x)
    assert sorted(fit.cluster_phase.values()) == sorted(
        [pk.PHASE_TAKEOFF_LANDING, pk.PHASE_CLIMB_DESCENT, pk.PHASE_CRUISE]
    )
    z, _, _ = pk.standardize(x)
    dist = np.sqrt(pk.squared_distances(z, fit.centers).min(axis=1))
    threshold = dist.mean() + pk.ANOMALY_SIGMA * dist.std(ddof=1)
    assert fit.info.anomaly_threshold == pytest.approx(threshold)
    assert 0 < fit.info.anomaly_count < len(x) // 10


def test_constant_feature_adds_no_distance():
    x = _features()
    fits = []
    for value in (0.0, 7.25, -3.5):
        xc = x.copy()
        xc[:, 2] = value
        fits.append(pk.fit_phase_model(xc))
    for fit in fits:
        assert fit.std[2] == 0.0
        assert np.all(fit.centers[:, 2] == 0.0)
    for fit in fits[1:]:
        assert np.array_equal(fit.centers, fits[0].centers)
        assert fit.info == fits[0].info


@pytest.mark.parametrize("n", [0, 1, 2, 5])
def test_fewer_distinct_rows_than_clusters_take_the_rules_path(n):
    x = np.tile([250.0, 11000.0, 0.0], (n, 1))
    if n == 2:
        x[1] = [60.0, 200.0, 3.0]
    fit = pk.fit_phase_model(x)
    assert len(fit.centers) == 0 and fit.cluster_phase == {}
    assert fit.info == pk.PhaseModelInfo(False, 0.0, 0.0)
