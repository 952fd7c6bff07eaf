"""Flight-phase classification + anomaly detection (reference M1-M7,
``/root/reference/src/combine_spark.py:180-385``).

Hybrid approach, semantics of the reference:
1. Standardize the three features (mean, sample std) and fit K-Means
   with k=3, at most 20 Lloyd's iterations, tolerance 1e-4 (M1-M3).
2. Quality gate: max pairwise centroid distance in normalized space
   < 1.0 → K-Means split a homogeneous population → fall back to
   aeronautical rules (M4).
3. ML path: clusters auto-labeled by ascending avg altitude —
   lowest "Takeoff / Landing", highest "Cruise", middle
   "Climb / Descent" (M5).
4. Anomaly score = Euclidean distance to own centroid in normalized
   space; flagged when > μ + 2σ of the batch distribution (M6-M7).

Deviations from the reference:
- The fit runs on the driver in numpy, not in MLlib. A minute holds a
  few thousand aircraft, so the input is a ~3,000 × 3 matrix; MLlib
  fitted it in ~30 Spark jobs. Here the scored input is materialized
  once and its features are collected with one Arrow ``toPandas()``.
  Above ``MAX_FIT_ROWS`` rows the stage refuses with
  ``OverScaleRefusal``; it never samples.
- The rows are sorted before the fit, and the model is the best (lowest
  SSE) of ``N_STARTS`` seeded k-means++ starts instead of MLlib's one
  k-means|| start, so the output is a function of the input rows alone.
  That several starts find a lower SSE than one has been seen only on
  synthetic traffic, not on a recorded OpenSky snapshot.
- Fewer than ``ML_K_CLUSTERS`` distinct rows (including zero rows)
  take the M4 rules path with every distance 0.0 and threshold 0.0;
  MLlib raised on fewer than 3 rows.
- A constant feature (std 0) normalizes to 0.0 and adds no distance;
  the reference divides by the raw std.
- Everything row-level stays native Spark expressions over literal
  centroids (no Python UDF), written in the same operation order as
  the driver's numpy, so the driver's labels, threshold and anomaly
  count are those of the result rows.

Constants pinned to the reference (``src/combine_spark.py:25-32``).
"""

from __future__ import annotations

import functools
import operator
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from skysafe_datalake_spark.errors import OverScaleRefusal
from skysafe_datalake_spark.functions.phase import (
    PHASE_CLIMB_DESCENT,
    PHASE_CRUISE,
    PHASE_TAKEOFF_LANDING,
    flight_phase_id,
    flight_phase_rules,
)

ML_K_CLUSTERS = 3
ANOMALY_SIGMA = 2.0
MIN_CENTROID_SEPARATION = 1.0
ML_FEATURES = ("velocity", "baro_altitude", "vertical_rate")
# Lloyd's iterations per start and the centre-shift tolerance that
# stops them (MLlib KMeans' defaults).
MAX_ITER = 20
TOL = 1e-4
# Seeded k-means++ starts per fit; the lowest SSE wins, ties by index.
N_STARTS = 10
START_SEEDS = tuple(range(42, 42 + N_STARTS))
# Largest input the driver fits; above it classify_phases refuses
# (OverScaleRefusal) instead of sampling.
MAX_FIT_ROWS = 1_000_000


@dataclass
class PhaseModelInfo:
    used_kmeans: bool
    max_centroid_dist: float
    anomaly_threshold: float
    # Lloyd's iterations, SSE (normalized space) and index of the chosen
    # start; 0, 0.0 and -1 when there was nothing to fit.
    iterations: int = 0
    sse: float = 0.0
    start: int = -1
    anomaly_count: int = 0


@dataclass
class PhaseFit:
    """The driver-side model: what the row-level expressions need."""

    mean: np.ndarray
    std: np.ndarray  # 0.0 for a constant feature
    centers: np.ndarray  # (k, features); no rows when nothing was fitted
    cluster_phase: dict[int, str]  # cluster id → phase; empty on the rules path
    info: PhaseModelInfo


def standardize(x: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(z, mean, std) with the sample std, as ``StandardScaler``. A
    constant column gets std 0.0 and z 0.0, so it adds no distance.
    z is column-major: the fit reads it feature by feature."""
    z = np.zeros(x.shape, order="F")
    mean = np.zeros(x.shape[1])
    std = np.zeros(x.shape[1])
    if len(x):
        mean = x.mean(axis=0)
        for j in np.flatnonzero(x.min(axis=0) != x.max(axis=0)):
            std[j] = x[:, j].std(ddof=1)
            z[:, j] = (x[:, j] - mean[j]) / std[j]
    return z, mean, std


def squared_distances(z: np.ndarray, centers: np.ndarray) -> np.ndarray:
    """(n, k) squared distances, summed feature by feature in the order
    of the row-level Spark expression (see ``_with_phases``)."""
    out = np.empty((len(z), len(centers)), order="F")
    diff = np.empty(len(z))
    for k, c in enumerate(centers):
        acc = out[:, k]
        np.subtract(z[:, 0], c[0], out=acc)
        acc *= acc
        for j in range(1, z.shape[1]):
            np.subtract(z[:, j], c[j], out=diff)
            diff *= diff
            acc += diff
    return out


def _nearest(sq: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Each row's nearest centre and its squared distance, the first
    centre on ties (numpy's argmin, and the Spark expression's)."""
    labels = np.zeros(len(sq), dtype=np.intp)
    best = sq[:, 0].copy()
    for k in range(1, sq.shape[1]):
        labels[sq[:, k] < best] = k
        np.minimum(best, sq[:, k], out=best)
    return labels, best


def _kmeans_pp(z: np.ndarray, seed: int) -> np.ndarray:
    """k-means++ seeding: each next centre is drawn with probability
    proportional to its squared distance to the nearest centre so far."""
    rng = np.random.default_rng(seed)
    centers = [z[rng.integers(len(z))]]
    for _ in range(1, ML_K_CLUSTERS):
        cum = np.cumsum(_nearest(squared_distances(z, np.array(centers)))[1])
        i = int(np.searchsorted(cum, rng.random() * cum[-1], side="right"))
        centers.append(z[min(i, len(z) - 1)])
    return np.array(centers)


def lloyd(z: np.ndarray, seed: int) -> tuple[np.ndarray, float, int]:
    """One seeded start: (centers, SSE, iterations). A cluster left
    empty keeps its centre, as in MLlib."""
    centers = _kmeans_pp(z, seed)
    for iteration in range(1, MAX_ITER + 1):
        labels, _ = _nearest(squared_distances(z, centers))
        counts = np.bincount(labels, minlength=ML_K_CLUSTERS)
        filled = counts > 0
        moved = centers.copy()
        for j in range(z.shape[1]):
            sums = np.bincount(labels, weights=z[:, j], minlength=ML_K_CLUSTERS)
            moved[filled, j] = sums[filled] / counts[filled]
        shift = np.sqrt(((moved - centers) ** 2).sum(axis=1)).max()
        centers = moved
        if shift <= TOL:
            break
    sse = float(_nearest(squared_distances(z, centers))[1].sum())
    return centers, sse, iteration


def fit_phase_model(x: np.ndarray) -> PhaseFit:
    """Fit the minute's phase model on the (rows, ML_FEATURES) matrix
    of imputed features. Pure numpy; the row order does not matter."""
    x = np.asarray(x, dtype=np.float64)
    x = x[np.lexsort(x.T[::-1])]
    z, mean, std = standardize(x)
    if len(np.unique(z, axis=0)) < ML_K_CLUSTERS:
        return PhaseFit(
            mean, std, np.zeros((0, x.shape[1])), {}, PhaseModelInfo(False, 0.0, 0.0)
        )

    starts = [lloyd(z, seed) for seed in START_SEEDS]
    best = min(range(N_STARTS), key=lambda i: (starts[i][1], i))
    centers, sse, iterations = starts[best]

    max_dist = max(
        float(np.linalg.norm(centers[i] - centers[j]))
        for i in range(ML_K_CLUSTERS)
        for j in range(i + 1, ML_K_CLUSTERS)
    )
    used_kmeans = max_dist >= MIN_CENTROID_SEPARATION

    labels, nearest_sq = _nearest(squared_distances(z, centers))
    dist = np.sqrt(nearest_sq)
    # M7: μ + 2σ dynamic threshold (sample stddev, like the reference).
    threshold = float(dist.mean() + ANOMALY_SIGMA * dist.std(ddof=1))

    cluster_phase: dict[int, str] = {}
    if used_kmeans:
        # M5: label the clusters that hold rows by ascending avg altitude.
        alt = x[:, ML_FEATURES.index("baro_altitude")]
        present = sorted(
            np.unique(labels).tolist(), key=lambda c: alt[labels == c].mean()
        )
        for rank, cid in enumerate(present):
            cluster_phase[cid] = (
                PHASE_TAKEOFF_LANDING if rank == 0
                else PHASE_CRUISE if rank == len(present) - 1
                else PHASE_CLIMB_DESCENT
            )
    info = PhaseModelInfo(
        used_kmeans,
        max_dist,
        threshold,
        iterations=iterations,
        sse=sse,
        start=best,
        anomaly_count=int((dist > threshold).sum()),
    )
    return PhaseFit(mean, std, centers, cluster_phase, info)


def _with_phases(df: DataFrame, fit: PhaseFit) -> DataFrame:
    """The model's row-level expressions over literal centroids."""
    if len(fit.centers):
        z = [
            (F.col(feat) - F.lit(float(fit.mean[j]))) / F.lit(float(fit.std[j]))
            if fit.std[j] else F.lit(0.0)
            for j, feat in enumerate(ML_FEATURES)
        ]
        sq = [
            functools.reduce(
                operator.add,
                ((z[j] - F.lit(float(c[j]))) * (z[j] - F.lit(float(c[j])))
                 for j in range(len(z))),
            )
            for c in fit.centers
        ]
        dist = F.sqrt(F.least(*sq))
    else:
        sq, dist = [], F.lit(0.0)
    df = df.withColumn("_dist_to_centroid", dist)

    if fit.cluster_phase:
        # argmin over the clusters, first index on ties (numpy's argmin)
        cid: Column = F.lit(len(sq) - 1)
        for k in reversed(range(len(sq) - 1)):
            closest = functools.reduce(
                operator.and_, (sq[k] <= sq[j] for j in range(k + 1, len(sq)))
            )
            cid = F.when(closest, F.lit(k)).otherwise(cid)
        phase: Column = F.lit("Unknown")
        for k, label in fit.cluster_phase.items():
            phase = F.when(F.col("_ml_cluster_id") == k, F.lit(label)).otherwise(phase)
        df = (
            df.withColumn("_ml_cluster_id", cid)
            .withColumn("flight_phase", phase)
            .withColumn("flight_phase_id", F.col("_ml_cluster_id").cast("int"))
            .drop("_ml_cluster_id")
        )
    else:
        # M4 fallback: aeronautical threshold rules.
        df = df.withColumn(
            "flight_phase",
            flight_phase_rules(
                F.col("baro_altitude"), F.col("velocity"), F.col("vertical_rate")
            ),
        ).withColumn(
            "flight_phase_id", flight_phase_id(F.col("flight_phase")).cast("int")
        )

    threshold = fit.info.anomaly_threshold
    return (
        df.withColumn("is_anomaly", F.col("_dist_to_centroid") > F.lit(threshold))
        .withColumn("anomaly_score", F.round(F.col("_dist_to_centroid"), 4))
        .drop("_dist_to_centroid")
    )


def classify_phases(df: DataFrame) -> tuple[DataFrame, PhaseModelInfo]:
    """Add flight_phase, flight_phase_id, is_anomaly, anomaly_score.

    Input needs the ML_FEATURES columns (nulls imputed to 0.0 first,
    reference ``:193-195``). Returns (result, info). The input is
    materialized by one eager ``localCheckpoint`` (the fit, the caller's
    write and the row-level expressions all read it, so the upstream
    join runs once) and its features reach the driver in one Arrow
    collect; no other Spark job runs here.
    """
    for feat in ML_FEATURES:
        df = df.withColumn(feat, F.coalesce(F.col(feat), F.lit(0.0)))
    rows = Observation()
    df = df.observe(rows, F.count(F.lit(1)).alias("n")).localCheckpoint()
    if rows.get["n"] > MAX_FIT_ROWS:
        raise OverScaleRefusal(
            f"classify_phases fits at most {MAX_FIT_ROWS} rows on the driver, "
            f"got {rows.get['n']}"
        )
    x = df.select(*ML_FEATURES).toPandas().to_numpy(dtype=np.float64)
    fit = fit_phase_model(x)
    return _with_phases(df, fit), fit.info
