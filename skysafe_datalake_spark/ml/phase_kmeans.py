"""Flight-phase classification + anomaly detection (reference M1-M7,
``/root/reference/src/combine_spark.py:180-385``).

Hybrid approach, semantics identical to the reference:
1. ``VectorAssembler → StandardScaler(mean,std) → KMeans(k=3,
   seed=42, maxIter=20)`` per batch (M1-M3).
2. Quality gate: max pairwise centroid distance in normalized space
   < 1.0 → K-Means split a homogeneous population → fall back to
   aeronautical rules (M4).
3. ML path: clusters auto-labeled by ascending avg altitude —
   lowest "Takeoff / Landing", highest "Cruise", middle
   "Climb / Descent" (M5).
4. Anomaly score = Euclidean distance to own centroid in normalized
   space; flagged when > μ + 2σ of the batch distribution (M6-M7).

Spark-first deviations (behavior-preserving, scale-motivated):
- centroids/means/stds join the rows via a BROADCAST 3-row table
  instead of literal-embedded ``when`` chains (M6's idiomatic form —
  same arithmetic, but the plan stays data-independent);
- multi-action sections are ``cache()``'d (the reference recomputes
  lineage on every count/fit/agg — §4 anti-pattern);
- the fit input gets a canonical layout set here, not by the session
  (see ``classify_phases``), so the output is a function of the input
  rows alone.

Constants pinned to the reference (``src/combine_spark.py:25-32``).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
# Rows per partition of the canonical fit layout (see classify_phases);
# any minute-sized batch is one partition.
ROWS_PER_PARTITION = 1_000_000


@dataclass
class PhaseModelInfo:
    used_kmeans: bool
    max_centroid_dist: float
    anomaly_threshold: float


def classify_phases(df: DataFrame) -> tuple[DataFrame, PhaseModelInfo]:
    """Add flight_phase, flight_phase_id, is_anomaly, anomaly_score.

    Input needs the ML_FEATURES columns (nulls imputed to 0.0 first,
    reference ``:193-195``). Returns (result, info). One count, one
    fit and two aggregations per batch; everything row-level is
    native expressions over a broadcast centroid table.
    """
    import numpy as np
    from pyspark.ml import Pipeline
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import StandardScaler, VectorAssembler

    spark = df.sparkSession
    for feat in ML_FEATURES:
        df = df.withColumn(feat, F.coalesce(F.col(feat), F.lit(0.0)))

    assembler = VectorAssembler(
        inputCols=list(ML_FEATURES), outputCol="_ml_features_raw"
    )
    scaler = StandardScaler(
        inputCol="_ml_features_raw",
        outputCol="_ml_features",
        withStd=True,
        withMean=True,
    )
    kmeans = KMeans(
        featuresCol="_ml_features",
        predictionCol="_ml_cluster_id",
        k=ML_K_CLUSTERS,
        seed=42,
        maxIter=20,
    )
    # Canonical layout, set by the engine rather than the session:
    # k-means|| seeds each partition by its index and samples in row
    # order, so an inherited layout (shuffle partitions, AQE, cores)
    # would change the model. Keyed and sorted on every column by name;
    # the partition count depends on the row count alone. AQE never
    # coalesces a cached plan, so n is also each K-Means pass's task
    # count. Fit, transform, label stats and threshold read this frame.
    cols = sorted(df.columns)
    n = max(1, math.ceil(df.count() / ROWS_PER_PARTITION))
    df = df.repartition(n, *cols).sortWithinPartitions(*cols).cache()
    # try/finally: foreachBatch retries a failed batch, and each retry
    # would otherwise leave a cached copy in the CacheManager.
    try:
        model = Pipeline(stages=[assembler, scaler, kmeans]).fit(df)

        centers = model.stages[-1].clusterCenters()
        max_dist = 0.0
        for i in range(len(centers)):
            for j in range(i + 1, len(centers)):
                max_dist = max(max_dist, float(np.linalg.norm(centers[i] - centers[j])))
        used_kmeans = max_dist >= MIN_CENTROID_SEPARATION

        # M6 before M5: the distance to the own centroid needs only the
        # cluster id, so transform → centroid join → distance is one
        # localCheckpoint that the label stats, the threshold and the
        # caller's action all reuse; the 1:1 broadcast join keeps the
        # canonical layout. Centroids join as a broadcast 3-row table
        # (the reference's literal when-chains,
        # src/combine_spark.py:332-362, with the same arithmetic).
        scaler_model = model.stages[1]
        means = scaler_model.mean.toArray()
        stds = scaler_model.std.toArray()
        centroid_rows = [
            (int(cid), *[float(x) for x in center]) for cid, center in enumerate(centers)
        ]
        centroids = spark.createDataFrame(
            centroid_rows, "_ml_cluster_id int, c_vel double, c_alt double, c_vr double"
        )

        # A constant feature has std 0; normalize by 1 so it contributes
        # zero distance (the reference divides by the raw std and would
        # blow up on degenerate batches under ANSI SQL).
        norm = [
            (F.col(feat) - F.lit(float(means[i]))) / F.lit(float(stds[i]) or 1.0)
            for i, feat in enumerate(ML_FEATURES)
        ]
        dist = F.sqrt(
            (norm[0] - F.col("c_vel")) * (norm[0] - F.col("c_vel"))
            + (norm[1] - F.col("c_alt")) * (norm[1] - F.col("c_alt"))
            + (norm[2] - F.col("c_vr")) * (norm[2] - F.col("c_vr"))
        )
        scored = (
            model.transform(df)
            .drop("_ml_features_raw", "_ml_features")
            .join(F.broadcast(centroids), "_ml_cluster_id")
            .withColumn("_dist_to_centroid", dist)
            .localCheckpoint(eager=False)
        )

        if used_kmeans:
            # M5: label clusters by ascending avg altitude.
            stats = (
                scored.groupBy("_ml_cluster_id")
                .agg(F.avg("baro_altitude").alias("avg_altitude"))
                .collect()
            )
            ranked = sorted(stats, key=lambda r: r["avg_altitude"])
            labels = {}
            for i, row in enumerate(ranked):
                if i == 0:
                    labels[row["_ml_cluster_id"]] = PHASE_TAKEOFF_LANDING
                elif i == len(ranked) - 1:
                    labels[row["_ml_cluster_id"]] = PHASE_CRUISE
                else:
                    labels[row["_ml_cluster_id"]] = PHASE_CLIMB_DESCENT
            phase = F.lit("Unknown")
            for cid, label in labels.items():
                phase = F.when(F.col("_ml_cluster_id") == cid, F.lit(label)).otherwise(
                    phase
                )
            scored = scored.withColumn("flight_phase", phase).withColumn(
                "flight_phase_id", F.col("_ml_cluster_id").cast("int")
            )
        else:
            # M4 fallback: aeronautical threshold rules.
            scored = scored.withColumn(
                "flight_phase",
                flight_phase_rules(
                    F.col("baro_altitude"), F.col("velocity"), F.col("vertical_rate")
                ),
            ).withColumn(
                "flight_phase_id", flight_phase_id(F.col("flight_phase")).cast("int")
            )

        # M7: μ + 2σ dynamic threshold (sample stddev, like the reference).
        st = scored.select(
            F.avg("_dist_to_centroid").alias("m"),
            F.stddev("_dist_to_centroid").alias("s"),
        ).first()
        threshold = float(st["m"]) + ANOMALY_SIGMA * float(st["s"] or 0.0)

        result = (
            scored.withColumn("is_anomaly", F.col("_dist_to_centroid") > F.lit(threshold))
            .withColumn("anomaly_score", F.round(F.col("_dist_to_centroid"), 4))
            .drop("_dist_to_centroid", "_ml_cluster_id", "c_vel", "c_alt", "c_vr")
        )
        return result, PhaseModelInfo(used_kmeans, max_dist, threshold)
    finally:
        df.unpersist()
