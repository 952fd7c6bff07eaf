"""Nearest-neighbor (top-k by distance) join — the reference's
signature operator (``/root/reference/src/combine_spark.py:104-122``:
crossJoin + Haversine + row_number per key, keep rank 1).

Spark-first re-expression with two physical strategies:

``argmin`` (k=1)
    broadcast cross join → per-row distance → ``groupBy(keys).agg(
    min(struct(order, payload)))``. The min over a struct runs as
    SortAggregate (struct buffers aren't hash-aggregatable), with a
    Sort on both sides of the exchange, but it still combines
    MAP-SIDE: each task reduces its |right| candidates per key to 1
    *before* the shuffle, so the exchange carries exactly one row per
    left row regardless of |right|. No window. Shuffle volume == |left|.

``window`` (k > 1)
    broadcast cross join → ``row_number() OVER (PARTITION BY keys
    ORDER BY dist)`` → ``rank <= k``. Shuffles |left|·|right| rows.

For a right side too large to broadcast, pre-bucket both sides with
:func:`skysafe_datalake_spark.functions.geo.grid_cell` and equi-join
on candidate cells before applying this operator per cell.

Determinism: ties on distance are broken by ``tie_breakers`` (total
order), so results are reproducible across engines and runs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _argmin(
    joined: DataFrame,
    partition_by: Sequence[str],
    rank_on: Column,
    tie_breakers: Sequence[str],
) -> DataFrame:
    """groupBy(keys).agg(min(struct(order, ties, payload))) — the
    map-side-combining argmin reduction shared by the broadcast and
    grid strategies. Shuffle carries ≤ 1 row per key per task.

    A NULL ``rank_on`` (e.g. Haversine over a right row with NULL
    coordinates) must LOSE the argmin, not win it: struct min compares
    fields ascending with nulls FIRST, so without the leading
    null-flag field one garbage right row would become every left
    row's nearest neighbor. Keys whose candidates are ALL null-ranked
    still emit their (null-distance) row rather than vanishing."""
    payload = [c for c in joined.columns if c not in partition_by]
    ordered = joined.select(
        *partition_by,
        F.struct(
            rank_on.isNull().cast("int").alias("_null"),
            rank_on.alias("_ord"),
            *[F.col(c).alias(f"_t{i}") for i, c in enumerate(tie_breakers)],
            F.struct(*payload).alias("_row"),
        ).alias("_s"),
    )
    best = ordered.groupBy(*partition_by).agg(F.min("_s").alias("_m"))
    return best.select(
        *partition_by, *[F.col(f"_m._row.{c}").alias(c) for c in payload]
    )


def nearest_neighbor_join(
    left: DataFrame,
    right: DataFrame,
    partition_by: Sequence[str],
    distance: Column,
    *,
    k: int = 1,
    distance_name: str = "dist_km",
    order_by: Column | None = None,
    tie_breakers: Sequence[str] = (),
    rank_name: str | None = None,
) -> DataFrame:
    """Join each left row to its k nearest right rows, through a
    broadcast of ``right``: the argmin strategy when ``k == 1``, the
    window strategy otherwise.

    Parameters
    ----------
    partition_by : left-side key columns identifying a left row.
    distance : Column expression over columns of both sides.
    order_by : optional expression to rank by (defaults to the raw
        distance). Pass e.g. ``F.round(col, 6)`` to make ranking
        robust to sub-microscale FP divergence across engines.
    tie_breakers : right-side columns appended to the ordering for a
        total (deterministic) order.
    rank_name : if set, keep the 1-based neighbour rank under this
        column name. On the k=1 argmin path the rank is trivially 1
        and is emitted as a literal so downstream projections work
        identically under either strategy.
    """
    joined = left.crossJoin(F.broadcast(right)).withColumn(distance_name, distance)
    rank_on = order_by if order_by is not None else F.col(distance_name)

    if k == 1:
        out = _argmin(joined, partition_by, rank_on, tie_breakers)
        if rank_name is not None:
            out = out.withColumn(rank_name, F.lit(1).cast("int"))
        return out

    # nulls LAST: a NULL distance must not outrank every real one
    # (default asc is nulls-first).
    w = Window.partitionBy(*partition_by).orderBy(
        rank_on.asc_nulls_last(), *[F.col(c).asc() for c in tie_breakers]
    )
    ranked = joined.withColumn("_nn_rank", F.row_number().over(w)).filter(
        F.col("_nn_rank") <= k
    )
    if rank_name is None:
        return ranked.drop("_nn_rank")
    return ranked.withColumnRenamed("_nn_rank", rank_name)


def grid_nn_join(
    left: DataFrame,
    right: DataFrame,
    *,
    partition_by: Sequence[str],
    left_lat: str,
    left_lon: str,
    right_lat: str,
    right_lon: str,
    distance: Column,
    cell_deg: float,
    ring: int = 2,
    distance_name: str = "dist_km",
    order_by: Column | None = None,
    tie_breakers: Sequence[str] = (),
    keep: Sequence[str] | None = None,
    unmatched: str = "drop",
) -> DataFrame:
    """Nearest-neighbor join for right sides TOO LARGE TO BROADCAST:
    grid-cell candidate equi-join instead of a cross join.

    ``keep``: optional column whitelist (beyond ``partition_by``) to
    carry through the argmin. min(struct) aggregates run as
    SortAggregate (struct buffers aren't hash-aggregatable), so every
    byte of payload is SORTED once per candidate row — trimming to
    the columns the caller actually needs shrinks that sort
    proportionally. Default keeps everything.

    Both sides are bucketed into ``cell_deg``-degree grid cells. The
    ring expansion happens on the RIGHT side: each right row is
    replicated into the (2·ring+1)² cells around its own, so a left
    row finds every right row within ``ring`` cells by probing its
    SINGLE cell — a plain shuffled hash equi-join on (cell_x,
    cell_y). "Right point within ring of left's cell" ⟺ "left's cell
    within ring of right's cell", so the candidate set is identical
    to exploding the left side — but the shuffle is |left| +
    (2·ring+1)²·|right| instead of (2·ring+1)²·|left|, and in the
    NN-join regime |right| ≪ |left| by orders of magnitude (the
    left-exploding variant measured 10x super-linear in the 8x scale
    smoke; this one stays linear). The per-key argmin then reduces
    candidates with map-side partial combine. The expanded right
    side can further be WRITTEN bucketed by cell to make its side of
    the join shuffle-free.

    CORRECTNESS CONTRACT: the true nearest neighbor must lie within
    the probed ring, i.e. every left point must have some candidate
    at distance < the minimum possible distance to any out-of-ring
    point (≥ ring·cell_deg along an axis). This holds whenever the
    right side has at least one point in every cell of the domain
    and ``ring >= 2`` (in-cell worst case ≈ 0.71·cell_deg <
    2·cell_deg even after longitude cos-shrink up to ~60°).

    ``unmatched`` controls left rows with NO candidate in their ring
    (a density-contract violation):

    ``"drop"`` (default)
        They are absent from the output — correct when cell_deg/ring
        were chosen from the right side's guaranteed density.
    ``"error"``
        Raise ``ValueError`` with the dropped-row count: turns a
        silent contract violation into a loud one. Costs one extra
        anti-join count over the (cheap, post-argmin) result.
    ``"broadcast"``
        Route only the unmatched left rows through the exact
        broadcast cross-join path and union them back — no row loss,
        bounded extra cost (|unmatched| · |right| candidate pairs).
        Note this repairs only ZERO-candidate rows; matched rows keep
        their in-ring argmin, which equals the true NN only under the
        density contract. ``distance`` must be built from name-based
        column refs (``F.col``) so it resolves in both join shapes.
    """
    from skysafe_datalake_spark.operators.dedup import spread_to_cores

    if unmatched not in ("drop", "error", "broadcast"):
        raise ValueError(f"unknown unmatched policy {unmatched!r}")
    if keep is not None:
        keep_set = set(keep)
        missing = [c for c in tie_breakers if c not in keep_set]
        if order_by is None and distance_name not in keep_set:
            missing.append(distance_name)
        if missing:
            raise ValueError(
                "grid_nn_join keep= must retain the ranking columns; "
                f"missing {missing!r} (tie_breakers, and distance_name "
                "when order_by is None)"
            )

    deltas = F.array(*[F.lit(d) for d in range(-ring, ring + 1)])
    # The join+distance+argmin-partial all run in the left scan's
    # stage; a left side read from few splits would pin the whole
    # (2·ring+1)²-expanded pipeline to those tasks. Rebalance the
    # COMPACT pre-join rows to core parallelism when needed (no-op on
    # well-split inputs).
    left = spread_to_cores(left, partition_by[0])
    cells_l = left.withColumn(
        "_cx", F.floor(F.col(left_lat) / F.lit(cell_deg)).cast("long")
    ).withColumn("_cy", F.floor(F.col(left_lon) / F.lit(cell_deg)).cast("long"))
    expanded_r = (
        right.withColumn(
            "_rcx", F.floor(F.col(right_lat) / F.lit(cell_deg)).cast("long")
        )
        .withColumn(
            "_rcy", F.floor(F.col(right_lon) / F.lit(cell_deg)).cast("long")
        )
        .withColumn("_dx", F.explode(deltas))
        .withColumn("_cx", F.col("_rcx") + F.col("_dx"))
        .withColumn("_dy", F.explode(deltas))
        .withColumn("_cy", F.col("_rcy") + F.col("_dy"))
        .drop("_rcx", "_rcy", "_dx", "_dy")
    )
    joined = (
        cells_l.join(expanded_r, ["_cx", "_cy"])
        .drop("_cx", "_cy")
        .withColumn(distance_name, distance)
    )
    if keep is not None:
        cols = list(partition_by) + [
            c for c in joined.columns if c in set(keep) and c not in partition_by
        ]
        joined = joined.select(*cols)
    rank_on = order_by if order_by is not None else F.col(distance_name)
    result = _argmin(joined, partition_by, rank_on, tie_breakers)
    if unmatched == "drop":
        return result

    # The anti-join probe AND the caller's action both reference
    # `result`; unmaterialized, the whole (2·ring+1)²-expanded join +
    # argmin would run twice (once for the probe's count/union, once
    # for the final action). Checkpoint the post-argmin rows (≤ |left|)
    # so the dominant cost is paid exactly once.
    result = result.localCheckpoint(eager=True)
    unmatched_left = left.join(
        result.select(*partition_by), list(partition_by), "left_anti"
    )
    if unmatched == "error":
        n_dropped = unmatched_left.count()
        if n_dropped:
            raise ValueError(
                f"grid_nn_join dropped {n_dropped} left rows with no "
                f"candidate within ring={ring} of cell_deg={cell_deg} — "
                "the right-side density contract is violated; widen the "
                "ring/cells or use unmatched='broadcast'"
            )
        return result

    fallback = nearest_neighbor_join(
        unmatched_left,
        right,
        partition_by,
        distance,
        distance_name=distance_name,
        order_by=order_by,
        tie_breakers=tie_breakers,
    )
    return result.unionByName(fallback.select(*result.columns))
