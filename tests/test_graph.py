"""connected_components: correctness on known component structures.

The oracle-checked dedup_clusters query only exercises tiny-diameter
near-dup graphs; these tests force multi-round label propagation
(chains), singletons, and the canonical-selection contract.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from skysafe_datalake_spark.operators.graph import (
    connected_components,
    dedup_cluster_assign,
)


def test_chain_converges_to_min_label(spark):
    # 0-1-2-3-4-5 chain: diameter 5 forces several propagation rounds.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src LONG, dst LONG"
    )
    got = {
        (r["node"], r["cluster_id"])
        for r in connected_components(edges).collect()
    }
    assert got == {(i, 0) for i in range(6)}


def test_components_and_singletons(spark):
    # Two components {1,2,3} and {10,11}; 99 isolated via nodes df.
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], "src LONG, dst LONG"
    )
    nodes = spark.createDataFrame([(1,), (2,), (3,), (10,), (11,), (99,)], "id LONG")
    comp = connected_components(edges, nodes=nodes, node_col="id")
    got = {(r["node"], r["cluster_id"]) for r in comp.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (99, 99)}


def test_dedup_cluster_assign_contract(spark):
    pairs = spark.createDataFrame([(5, 7), (7, 9)], "a_id LONG, b_id LONG")
    ids = spark.createDataFrame([(5,), (7,), (9,), (42,)], "doc_id LONG")
    out = dedup_cluster_assign(pairs, ids, "doc_id")
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[5]["cluster_id"] == 5 and rows[5]["is_canonical"]
    assert rows[7]["cluster_id"] == 5 and not rows[7]["is_canonical"]
    assert rows[9]["cluster_size"] == 3
    assert rows[42]["cluster_id"] == 42 and rows[42]["cluster_size"] == 1
    # exactly one canonical per cluster
    n_clusters = out.select("cluster_id").distinct().count()
    n_canonical = out.where("is_canonical").count()
    assert n_clusters == n_canonical == 2


def test_operators_tolerate_empty_inputs(spark):
    """Empty-input robustness (the reference guards this with an
    explicit schema for empty flight batches,
    /root/reference/src/format_flights.py:104): key operators return
    empty, correctly-schemed results instead of raising when a
    micro-batch has no rows."""
    from skysafe_datalake_spark.functions.geo import haversine_km
    from skysafe_datalake_spark.operators import dedup as D
    from skysafe_datalake_spark.operators.nn_join import nearest_neighbor_join
    from skysafe_datalake_spark.operators.temporal import sessionize
    from skysafe_datalake_spark.workload.tables import stations_df

    empty_docs = spark.createDataFrame([], "doc_id LONG, text STRING")
    sigs = D.minhash_signatures(empty_docs, "doc_id", "text")
    assert sigs.count() == 0 and len(sigs.columns) == 9

    pairs = D.minhash_lsh_pairs(sigs, "doc_id")
    assert pairs.count() == 0
    assert pairs.columns == ["a_id", "b_id", "n_matching"]

    empty_events = spark.createDataFrame(
        [], "event_id LONG, user_id LONG, ts TIMESTAMP"
    )
    sess = sessionize(
        empty_events, by=["user_id"], ts="ts", gap_seconds=1800,
        tie_breakers=["event_id"],
    )
    assert sess.count() == 0

    empty_flights = spark.createDataFrame(
        [], "flight_id LONG, lat DOUBLE, lon DOUBLE"
    )
    nn = nearest_neighbor_join(
        empty_flights,
        stations_df(spark),
        partition_by=["flight_id"],
        distance=haversine_km("lat", "lon", "s_lat", "s_lon"),
        tie_breakers=["station_id"],
    )
    assert nn.count() == 0
    assert "dist_km" in nn.columns


def test_star_contraction_handles_long_chain(spark):
    """large-star/small-star converges on a 64-node chain (diameter
    63) within its O(log²n) round budget — the graph shape where
    plain min-label propagation would need 63 rounds."""
    from skysafe_datalake_spark.operators.graph import connected_components_star

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)] + [(100, 101)], "src LONG, dst LONG"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in range(64)] + [(100,), (101,), (999,)], "id LONG"
    )
    got = {
        (r["node"], r["cluster_id"])
        for r in connected_components_star(
            edges, nodes=nodes, node_col="id"
        ).collect()
    }
    want = {(i, 0) for i in range(64)} | {(100, 100), (101, 100), (999, 999)}
    assert got == want


def test_connected_components_raises_on_max_iter_exhaustion(spark):
    """A chain with diameter > max_iter must fail loudly, not return
    partially-propagated (wrong) labels (ADVICE round 1)."""
    import pytest

    from skysafe_datalake_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(chain, max_iter=3)
    # with budget it converges fine
    ok = connected_components(chain, max_iter=15)
    assert {r["cluster_id"] for r in ok.collect()} == {0}


def test_simhash_pairs_guard_rejects_unreachable_hamming(spark):
    import pytest

    from skysafe_datalake_spark.operators.dedup import simhash_neardup_pairs

    sigs = spark.createDataFrame([(1, 3), (2, 5)], "doc_id long, simhash long")
    with pytest.raises(ValueError, match="n_bands"):
        simhash_neardup_pairs(sigs, "doc_id", n_bands=4, max_hamming=4)


def test_connected_components_rejects_string_ids(spark):
    """Both variants converge on SUM-based id fingerprints, valid only
    for numeric labels; string ids made the sum NULL, None == None
    declared convergence after ONE round, and callers got silently
    wrong labels (round-9 review). The documented precondition is now
    enforced loudly."""
    import pytest

    from skysafe_datalake_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    with pytest.raises(TypeError, match="numeric node ids"):
        connected_components(edges)
    with pytest.raises(TypeError, match="numeric node ids"):
        connected_components_star(edges)


def test_nn_join_null_distance_never_wins(spark):
    """A right row with NULL coordinates yields a NULL Haversine; in
    min(struct) a NULL first field sorts FIRST, so without the
    null-flag guard that one garbage row became EVERY left row's
    nearest neighbor (round-9 review). Both strategies must rank
    nulls last: argmin (k=1) and the window (k=2)."""
    from pyspark.sql import functions as F

    from skysafe_datalake_spark.functions.geo import haversine_km
    from skysafe_datalake_spark.operators.nn_join import (
        nearest_neighbor_join,
    )

    left = spark.createDataFrame(
        [(1, 10.0, 10.0)], "fid long, lat double, lon double"
    )
    right = spark.createDataFrame(
        [(100, 10.1, 10.1), (999, None, None)],
        "sid long, s_lat double, s_lon double",
    )
    dist = haversine_km("lat", "lon", "s_lat", "s_lon")
    row = nearest_neighbor_join(
        left, right, ["fid"], dist, tie_breakers=["sid"]
    ).collect()[0]
    assert row["sid"] == 100
    assert row["dist_km"] is not None
    ranked = nearest_neighbor_join(
        left, right, ["fid"], dist, k=2, tie_breakers=["sid"], rank_name="rank"
    ).collect()
    by_rank = {r["rank"]: r for r in ranked}
    assert sorted(by_rank) == [1, 2]
    assert by_rank[1]["sid"] == 100 and by_rank[1]["dist_km"] is not None
    assert by_rank[2]["sid"] == 999
    # all-null candidates: the key still emits (with NULL distance)
    # on the argmin path rather than vanishing
    only_null = spark.createDataFrame(
        [(999, None, None)], "sid long, s_lat double, s_lon double"
    )
    row = nearest_neighbor_join(
        left, only_null, ["fid"], dist, tie_breakers=["sid"]
    ).collect()[0]
    assert row["sid"] == 999 and row["dist_km"] is None


def test_pagerank_leaves_no_session_cache_residue(spark):
    """Session-hygiene pin for the r13 fix: pagerank's builder must
    materialize its result off the hot caches and UNPERSIST them
    before returning. The first r13 version left pairs/nodes/edges
    persisted; rebuilding the query in a long-lived session then
    interacted with the stale entries and walls grew monotonically
    per rebuild (full-sweep passes 22.9/57.4/42.0 s vs 3.7 s
    isolated). A leaked entry here would also silently serve a later
    build's canonically-equal subtree from stale blocks — the
    cross-run caching the bench rules forbid."""
    from tests.conftest import SF_SMALL

    from skysafe_datalake_spark.workload import QUERIES

    spark.catalog.clearCache()
    df = QUERIES["pagerank_integer"](spark, SF_SMALL)
    # cacheManager().isEmpty() is a classic-mode JVM accessor (ADVICE
    # r13): under Spark Connect there is no _jsparkSession — skip
    # rather than fail; the public catalog surface has no "no cached
    # plans at all" probe (isCached needs a name per entry).
    if not hasattr(spark, "_jsparkSession"):
        import pytest

        pytest.skip("cacheManager probe is classic-mode-only")
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), (
        "pagerank_integer left persisted entries in the session cache"
    )
    # The returned frame must still be fully consumable after the
    # builder freed its intermediates (result was cut eagerly).
    assert df.count() > 0
