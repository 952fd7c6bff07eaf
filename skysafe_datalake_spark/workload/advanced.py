"""Advanced relational + scale-pattern operators.

Capabilities beyond the reference's own surface that a general query
engine must expose (SURVEY.md §2.3/§2.4 "not implemented" rows, §4
Catalyst built-ins): correlated EXISTS/NOT EXISTS (decorrelated to
semi/anti joins), scalar subqueries, CUBE grouping sets, window frame
specs — plus the two patterns that matter most at 100 TB: salted
two-stage aggregation for skewed keys, and broadcast decode-map joins
replacing literal CASE chains (reference F2,
/root/reference/src/combine_spark.py:277-318). Every query here is
DuckDB-oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from skysafe_datalake_spark.workload.registry import register
from skysafe_datalake_spark.workload.tables import EVENTS_SQL, load, pround


@register(
    "subquery_exists",
    """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT')
  AND NOT EXISTS (SELECT 1 FROM orders o2
                  WHERE o2.o_custkey = c.c_custkey
                    AND o2.o_orderstatus = 'F')
""",
)
def subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS through the SQL surface:
    Catalyst decorrelates both to hash joins (left-semi + left-anti)
    — no per-row subquery execution, fully shuffle-parallel. The
    plan is identical to hand-written ``join(how="semi"/"anti")``."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("sq_customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("sq_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_mktsegment
        FROM sq_customer c
        WHERE EXISTS (SELECT 1 FROM sq_orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
          AND NOT EXISTS (SELECT 1 FROM sq_orders o2
                          WHERE o2.o_custkey = c.c_custkey
                            AND o2.o_orderstatus = 'F')
        """
    )


@register(
    "subquery_scalar",
    """
SELECT p_partkey, p_name, p_retailprice
FROM part
WHERE p_retailprice > (
  SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
  FROM part
)
""",
)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery as filter threshold (parts above mean retail
    price). The subquery becomes a one-row broadcast (Catalyst
    ScalarSubquery), not a per-row re-evaluation. Mean is computed as
    exact-decimal sum / count so both engines derive the bit-identical
    double threshold."""
    load(spark, sf_dir, "part").createOrReplaceTempView("sq_part")
    return spark.sql(
        """
        SELECT p_partkey, p_name, p_retailprice
        FROM sq_part
        WHERE p_retailprice > (
          SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*)
          FROM sq_part
        )
        """
    )


@register(
    "grouping_cube",
    """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def grouping_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets with GROUPING() flags — one pass computes
    all 4 aggregation levels (Spark expands to a single shuffle with
    a grouping-set id column; no N-pass union). Quantities sum as
    exact decimals for cross-engine parity."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "g_flag",
            "g_status",
            "sum_qty",
            "n_rows",
        )
    )


@register(
    "salted_skew_agg",
    f"""
WITH e AS ({EVENTS_SQL})
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
FROM e
GROUP BY event_type
""",
)
def salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant aggregation: 5 distinct event_type keys would
    hash to ≤5 reducers no matter the cluster size, so stage one
    groups by (key, salt) — spreading each hot key over 16 reducers —
    and stage two merges the 16 partials per key. Decimal sums make
    the two-stage result bit-identical to the oracle's one-stage
    plan. (Same final result as a plain groupBy; this query IS the
    at-scale execution strategy, oracle-checked against the naive
    plan. AQE skew-join handles the join-side analogue.)"""
    e = load(spark, sf_dir, "events")
    n_salts = 16
    partial = (
        e.withColumn("_salt", (F.col("event_id") % n_salts).cast("int"))
        .groupBy("event_type", "_salt")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("_s"),
        )
    )
    return (
        partial.groupBy("event_type")
        .agg(F.sum("_n").alias("n_events"), F.sum("_s").alias("_sum"))
        .select(
            "event_type",
            "n_events",
            F.col("_sum").cast("double").alias("sum_value"),
            (F.col("_sum").cast("double") / F.col("n_events")).alias("avg_value"),
        )
    )


_EVENT_DECODE = [
    ("click", "engagement", 1),
    ("view", "engagement", 1),
    ("signup", "conversion", 5),
    ("purchase", "conversion", 10),
    ("error", "diagnostic", 0),
]

_DECODE_CTE = (
    "decode(event_type, category, weight) AS (VALUES "
    + ", ".join(f"('{t}', '{c}', {w})" for t, c, w in _EVENT_DECODE)
    + ")"
)


@register(
    "decode_map_join",
    f"""
WITH e AS ({EVENTS_SQL}),
{_DECODE_CTE}
SELECT e.event_id, e.event_type,
       coalesce(d.category, 'other') AS category,
       CAST(coalesce(d.weight, 0) AS INTEGER) AS weight,
       e.value * coalesce(d.weight, 0) AS weighted_value
FROM e LEFT JOIN decode d ON e.event_type = d.event_type
""",
)
def decode_map_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-map as a broadcast lookup join — the idiomatic
    replacement for the reference's loop-built CASE WHEN chains
    (/root/reference/src/combine_spark.py:277-318): the mapping
    lives in a 5-row table that broadcasts to every executor (zero
    shuffle of the fact side) and can grow to thousands of entries
    without recompiling an expression tree."""
    e = load(spark, sf_dir, "events")
    decode = F.broadcast(
        spark.createDataFrame(
            _EVENT_DECODE, "event_type STRING, category STRING, weight INT"
        )
    )
    return e.join(decode, ["event_type"], "left").select(
        "event_id",
        "event_type",
        F.coalesce(F.col("category"), F.lit("other")).alias("category"),
        F.coalesce(F.col("weight"), F.lit(0)).cast("int").alias("weight"),
        (F.col("value") * F.coalesce(F.col("weight"), F.lit(0))).alias(
            "weighted_value"
        ),
    )


@register(
    "window_moving_avg",
    f"""
WITH e AS ({EVENTS_SQL})
SELECT event_id, user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS mov_sum,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
         / COUNT(*) OVER w AS mov_avg
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
""",
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame spec (ROWS BETWEEN): 4-row moving sum/average per
    user — the frame family the reference never uses (SURVEY.md §2.5:
    only unbounded row_number). Decimal sums keep the sliding frame
    bit-identical across engines; (ts, event_id) ordering is total,
    so the frame contents are deterministic."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    dec_sum = F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double")
    return e.select(
        "event_id",
        "user_id",
        dec_sum.alias("mov_sum"),
        (dec_sum / F.count(F.lit(1)).over(w)).alias("mov_avg"),
    )


@register(
    "session_window_agg",
    f"""
WITH e AS ({EVENTS_SQL}),
s AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
g AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sess
  FROM s
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM g GROUP BY user_id, sess
""",
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in session_window() aggregation, batch mode (identical
    plan works on a stream — streaming.driver.session_window_agg).
    The oracle derives the same sessions with lag + running-sum SQL,
    proving Spark's native session windows match classic SQL
    sessionization. One shuffle by user_id; session merge happens
    inside the aggregation, no self-join."""
    from skysafe_datalake_spark.streaming.driver import session_window_agg as swa

    return swa(load(spark, sf_dir, "events"), gap="30 minutes")


_IVF_COS = "list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"


@register(
    "ann_ivf_topk",
    f"""
WITH q AS (
  SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id < 10
),
c AS (
  SELECT vec_id AS c_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings WHERE vec_id >= 10
),
cent AS (
  SELECT c_id AS cell_id, cv AS cent_v FROM c ORDER BY c_id LIMIT 8
),
inv AS (
  SELECT c_id, cv, cell_id FROM (
    SELECT c.c_id, c.cv, cent.cell_id,
           row_number() OVER (
             PARTITION BY c.c_id
             ORDER BY floor(({_IVF_COS.format(a="c.cv", b="cent.cent_v")}) * 1000000.0 + 0.5) / 1000000.0 DESC,
                      cent.cell_id) AS rn
    FROM c CROSS JOIN cent) t WHERE rn = 1
),
probes AS (
  SELECT q_id, qv, cell_id FROM (
    SELECT q.q_id, q.qv, cent.cell_id,
           row_number() OVER (
             PARTITION BY q.q_id
             ORDER BY floor(({_IVF_COS.format(a="q.qv", b="cent.cent_v")}) * 1000000.0 + 0.5) / 1000000.0 DESC,
                      cent.cell_id) AS rn
    FROM q CROSS JOIN cent) t WHERE rn <= 2
),
scored AS (
  SELECT p.q_id, i.c_id, i.cell_id,
         {_IVF_COS.format(a="p.qv", b="i.cv")} AS cosine_raw
  FROM inv i JOIN probes p USING (cell_id)
),
ranked AS (
  SELECT q_id, c_id, cell_id, cosine_raw,
         CAST(row_number() OVER (
           PARTITION BY q_id
           ORDER BY floor(cosine_raw * 1000000.0 + 0.5) / 1000000.0 DESC, c_id
         ) AS INTEGER) AS rank
  FROM scored
)
SELECT q_id, c_id, cell_id,
       floor(cosine_raw * 10000.0 + 0.5) / 10000.0 AS cosine,
       rank
FROM ranked WHERE rank <= 5
""",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN top-5: corpus coarse-quantized into 8 inverted
    lists, queries probe their 2 nearest cells, exact cosine only
    within probed cells (operators.similarity.ivf_topk). Centroid
    "training" is stubbed deterministically (8 lowest-id corpus
    vectors) so the oracle can derive identical cells; production
    swaps in sampled k-means centroids — the dataflow (broadcast
    assign → equi-join on cell → windowed top-k) is unchanged, and
    at scale the corpus can be bucketed by cell_id making the probe
    join shuffle-free."""
    from skysafe_datalake_spark.operators.similarity import ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("c_id"), "embedding"
    )
    centroids = (
        corpus.orderBy("c_id")
        .limit(8)
        .select(F.col("c_id").alias("cell_id"), "embedding")
    )
    out = ivf_topk(
        queries,
        corpus,
        centroids,
        query_id="q_id",
        corpus_id="c_id",
        vec="embedding",
        k=5,
        nprobe=2,
    )
    return out.select(
        "q_id",
        "c_id",
        "cell_id",
        pround(F.col("cosine_raw"), 4).alias("cosine"),
        "rank",
    )


@register(
    "array_functions",
    """
SELECT vec_id,
       len(embedding) AS dim,
       len(list_filter(embedding, x -> x > 0)) AS n_pos,
       CAST(list_max(embedding) AS DOUBLE) AS max_val,
       CAST(list_min(embedding) AS DOUBLE) AS min_val,
       floor(list_sum(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
             * 10000.0 + 0.5) / 10000.0 AS l1_norm
FROM embeddings
""",
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over embedding columns — the
    collection-type surface (size/filter/transform/aggregate,
    array_max/min) the reference never touches (SURVEY.md §1.2 "not
    used: arrays"). All JVM lambda expressions inside codegen: the
    per-element work never leaves the executor, no UDFs. The L1 fold
    is a sequential left-to-right aggregate — deterministic, matching
    the oracle's list_sum."""
    emb = load(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    l1 = F.aggregate(
        F.transform(v, lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return emb.select(
        "vec_id",
        F.size(v).alias("dim"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_pos"),
        F.array_max(v).cast("double").alias("max_val"),
        F.array_min(v).cast("double").alias("min_val"),
        pround(l1, 4).alias("l1_norm"),
    )


@register(
    "window_navigation",
    f"""
WITH e AS ({EVENTS_SQL})
SELECT event_id, user_id,
       lag(value) OVER w AS prev_value,
       lead(value) OVER w AS next_value,
       first_value(value) OVER w AS first_seen_value,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation window family (lag/lead/first_value/ntile) over a
    total per-key order — one shuffle by user_id serves all four
    functions (they share the window spec, so Catalyst computes them
    in a single Window operator pass)."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.first("value").over(w).alias("first_seen_value"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


@register(
    "unpivot_long",
    """
SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val FROM part
""",
)
def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) wide → long, the inverse of pivot_wide: Spark's
    native unpivot expands columns to rows in a single Generate pass
    over the scan — no shuffle, no N self-scans like the UNION ALL
    the oracle spells out."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    ).unpivot(
        ["p_partkey"],
        ["p_size", "p_retailprice"],
        "metric",
        "val",
    )


@register(
    "window_distribution",
    """
SELECT l_orderkey, l_linenumber, l_returnflag,
       floor(percent_rank() OVER w * 1000000.0 + 0.5) / 1000000.0 AS pct_rank,
       floor(cume_dist() OVER w * 1000000.0 + 0.5) / 1000000.0 AS cdist,
       nth_value(l_quantity, 2) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS second_qty
FROM lineitem
WHERE l_orderkey % 13 = 0
WINDOW w AS (PARTITION BY l_returnflag
             ORDER BY l_quantity, l_orderkey, l_linenumber)
""",
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window family (percent_rank / cume_dist /
    nth_value) — the remaining SQL:2003 window group. Total ordering
    via tie-breakers makes the distribution values cross-engine
    exact ((rank-1)/(n-1) and k/n are single IEEE divisions)."""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 13 == 0)
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_quantity", "l_orderkey", "l_linenumber"
    )
    wrows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        pround(F.percent_rank().over(w), 6).alias("pct_rank"),
        pround(F.cume_dist().over(w), 6).alias("cdist"),
        F.nth_value(F.col("l_quantity"), 2).over(wrows).alias("second_qty"),
    )


@register(
    "window_rank_ties",
    """
SELECT o_custkey, o_orderkey,
       CAST(rank() OVER w AS INTEGER) AS rnk,
       CAST(dense_rank() OVER w AS INTEGER) AS drnk,
       CAST(ntile(4) OVER (PARTITION BY o_custkey
                           ORDER BY o_orderkey) AS INTEGER) AS quartile
FROM orders
WHERE o_custkey % 7 = 0
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderpriority, o_orderkey)
""",
)
def window_rank_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank (gap vs no-gap tie semantics) + ntile —
    completes the ranking-window family beyond row_number."""
    o = load(spark, sf_dir, "orders").where(F.col("o_custkey") % 7 == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_orderpriority", "o_orderkey")
    wq = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
        F.ntile(4).over(wq).cast("int").alias("quartile"),
    )


@register(
    "string_functions",
    """
SELECT c_custkey,
       upper(c_name) AS up_name,
       lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS padded_key,
       replace(c_name, '#', '-') AS dashed_name,
       substr(c_name, 1, 8) AS name_head,
       length(c_name) AS name_len,
       concat_ws('#', c_mktsegment, c_name) AS tagged,
       left(trim(c_mktsegment), 3) AS seg_head,
       CAST(position('a' IN c_name) AS INTEGER) AS first_a,
       reverse(c_mktsegment) AS seg_rev,
       split_part(c_name, '#', 2) AS name_num
FROM customer
WHERE c_custkey % 11 = 0
""",
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function battery (upper/lpad/replace/substr/
    length/concat_ws/trim/left/position/reverse/split_part) — all
    codegen projections, engine-portable semantics."""
    c = load(spark, sf_dir, "customer").where(F.col("c_custkey") % 11 == 0)
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("up_name"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("padded_key"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("dashed_name"),
        F.substring("c_name", 1, 8).alias("name_head"),
        F.length("c_name").alias("name_len"),
        F.concat_ws("#", "c_mktsegment", "c_name").alias("tagged"),
        F.left(F.trim(F.col("c_mktsegment")), F.lit(3)).alias("seg_head"),
        F.instr(F.col("c_name"), "a").cast("int").alias("first_a"),
        F.reverse(F.col("c_mktsegment")).alias("seg_rev"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("name_num"),
    )


@register(
    "datetime_functions",
    """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INTEGER) AS y,
       CAST(month(o_orderdate) AS INTEGER) AS m,
       CAST(dayofmonth(o_orderdate) AS INTEGER) AS d,
       CAST(quarter(o_orderdate) AS INTEGER) AS q,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
       o_orderdate + INTERVAL 90 DAY AS due_ts,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(date_diff('day', DATE '1995-01-01',
                      CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_95
FROM orders
WHERE o_orderkey % 13 = 0
""",
)
def datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time battery: extraction, truncation, interval
    arithmetic, month boundaries, day differences — UTC-pinned
    session semantics throughout."""
    o = load(spark, sf_dir, "orders").where(F.col("o_orderkey") % 13 == 0)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("y"),
        F.month("o_orderdate").cast("int").alias("m"),
        F.dayofmonth("o_orderdate").cast("int").alias("d"),
        F.quarter("o_orderdate").cast("int").alias("q"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("due_ts"),
        F.last_day(F.col("o_orderdate").cast("date")).alias("month_end"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        )
        .cast("bigint")
        .alias("days_since_95"),
    )


# ───────────────── Bloom-filter runtime semi-join pruning ────────

_BLOOM_WORDS = 1024  # 64 Kib filter — constant size at any data scale
_BLOOM_SQL = """
SELECT c.c_custkey, c.c_name, c.c_mktsegment
FROM customer c
WHERE c.c_custkey IN (
  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
"""


@register("bloom_semi_prune", _BLOOM_SQL)
def bloom_semi_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join with an explicit Bloom-filter runtime pre-filter —
    the pattern behind Spark's own runtime row-level filtering
    (spark.sql.optimizer.runtime.bloomFilter.*): build a fixed-size
    bit filter from the build side's join keys, broadcast it, and
    discard probe rows that cannot possibly match BEFORE they reach
    the (shuffle) join; the exact semi join then removes the Bloom
    false positives, so the RESULT is identical to a plain semi join
    (which is what the oracle checks — the filter is an optimization,
    not a semantics change).

    Construction is fully distributed: each build key sets 3 bit
    positions (independent xxhash64 salts); positions aggregate to
    ≤1024 bitmap words via bit_or — a map-side-combined hash agg.
    The one collect() is the finished bitmap, a CONSTANT 8 KiB
    regardless of data scale (documented bounded-collect exception),
    embedded as an array literal so probe-side evaluation is pure
    codegen — three element_at + bitwise-AND ops per row, no join,
    no shuffle. At 100 TB this is the difference between shuffling
    the full probe table and shuffling only rows that pass a ~1%%
    false-positive screen; Spark's built-in version injects the same
    plan automatically when statistics justify it, but an engine
    must also expose it deliberately for sinks/sources the optimizer
    cannot see through."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    # No `.distinct()` on the build side (r13): both consumers are
    # dedup-insensitive — bit_or is idempotent, and left_semi
    # matches at-most-once per probe row regardless of build-side
    # duplicates — so the distinct was a pure corpus-scale exchange,
    # paid TWICE (the bitmap collect is its own job; exchange reuse
    # does not span jobs). Dropping it makes the bitmap build
    # exchange-free up to the ≤1024-word partial bit_or. A/B at
    # sf0.1: 3.36 -> 3.06 s min-of-5, faster on every aligned pass,
    # result identical.
    build = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    nbits = _BLOOM_WORDS * 64
    pos = build.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col("o_custkey"), F.lit(salt)), nbits)
                    for salt in (101, 202, 303)
                ]
            )
        ).alias("p")
    )
    words = (
        pos.groupBy((F.col("p") / 64).cast("int").alias("w"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))")
            ).alias("bits")
        )
        .collect()
    )
    bitmap = [0] * _BLOOM_WORDS
    for row in words:
        bitmap[row["w"]] = row["bits"]
    # ONE array Literal (r13), not F.array of 1024 per-word literals:
    # the CreateArray expression tree put 1024 nodes through
    # analysis/optimization and rebuilt the array inside codegen,
    # tripled by the three probe conjuncts — measured 2.6x on the
    # whole query (3.68 -> 1.39 s min-of-5, identical rows). A plain
    # Literal of ArrayType is a single constant reference.
    bm = F.lit([int(x) for x in bitmap])

    def probe_hit(salt: int) -> F.Column:
        p = F.pmod(F.xxhash64(F.col("c_custkey"), F.lit(salt)), nbits)
        word = F.element_at(bm, (p / 64).cast("int") + 1)
        mask = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST("
            f"pmod(xxhash64(c_custkey, {salt}), {nbits}) % 64 AS INT))"
        )
        return word.bitwiseAND(mask) != 0

    maybe = cust.where(
        probe_hit(101) & probe_hit(202) & probe_hit(303)
    )
    return maybe.join(
        build, maybe["c_custkey"] == build["o_custkey"], "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


# ───────────────── product-quantization ANN (ADC) ────────────────

_PQ_SQL = """
WITH dims AS (
  SELECT vec_id, g.d AS d, CAST(embedding[g.d + 1] AS DOUBLE) AS val
  FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS d) g
),
mu AS (
  SELECT d, CAST(SUM(CAST(val AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*) AS mu
  FROM dims GROUP BY d
),
bits AS (
  SELECT vec_id, CAST(dims.d // 8 AS BIGINT) AS s,
         CAST(SUM(CASE WHEN val >= mu
                       THEN CAST(1 AS BIGINT) << CAST(dims.d % 8 AS INT)
                       ELSE 0 END) AS BIGINT) AS code
  FROM dims JOIN mu ON mu.d = dims.d
  GROUP BY vec_id, dims.d // 8
),
sub AS (
  SELECT vec_id, CAST(d // 8 AS BIGINT) AS s, CAST(d % 8 AS BIGINT) AS j, val
  FROM dims
),
cent AS (
  SELECT b.s, b.code, sub.j,
         CAST(SUM(CAST(val AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*) AS c
  FROM sub JOIN bits b ON b.vec_id = sub.vec_id AND b.s = sub.s
  GROUP BY b.s, b.code, sub.j
),
q AS (
  SELECT s, j, val AS qv FROM sub
  WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)
),
lut AS (
  SELECT cent.s, cent.code,
         CAST(SUM(CAST((qv - c) * (qv - c) AS DECIMAL(18,10))) AS DOUBLE)
           AS dist_sq
  FROM cent JOIN q ON q.s = cent.s AND q.j = cent.j
  GROUP BY cent.s, cent.code
),
scored AS (
  SELECT b.vec_id,
         CAST(SUM(CAST(dist_sq AS DECIMAL(18,10))) AS DOUBLE) AS adist
  FROM bits b
  JOIN lut ON lut.s = b.s AND lut.code = b.code
  WHERE b.vec_id <> (SELECT MIN(vec_id) FROM embeddings)
  GROUP BY b.vec_id
)
SELECT vec_id, adist
FROM scored
ORDER BY adist, vec_id
LIMIT 10
"""


@register("ann_pq_topk", _PQ_SQL)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-10 for the lowest-id query vector
    (operators.similarity.pq_topk): 64-dim vectors → 8 subspaces ×
    8-bit codes, per-query 2048-row lookup table, asymmetric-distance
    scoring via one (subspace, code) equi-join. The oracle re-derives
    the identical deterministic codebook (sign-vs-dimension-mean
    quantizer, empirical cell centroids) and the identical exact ADC
    ranking — see pq_topk's docstring for why this is the
    memory-side complement to the LSH/IVF pruning paths."""
    from skysafe_datalake_spark.operators.similarity import pq_topk

    emb = load(spark, sf_dir, "embeddings")
    qid = emb.agg(F.min("vec_id")).first()[0]  # 1-row scalar pull
    return pq_topk(emb, qid, k=10)


# ───────────────────── 2-D Pareto skyline ────────────────────────

_SKYLINE_SQL = """
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice
    AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
"""


@register("skyline_pareto", _SKYLINE_SQL)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of parts — cheapest-for-their-size (minimize
    retail price, maximize size; operators.ranking.skyline_2d). The
    oracle states the spec as the quadratic NOT EXISTS dominance
    self-join; the engine computes the same set from two distributed
    prefix-maxima over the price order — range partition + per-
    partition window + a ≤#partitions-row stitch, the global_rank
    construction — so no single-partition window and no pairwise
    join exist at any scale. Comparisons are on stored values only
    (no arithmetic), so membership is boundary-exact."""
    from skysafe_datalake_spark.operators.ranking import skyline_2d

    part = load(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    return skyline_2d(part, "p_retailprice", "p_size").select(
        "p_partkey", "p_retailprice", "p_size"
    )


# ───────────────── bag semantics: INTERSECT/EXCEPT ALL ───────────

_BAGOPS_SQL = """
WITH a AS (SELECT l_quantity AS q FROM lineitem
           WHERE l_returnflag = 'R'
             AND l_shipdate < TIMESTAMP '1997-01-01'),
b AS (SELECT l_quantity AS q FROM lineitem
      WHERE l_linestatus = 'F'
        AND l_shipdate < TIMESTAMP '1997-01-01')
SELECT 'intersect_all' AS op, q, CAST(COUNT(*) AS BIGINT) AS cnt
FROM (SELECT q FROM a INTERSECT ALL SELECT q FROM b) i
GROUP BY q
UNION ALL
SELECT 'except_all' AS op, q, CAST(COUNT(*) AS BIGINT) AS cnt
FROM (SELECT q FROM a EXCEPT ALL SELECT q FROM b) e
GROUP BY q
"""


@register("bag_set_operations", _BAGOPS_SQL)
def bag_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) set operations — INTERSECT ALL keeps
    min(multiplicity), EXCEPT ALL subtracts multiplicities — the
    semantics set_operations' distinct variants cannot express (a
    quantity appearing 5× in A and 3× in B survives INTERSECT ALL 3
    times and EXCEPT ALL twice). Spark plans both as a single
    hash aggregation counting per-side multiplicities then
    re-expanding (generate replicate_rows) — one shuffle on the
    value, no join; the DataFrame API (intersectAll/exceptAll) and
    the oracle's SQL forms are the same operator. Output folds the
    expanded bags back to (value, count) so the comparison is
    order-free."""
    li = load(spark, sf_dir, "lineitem")
    early = li.where(F.col("l_shipdate") < "1997-01-01")
    a = early.where(F.col("l_returnflag") == "R").select(
        F.col("l_quantity").alias("q")
    )
    b = early.where(F.col("l_linestatus") == "F").select(
        F.col("l_quantity").alias("q")
    )
    inter = (
        a.intersectAll(b)
        .groupBy("q")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .select(F.lit("intersect_all").alias("op"), "q", "cnt")
    )
    exc = (
        a.exceptAll(b)
        .groupBy("q")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .select(F.lit("except_all").alias("op"), "q", "cnt")
    )
    return inter.unionByName(exc)


# ───────────────────── null-semantics battery ────────────────────

_NULLSEM_SQL = """
WITH base AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 3 = 0 THEN NULL
              ELSE o_totalprice END AS v,
         CASE WHEN o_orderkey % 5 = 0 THEN NULL
              ELSE o_orderpriority END AS p
  FROM orders
),
per_group AS (
  SELECT p,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(v) AS BIGINT) AS n_v,
         CAST(COUNT(DISTINCT v) AS BIGINT) AS n_v_distinct,
         CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_v_null,
         floor(COALESCE(MIN(v), -1.0) * 100.0 + 0.5) / 100.0 AS min_v,
         CAST(SUM(CASE WHEN NULLIF(p, '1-URGENT') IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_nullif_hits,
         CAST(SUM(CASE WHEN (v + 1.0) IS NULL AND v IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_arith_violations
  FROM base
  GROUP BY p
),
nullsafe AS (
  SELECT a.p,
         CAST(COUNT(*) AS BIGINT) AS n_nullsafe_eq
  FROM base a JOIN base b ON b.k = a.k + 1
  WHERE a.v IS NOT DISTINCT FROM b.v
  GROUP BY a.p
)
SELECT g.p, g.n_rows, g.n_v, g.n_v_distinct, g.n_v_null, g.min_v,
       g.n_nullif_hits, g.n_arith_violations,
       COALESCE(ns.n_nullsafe_eq, 0) AS n_nullsafe_eq
FROM per_group g
LEFT JOIN nullsafe ns ON ns.p IS NOT DISTINCT FROM g.p
"""


@register("null_semantics", _NULLSEM_SQL)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-semantics battery over an injected-null dataset: GROUP BY
    with a first-class NULL group, COUNT(*) vs COUNT(col) vs
    COUNT(DISTINCT col), COALESCE/NULLIF, three-valued arithmetic
    propagation (a non-null v never yields null v+1 — pinned as a
    zero violations column), a null-safe self-equi-join
    (IS NOT DISTINCT FROM: NULL matches NULL, which a plain = join
    silently drops), and a null-safe LEFT JOIN back onto the nullable
    group key itself. These are exactly the semantics corners where
    engines diverge (and where a wrong null treatment silently loses
    rows at scale); the whole battery is one shuffle per aggregation
    plus an equi-join on k+1 — Spark plans eqNullSafe as a hash join
    key, not a cartesian filter."""
    orders = load(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % 3 == 0, None)
        .otherwise(F.col("o_totalprice"))
        .alias("v"),
        F.when(F.col("o_orderkey") % 5 == 0, None)
        .otherwise(F.col("o_orderpriority"))
        .alias("p"),
    )
    per_group = base.groupBy("p").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count("v").cast("bigint").alias("n_v"),
        F.countDistinct("v").cast("bigint").alias("n_v_distinct"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_v_null"),
        pround(F.coalesce(F.min("v"), F.lit(-1.0)), 2).alias("min_v"),
        F.sum(
            F.when(F.nullif(F.col("p"), F.lit("1-URGENT")).isNull(), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_nullif_hits"),
        F.sum(
            F.when(
                (F.col("v") + 1.0).isNull() & F.col("v").isNotNull(), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_arith_violations"),
    )
    a, b = base.alias("a"), base.alias("b")
    nullsafe = (
        a.join(
            b,
            (F.col("b.k") == F.col("a.k") + 1)
            & F.col("a.v").eqNullSafe(F.col("b.v")),
        )
        .groupBy(F.col("a.p").alias("p"))
        .agg(F.count("*").cast("bigint").alias("n_nullsafe_eq"))
    )
    return (
        per_group.alias("g")
        .join(
            nullsafe.alias("ns"),
            F.col("ns.p").eqNullSafe(F.col("g.p")),
            "left",
        )
        .select(
            F.col("g.p").alias("p"),
            "n_rows",
            "n_v",
            "n_v_distinct",
            "n_v_null",
            "min_v",
            "n_nullif_hits",
            "n_arith_violations",
            F.coalesce(F.col("ns.n_nullsafe_eq"), F.lit(0).cast("bigint"))
            .alias("n_nullsafe_eq"),
        )
    )


# ───────────────────── recursive CTE (linked-list walk) ──────────

def _recursive_walk_sql(intdiv: str) -> str:
    """Same SQL text for both engines up to the integer-division
    operator (Spark ``DIV``, DuckDB ``//`` — the one non-portable
    token; a ``/`` would silently produce DOUBLE in DuckDB)."""
    return f"""
WITH RECURSIVE seq AS (
  SELECT o_custkey AS cust, o_orderkey AS okey,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
         CAST(row_number() OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ) AS BIGINT) AS rn
  FROM orders
),
walk AS (
  SELECT cust, rn, cents AS bal FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.cust, s.rn, w.bal - (w.bal {intdiv} 100) + s.cents
  FROM walk w
  JOIN seq s ON s.cust = w.cust AND s.rn = w.rn + 1
  WHERE w.rn < 12
)
SELECT w.cust, w.rn AS n_orders, w.bal AS final_bal
FROM walk w
JOIN (SELECT cust, MAX(rn) AS mrn FROM walk GROUP BY cust) m
  ON m.cust = w.cust AND m.mrn = w.rn
"""


@register("recursive_cte_walk", _recursive_walk_sql("//"))
def recursive_cte_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE through the SQL front-end (Spark 4 recursive
    CTEs): walk each customer's date-ordered order chain accumulating
    a balance with 1% integer decay per step — bal' = bal − bal÷100 +
    deposit. The floor-division makes each step NONLINEAR in the
    running state, so no window/aggregate rewrite exists: a recursive
    join per step is the only relational formulation, which is
    precisely what this query pins (the engine's recursion, not just
    UNION ALL sugar). All arithmetic is integer cents — exact at any
    partitioning. The walk is DEPTH-CAPPED at 12 steps per key:
    recursion latency is iterations × per-step job overhead (the
    frontier join is cheap; the synchronization isn't), so an
    unbounded walk's wall time scales with the LONGEST chain — the
    cap bounds replay latency to a constant number of rounds while
    still exercising 12 genuine recursion steps, and both engines
    apply the identical guard.

    Scale: each recursion step is one equi-join of the frontier
    (|customers| rows) against the slim seq table on (cust, rn) —
    the same bounded-frontier shape as bfs_khop_reach, planned by
    the engine's UnionLoop instead of a hand-written driver loop."""
    orders = load(spark, sf_dir, "orders")
    # Materialize the seq CTE ONCE: Spark re-evaluates a CTE
    # referenced inside the recursive member on EVERY iteration
    # (orders scan + window, x depth) — checkpointing it turns each
    # step into a join against in-memory blocks. The frontier side
    # is |customers| rows, so it broadcasts (hint below): no shuffle
    # of seq per round either.
    seq = orders.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("okey"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("bigint")
        .alias("cents"),
        F.row_number()
        .over(
            Window.partitionBy("o_custkey").orderBy(
                "o_orderdate", "o_orderkey"
            )
        )
        .cast("bigint")
        .alias("rn"),
    ).localCheckpoint(eager=False)
    seq.createOrReplaceTempView("rcte_seq")
    # The walk emits ≤ 12·|customers| rows; Spark's recursion safety
    # valve defaults to 1M TOTAL rows and kills the query at ~8×
    # bench scale. Size it to the work:
    # emitted rows are bounded by |seq| (≤ one row per order), so
    # |seq| plus slack is the principled limit.
    n_seq = seq.count()
    saved_limit = spark.conf.get("spark.sql.cteRecursionRowLimit")
    spark.conf.set("spark.sql.cteRecursionRowLimit", str(max(1_000_000, 2 * n_seq)))
    # Final last-row-per-cust pick is a window over the recursion
    # output (r13) — the oracle's MAX(rn) self-join form referenced
    # `walk` TWICE, and the engine re-evaluates a recursive CTE per
    # reference; the window touches the 12x|customers| result once.
    # A/B at sf0.1: 2.69 -> 2.46 s min-of-5, identical rows.
    try:
        return spark.sql(
        """
WITH RECURSIVE walk AS (
  SELECT cust, rn, cents AS bal FROM rcte_seq WHERE rn = 1
  UNION ALL
  SELECT /*+ BROADCAST(w) */
         s.cust, s.rn, w.bal - (w.bal DIV 100) + s.cents
  FROM walk w
  JOIN rcte_seq s ON s.cust = w.cust AND s.rn = w.rn + 1
  WHERE w.rn < 12
)
SELECT cust, rn AS n_orders, bal AS final_bal FROM (
  SELECT w.*, row_number() OVER (PARTITION BY cust ORDER BY rn DESC) AS rk
  FROM walk w
) WHERE rk = 1
"""
        ).localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.cteRecursionRowLimit", saved_limit)


# ───────────────────── LATERAL correlated subquery ───────────────

_LATERAL_SQL = """
SELECT c.c_custkey, c.c_mktsegment,
       t.o_orderkey, t.total_cents, t.order_rank
FROM customer c,
LATERAL (
  SELECT o_orderkey, total_cents, order_rank
  FROM (
    SELECT o.o_orderkey,
           CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS total_cents,
           CAST(row_number() OVER (
             ORDER BY o.o_totalprice DESC, o.o_orderkey
           ) AS BIGINT) AS order_rank
    FROM orders o
    WHERE o.o_custkey = c.c_custkey
  ) ranked
  WHERE order_rank <= 3
) t
WHERE c.c_acctbal > 0.0
"""


@register("lateral_topn_per_key", _LATERAL_SQL)
def lateral_topn_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated table subquery — top-3 orders per customer
    written as a per-row derived table instead of the window+filter
    idiom. The point is the FRONT-END shape: LATERAL is how SQL users
    express per-row subqueries, and the engine must decorrelate it to
    the same window top-k plan rather than re-running the inner query
    per customer (Spark plans a LateralJoin whose inner is evaluated
    once as a ranked join — no iteration). Money in integer cents;
    rank ties broken by orderkey so the cut is deterministic. The
    oracle runs the identical LATERAL text.

    The per-customer cut is the rank filter ``order_rank <= 3``, not
    ``ORDER BY .. LIMIT 3``: Spark's decorrelation keeps a lateral
    LIMIT's ORDER BY as a GLOBAL range sort of the whole orders table
    feeding the window (caught by tools/plan_audit.py) — the rank
    form decorrelates to the same per-key window with only the hash
    exchange, identical rows."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_LATERAL_SQL)


# ───────────────────── custom GROUPING SETS ──────────────────────

_GSETS_SQL = """
SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
       COALESCE(l_linestatus, '<all>') AS linestatus,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@register("grouping_sets_custom", _GSETS_SQL)
def grouping_sets_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-picked GROUPING SETS — (flag, status), (flag), () but NOT
    (status): the asymmetric aggregation lattice neither ROLLUP nor
    CUBE can express (rollup_hierarchy and grouping_cube pin those).
    One Expand + one hash agg regardless of how many sets; GROUPING()
    disambiguates a real NULL key from a superaggregate row. Integer
    quantity sums, explicit BIGINT casts for the gate canonicalizer."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_GSETS_SQL)


# ───────────────── try_* error-tolerant arithmetic ───────────────

_TRY_SQL = """
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_quantity <> 0.0
            THEN l_extendedprice / l_quantity END AS unit_price,
       CASE WHEN l_linenumber - 1 <> 0
            THEN CAST(l_quantity AS BIGINT) // (l_linenumber - 1) END
         AS qty_per_prior_line,
       TRY_CAST(l_returnflag AS DOUBLE) AS flag_as_num,
       TRY_CAST(l_shipdate AS DATE) AS ship_day
FROM lineitem
WHERE l_orderkey % 7 = 0
"""


@register("try_arithmetic", _TRY_SQL)
def try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant expression battery: Spark 4 runs ANSI mode, so
    division by zero and bad casts THROW mid-job unless the query
    opts into totality — try_divide/try_cast return NULL instead,
    turning a poison row into a null cell rather than a dead 100 TB
    job (the single-bad-record failure mode of strict pipelines).
    The oracle expresses the same totality with guard CASEs (DuckDB
    division by zero is an error too) and TRY_CAST. Covers: null on
    zero-divisor double division, null on zero integer division, a
    cast that always fails (letter → DOUBLE: a NULL column with a
    pinned type), and a cast that always succeeds (timestamp →
    DATE). Pure codegen projection, no shuffle."""
    li = load(spark, sf_dir, "lineitem")
    return li.where(F.col("l_orderkey") % 7 == 0).select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(F.col("l_extendedprice"), F.col("l_quantity")).alias(
            "unit_price"
        ),
        F.try_divide(
            F.col("l_quantity").cast("bigint"), F.col("l_linenumber") - 1
        )
        .cast("bigint")
        .alias("qty_per_prior_line"),
        F.expr("try_cast(l_returnflag AS DOUBLE)").alias("flag_as_num"),
        F.expr("try_cast(l_shipdate AS DATE)").alias("ship_day"),
    )
