"""Behavioral event analytics: ordered funnel conversion and cohort
retention over the `events` stream table.

The reference's pipeline reports aggregate progress tables per stage
(`coverage` counts in `abstract_preprocessor.py` and the per-chamber
progress reports); these two queries are the event-log generalization —
the standard product-analytics shapes a 100 TB event store is queried
with.  All outputs are ints/strings (timestamps never leave the plan),
so the driver's dtype-sensitive hash compares exact values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.plans.registry import QuerySpec
from swisscourtrulingcorpus_spark.sources.catalog import load_table

_STAGES = ["view", "click", "signup", "purchase"]


def funnel_conversion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered funnel view -> click -> signup -> purchase.

    A user converts stage k only with an event of that type STRICTLY
    AFTER their stage-(k-1) conversion time; conversion time is the
    earliest such event.  Computed as a chain of filtered min-
    aggregations joined on user_id — each stage's input is the events
    scan filtered to ONE type (predicate reaches the parquet scan) and
    each join is an equi-join on the user key, so at 100 TB every step
    is a co-partitioned shuffle of (user, ts) pairs, never of event
    payloads, and AQE can broadcast the shrinking stage table (stage
    tables only lose users as k grows).  Output: one row of funnel
    counts.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    stage = (
        ev.where(F.col("event_type") == _STAGES[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    counts = [stage.agg(F.count(F.lit(1)).alias("n_view"))]
    for k, name in enumerate(_STAGES[1:], start=1):
        stage = (
            ev.where(F.col("event_type") == name)
            .join(stage, on="user_id")
            .where(F.col("ts") > F.col("t"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
        )
        counts.append(stage.agg(F.count(F.lit(1)).alias(f"n_{name}")))
    out = counts[0]
    for c in counts[1:]:
        out = out.crossJoin(F.broadcast(c))
    return out


FUNNEL_ORACLE = """
WITH s1 AS (SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 USING (user_id)
       WHERE e.event_type = 'signup' AND e.ts > s2.t GROUP BY 1),
s4 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s3 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY 1)
SELECT (SELECT count(*) FROM s1) AS n_view,
       (SELECT count(*) FROM s2) AS n_click,
       (SELECT count(*) FROM s3) AS n_signup,
       (SELECT count(*) FROM s4) AS n_purchase
"""


def retention_cohorts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users cohorted by first-ever event
    day, counted distinct in each subsequent week offset
    (floor(days-since-first / 7)).

    Two aggregations over the same (user, day) projection: first-day
    per user (map-side combinable min), then a distinct count per
    (cohort_day, week_offset) after an equi-join on user_id.  Nothing
    wider than (user_id, date) ever shuffles; the cohort table is
    |users| rows.  Dates leave the plan as 'yyyy-MM-dd' strings so
    both engines hash identical values.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    first = ev.groupBy("user_id").agg(F.min("d").alias("d0"))
    return (
        ev.join(first, on="user_id")
        .select(
            F.date_format("d0", "yyyy-MM-dd").alias("cohort_day"),
            F.floor(F.datediff(F.col("d"), F.col("d0")) / 7)
            .cast("int")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


RETENTION_ORACLE = """
WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
first AS (SELECT user_id, min(d) AS d0 FROM ev GROUP BY 1)
SELECT strftime(first.d0, '%Y-%m-%d') AS cohort_day,
       CAST(floor(date_diff('day', first.d0, ev.d) / 7.0) AS INTEGER) AS week_offset,
       count(DISTINCT ev.user_id) AS n_users
FROM ev JOIN first USING (user_id)
GROUP BY 1, 2
"""


# --- co-purchase graph: guarded build + degree/triangle analytics --------

_COP_CAP = 20  # parts bought by more than CAP distinct customers are hubs


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected customer co-purchase edges: (c1 < c2) share at least
    one part, built from lineitem ⋈ orders.  The per-part self-join is
    the textbook quadratic trap — a hub part bought by 100k customers
    alone emits 5·10^9 pairs — so parts with more than ``_COP_CAP``
    distinct buyers are excluded up front (the same frequency-cap guard
    as `ngram_jaccard_pairs`' stop-shingles; hubs carry no co-purchase
    signal for the same reason stopwords carry no similarity signal).
    After the cap every part emits ≤ C(cap,2) pairs, so edges are
    linear in the surviving (part, customer) rows.  The cap groupBy and
    the pair self-join both key on partkey — one exchange, reused."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p"), "l_orderkey"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("p", F.col("o_custkey").alias("c"))
        .distinct()
    )
    ok = cp.groupBy("p").agg(F.count(F.lit(1)).alias("cnt")).where(
        F.col("cnt") <= _COP_CAP
    )
    capped = cp.join(ok.select("p"), "p")
    b = capped.select("p", F.col("c").alias("c2"))
    return (
        capped.join(b, "p")
        .where(F.col("c") < F.col("c2"))
        .select(F.col("c").alias("c1"), "c2")
        .distinct()
    )


def copurchase_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph — the shape report
    a graph build is sanity-checked with before anything expensive
    (PageRank/CC/triangles) runs on it."""
    e = _copurchase_edges(spark, sf_dir)
    # explode-of-array instead of unionAll-of-selects: a union re-plans
    # the whole edges subtree per branch (the audit showed the
    # clustering gate reaching 310 static exchanges before this), while
    # one explode reads it once
    deg = (
        e.select(F.explode(F.array("c1", "c2")).alias("c"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_customers"))


def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the co-purchase graph: the standard ordered
    three-join (a<b<c, edges stored ordered, so e1(a,b) ⋈ e2(b,c) ⋈
    e3(a,c) counts each triangle once).  Ordering by id IS the classic
    degree-skew mitigation's cheap cousin; the hub cap in the builder
    already bounds the wedge count per part, and the joins are plain
    equi-joins — shuffles carry (bigint, bigint) pairs only."""
    # the edge list feeds three join roles: materialize it ONCE
    # (localCheckpoint, the operators/graph.py PageRank pattern) instead
    # of re-running the build per alias — exchange reuse can't dedupe
    # the renamed subtrees, and at 100 TB you'd persist the edge table
    # before any multi-pass analytics anyway
    e = _copurchase_edges(spark, sf_dir).localCheckpoint()
    e1 = e
    e2 = e.select(F.col("c1").alias("c2x"), F.col("c2").alias("c3"))
    e3 = e.select(F.col("c1").alias("c1y"), F.col("c2").alias("c3y"))
    wedges = e1.join(e2, e1.c2 == e2.c2x)
    tri = wedges.join(
        e3, (wedges.c1 == e3.c1y) & (wedges.c3 == e3.c3y)
    )
    return tri.agg(F.count(F.lit(1)).alias("n_triangles"))


_COP_EDGES_CTE = f"""
WITH cp AS (
  SELECT DISTINCT l.l_partkey AS p, o.o_custkey AS c
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
ok AS (SELECT p FROM cp GROUP BY p HAVING count(*) <= {_COP_CAP}),
e AS (
  SELECT DISTINCT a.c AS c1, b.c AS c2
  FROM cp a JOIN cp b ON a.p = b.p AND a.c < b.c
  WHERE a.p IN (SELECT p FROM ok))
"""

COP_DEGREE_ORACLE = (
    _COP_EDGES_CTE
    + """
SELECT degree, count(*) AS n_customers
FROM (
  SELECT c, CAST(count(*) AS BIGINT) AS degree
  FROM (SELECT c1 AS c FROM e UNION ALL SELECT c2 AS c FROM e)
  GROUP BY c)
GROUP BY degree
"""
)

COP_TRIANGLES_ORACLE = (
    _COP_EDGES_CTE
    + """
SELECT count(*) AS n_triangles
FROM e e1 JOIN e e2 ON e1.c2 = e2.c1
          JOIN e e3 ON e3.c1 = e1.c1 AND e3.c2 = e2.c2
"""
)


def copurchase_clustering_by_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering structure summarized per degree: for every
    degree d, how many customers have it, their total incident-triangle
    slots (Σ tri(v)), and their total wedge capacity (Σ C(deg,2)) —
    the inputs to the average local clustering coefficient, kept as
    exact integers (the ratio itself is a driver-side division).

    tri(v) comes from the same ordered three-join as
    `copurchase_triangles`, unioned across the three roles a node
    plays in an (a<b<c) triangle; everything downstream is slim
    (bigint, bigint) aggregation."""
    # materialize the shared edge list once (see copurchase_triangles)
    e = _copurchase_edges(spark, sf_dir).localCheckpoint()
    e2 = e.select(F.col("c1").alias("c2x"), F.col("c2").alias("c3"))
    e3 = e.select(F.col("c1").alias("c1y"), F.col("c2").alias("c3y"))
    wedges = e.join(e2, e.c2 == e2.c2x)
    tri = wedges.join(e3, (wedges.c1 == e3.c1y) & (wedges.c3 == e3.c3y)).select(
        "c1", "c2", "c3"
    )
    # explode-of-array, not unionAll: each union branch re-plans its
    # entire input subtree (tri embeds the edges pipeline three times,
    # so the union tripled THAT — 310 static exchanges), while one
    # explode projection reads each subtree once
    tri_per_node = (
        tri.select(F.explode(F.array("c1", "c2", "c3")).alias("c"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    deg = (
        e.select(F.explode(F.array("c1", "c2")).alias("c"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    per_node = deg.join(tri_per_node, "c", "left").select(
        "degree",
        F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_tri"),
    )
    return per_node.groupBy("degree").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("n_tri").alias("sum_triangles"),
        F.sum(
            F.expr("CAST(degree AS BIGINT) * (degree - 1) div 2")
        ).alias("sum_wedges"),
    )


COP_CLUSTERING_ORACLE = (
    _COP_EDGES_CTE
    + """,
tri AS (
  SELECT e1.c1, e1.c2, e2.c2 AS c3
  FROM e e1 JOIN e e2 ON e1.c2 = e2.c1
            JOIN e e3 ON e3.c1 = e1.c1 AND e3.c2 = e2.c2),
tpn AS (
  SELECT c, CAST(count(*) AS BIGINT) AS n_tri
  FROM (SELECT c1 AS c FROM tri UNION ALL SELECT c2 FROM tri UNION ALL SELECT c3 FROM tri)
  GROUP BY c),
deg AS (
  SELECT c, CAST(count(*) AS BIGINT) AS degree
  FROM (SELECT c1 AS c FROM e UNION ALL SELECT c2 FROM e)
  GROUP BY c)
SELECT degree,
       count(*) AS n_customers,
       CAST(sum(coalesce(n_tri, 0)) AS BIGINT) AS sum_triangles,
       CAST(sum(degree * (degree - 1) // 2) AS BIGINT) AS sum_wedges
FROM deg LEFT JOIN tpn USING (c)
GROUP BY degree
"""
)


def event_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for every consecutive (prev_type -> next_type) step in a
    user's time-ordered stream, the corpus-wide count and its per-row
    share of the source state's outgoing mass (ppm, integer).  The
    behavioral "what do users do next" report; the lag window
    partitions by user_id (high cardinality — no funnel through few
    tasks), and everything downstream aggregates a 25-cell matrix.
    Ties inside a timestamp are ordered by event_id so both engines
    walk the same sequence."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.withColumn("next_type", F.lead("event_type").over(w)).where(
        F.col("next_type").isNotNull()
    )
    counts = steps.groupBy(
        F.col("event_type").alias("prev_type"), "next_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    total_w = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        F.expr("n * 1000000").alias("__num"),
        F.sum("n").over(total_w).alias("__den"),
    ).select(
        "prev_type",
        "next_type",
        "n",
        F.expr("__num div __den").alias("share_ppm"),
    )


TRANSITION_ORACLE = """
WITH steps AS (
  SELECT event_type AS prev_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events),
counts AS (
  SELECT prev_type, next_type, count(*) AS n
  FROM steps WHERE next_type IS NOT NULL
  GROUP BY 1, 2)
SELECT prev_type, next_type, n,
       CAST(n * 1000000 // sum(n) OVER (PARTITION BY prev_type) AS BIGINT)
         AS share_ppm
FROM counts
"""


SPECS = [
    QuerySpec(
        "funnel_conversion_events",
        funnel_conversion_events,
        FUNNEL_ORACLE,
        "strictly-ordered 4-stage funnel counts",
    ),
    QuerySpec(
        "retention_cohorts_events",
        retention_cohorts_events,
        RETENTION_ORACLE,
        "weekly cohort retention triangle",
    ),
    QuerySpec(
        "copurchase_degree_hist",
        copurchase_degree_hist,
        COP_DEGREE_ORACLE,
        "hub-capped co-purchase graph degree distribution",
    ),
    QuerySpec(
        "copurchase_triangles",
        copurchase_triangles,
        COP_TRIANGLES_ORACLE,
        "ordered three-join triangle count over the co-purchase graph",
    ),
    QuerySpec(
        "copurchase_clustering_by_degree",
        copurchase_clustering_by_degree,
        COP_CLUSTERING_ORACLE,
        "per-degree local clustering inputs (Σtri, Σwedges), integer-exact",
    ),
    QuerySpec(
        "event_transition_counts",
        event_transition_counts,
        TRANSITION_ORACLE,
        "first-order Markov transition matrix + per-state share (ppm)",
    ),
]


def multitouch_attribution_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution: every
    'purchase' distributes exactly 1,000,000 micro-credits over the
    user's 'view'/'click' touches in the prior 7 days — 40/20/40:
    first and last touch 400k each, the middle pool of 200k split by
    integer division with the remainder to the EARLIEST middle touch
    (n=1 → 1M, n=2 → 500k/500k), so every conversion's credits sum to
    exactly 1M and the report is engine-identical integers.  Output:
    (event_type, role) rows with touch counts and total credit.

    Scale shape: the touch↔purchase pairing is an equi-join on user_id
    (time predicates filter inside the join, AQE handles user skew);
    position ranks run per (user, purchase) — high-cardinality
    partitions; the final aggregate is an 8-cell report.  The as-of
    join (`asof_purchase_attribution`) answers LAST-touch; this is the
    standard position-based generalization a marketing warehouse runs."""
    from pyspark.sql import Window

    from swisscourtrulingcorpus_spark.sources.catalog import epoch_us

    ev = load_table(spark, sf_dir, "events")
    week_us = 7 * 24 * 3600 * 1_000_000
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        epoch_us("ts").alias("p_us"),
    )
    touches = ev.where(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("touch_type"),
        epoch_us("ts").alias("t_us"),
    )
    paired = touches.join(purchases, on="user_id").where(
        (F.col("t_us") < F.col("p_us"))
        & (F.col("t_us") >= F.col("p_us") - F.lit(week_us))
    )
    w = Window.partitionBy("user_id", "purchase_id").orderBy(
        F.col("t_us").asc(), F.col("touch_id").asc()
    )
    wn = Window.partitionBy("user_id", "purchase_id")
    ranked = paired.select(
        "touch_type",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    rn, n = F.col("rn"), F.col("n")
    credit = (
        F.when(n == 1, F.lit(1_000_000))
        .when(n == 2, F.lit(500_000))
        .when(rn == 1, F.lit(400_000))
        .when(rn == n, F.lit(400_000))
        .otherwise(
            F.expr("200000 div (n - 2)")
            + F.when(rn == 2, F.expr("200000 % (n - 2)")).otherwise(F.lit(0))
        )
    )
    role = (
        F.when(n == 1, F.lit("solo"))
        .when(rn == 1, F.lit("first"))
        .when(rn == n, F.lit("last"))
        .otherwise(F.lit("middle"))
    )
    return (
        ranked.select(
            "touch_type", role.alias("role"), credit.alias("credit_micro")
        )
        .groupBy("touch_type", "role")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("credit_micro").alias("credit_micro"),
        )
    )


MULTITOUCH_ORACLE = """
WITH p AS (
  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us
  FROM events WHERE event_type = 'purchase'),
t AS (
  SELECT user_id, event_id AS touch_id, event_type AS touch_type,
         epoch_us(ts) AS t_us
  FROM events WHERE event_type IN ('view', 'click')),
paired AS (
  SELECT t.touch_type, t.user_id, p.purchase_id, t.t_us, t.touch_id
  FROM t JOIN p ON t.user_id = p.user_id
   AND t.t_us < p.p_us AND t.t_us >= p.p_us - 604800000000),
ranked AS (
  SELECT touch_type,
         row_number() OVER (PARTITION BY user_id, purchase_id
                            ORDER BY t_us ASC, touch_id ASC) AS rn,
         count(*) OVER (PARTITION BY user_id, purchase_id) AS n
  FROM paired),
credited AS (
  SELECT touch_type,
         CASE WHEN n = 1 THEN 'solo'
              WHEN rn = 1 THEN 'first'
              WHEN rn = n THEN 'last'
              ELSE 'middle' END AS role,
         CASE WHEN n = 1 THEN 1000000
              WHEN n = 2 THEN 500000
              WHEN rn = 1 THEN 400000
              WHEN rn = n THEN 400000
              ELSE 200000 // (n - 2)
                   + CASE WHEN rn = 2 THEN 200000 % (n - 2) ELSE 0 END
         END AS credit_micro
  FROM ranked)
SELECT touch_type, role,
       CAST(count(*) AS BIGINT) AS n_touches,
       CAST(sum(credit_micro) AS BIGINT) AS credit_micro
FROM credited GROUP BY 1, 2
"""


SPECS += [
    QuerySpec(
        "multitouch_attribution_events",
        multitouch_attribution_events,
        MULTITOUCH_ORACLE,
        "U-shaped 40/20/40 multi-touch attribution, exact 1M micro-credits per conversion",
    ),
]


_FUNNEL_STEPS = ["view", "click", "purchase"]
_FUNNEL_WITHIN_US = 72 * 3600 * 1_000_000  # 72h per step


def windowed_funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-BOUNDED funnel view -> click -> purchase with a 72-hour
    per-step window (`operators/relational.py::ordered_funnel`):
    first-completion semantics — step i counts the earliest qualifying
    event strictly after step i-1 — the per-step deadline is what the
    unbounded `funnel_conversion_events` gate (this module's original
    funnel) cannot express: a click nine days after the view no
    longer converts, so the two gates disagree exactly on slow
    journeys.  All
    time math in integer microseconds (`epoch_us`), so the oracle's
    chained conditional-min CTEs reproduce every count exactly."""
    from swisscourtrulingcorpus_spark.operators.relational import (
        ordered_funnel,
    )

    ev = load_table(spark, sf_dir, "events")
    return ordered_funnel(
        ev, _FUNNEL_STEPS, within_us=_FUNNEL_WITHIN_US
    )


WINDOWED_FUNNEL_ORACLE = f"""
WITH s0 AS (
  SELECT user_id, min(epoch_us(ts)) AS t0
  FROM events WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY 1),
s1 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t1
  FROM events e JOIN s0 ON e.user_id = s0.user_id
  WHERE e.event_type = '{_FUNNEL_STEPS[1]}'
    AND epoch_us(e.ts) > s0.t0
    AND epoch_us(e.ts) <= s0.t0 + {_FUNNEL_WITHIN_US}
  GROUP BY 1),
s2 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = '{_FUNNEL_STEPS[2]}'
    AND epoch_us(e.ts) > s1.t1
    AND epoch_us(e.ts) <= s1.t1 + {_FUNNEL_WITHIN_US}
  GROUP BY 1)
SELECT 0 AS step_idx, '{_FUNNEL_STEPS[0]}' AS step,
       (SELECT count(*) FROM s0) AS n_users
UNION ALL
SELECT 1, '{_FUNNEL_STEPS[1]}', (SELECT count(*) FROM s1)
UNION ALL
SELECT 2, '{_FUNNEL_STEPS[2]}', (SELECT count(*) FROM s2)
"""


SPECS += [
    QuerySpec(
        "windowed_funnel_events",
        windowed_funnel_events,
        WINDOWED_FUNNEL_ORACLE,
        "ordered first-completion funnel with 72h step windows, chained conditional mins",
    ),
]


def cumulative_users_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth-accounting report: users cohorted by FIRST-ever event day
    (map-side-combinable min per user), daily new-user counts, and the
    running cumulative-user total — the exact counterpart of the
    HLL-windowed distinct family (`hll_distinct_per_hour` estimates;
    this is the first-seen identity that makes the running distinct
    exactly a running SUM).

    Scale shape: one slim (user_id, date) min-aggregate, one per-day
    count, then a running-sum window over the DATE DOMAIN — bounded by
    calendar days, not by users or events, so the single-partition
    window holds at most a few thousand rows at any corpus size."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0")
    )
    daily = first.groupBy("d0").agg(F.count(F.lit(1)).alias("n_new"))
    w = Window.orderBy("d0").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.col("d0").cast("string").alias("day"),
        "n_new",
        F.sum("n_new").over(w).alias("n_users_cum"),
    )


CUMULATIVE_USERS_ORACLE = """
WITH first AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events GROUP BY 1),
daily AS (
  SELECT d0, count(*) AS n_new FROM first GROUP BY 1)
SELECT CAST(d0 AS VARCHAR) AS day, n_new,
       CAST(sum(n_new) OVER (ORDER BY d0
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       AS n_users_cum
FROM daily
"""


SPECS += [
    QuerySpec(
        "cumulative_users_by_day",
        cumulative_users_by_day,
        CUMULATIVE_USERS_ORACLE,
        "first-seen growth accounting: running distinct as a date-domain running sum",
    ),
]


def ewma_gap_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed inter-arrival time per user: consecutive event gaps in
    integer microseconds (lag window over (ts, event_id) order), then
    the exact integer EWMA recurrence s_t = (3·g_t + 5·s_{t-1}) div 8
    (`operators/relational.py::integer_ewma_by_key`) — the
    traffic-model statistic a rate limiter or anomaly detector keeps
    per entity, and the engine's only sequential per-key recurrence
    over business data.  The oracle replays the same fold with a recursive
    CTE over row-numbered gaps — order, tie-breaks, and every floor
    division are all on the hook.  Users with fewer than two events
    have no gap and no row."""
    from swisscourtrulingcorpus_spark.operators.relational import (
        integer_ewma_by_key,
    )
    from swisscourtrulingcorpus_spark.sources.catalog import epoch_us
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", epoch_us("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("us").asc(), F.col("event_id").asc()
    )
    gaps = (
        ev.withColumn("__prev", F.lag("us").over(w))
        .where(F.col("__prev").isNotNull())
        .select(
            "user_id",
            "us",
            "event_id",
            (F.col("us") - F.col("__prev")).alias("gap_us"),
        )
    )
    return integer_ewma_by_key(
        gaps, "user_id", ["us", "event_id"], "gap_us"
    ).select(
        "user_id", F.col("n_values").alias("n_gaps"),
        F.col("ewma").alias("ewma_gap_us"),
    )


EWMA_GAP_ORACLE = """
WITH RECURSIVE o AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS i
  FROM events),
g AS (
  SELECT a.user_id, a.i - 1 AS j, a.us - b.us AS gap
  FROM o a JOIN o b ON b.user_id = a.user_id AND b.i = a.i - 1),
r AS (
  SELECT user_id, j, gap AS s FROM g WHERE j = 1
  UNION ALL
  SELECT g.user_id, g.j, (3 * g.gap + 5 * r.s) // 8
  FROM r JOIN g ON g.user_id = r.user_id AND g.j = r.j + 1),
last AS (SELECT user_id, max(j) AS nj FROM r GROUP BY 1)
SELECT r.user_id, CAST(l.nj AS BIGINT) AS n_gaps,
       CAST(r.s AS BIGINT) AS ewma_gap_us
FROM r JOIN last l ON r.user_id = l.user_id AND r.j = l.nj
"""


SPECS += [
    QuerySpec(
        "ewma_gap_events",
        ewma_gap_events,
        EWMA_GAP_ORACLE,
        "integer EWMA of per-user inter-arrival gaps vs recursive-CTE fold replay",
    ),
]


def event_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive 3-step path mining over per-user event sequences —
    the k-step generalization of `event_transition_counts` (1-step
    Markov): every (t1 > t2 > t3) window of a user's time-ordered
    stream, counted corpus-wide with the distinct-user support, top 25
    paths.  'What journeys actually happen' is the sequence-mining
    report behind funnel DESIGN (the funnels above verify a chosen
    path; this surfaces the candidates).

    Scale shape: two lead windows per user partition (high
    cardinality, slim (user, ts, event_id, type) rows), one count
    groupBy over a <= |types|^3 key domain, TakeOrderedAndProject for
    the top-k — never a global sort.  Ties in ts order by event_id on
    both engines."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        ev.withColumn("t2", F.lead("event_type", 1).over(w))
        .withColumn("t3", F.lead("event_type", 2).over(w))
        .where(F.col("t3").isNotNull())
        .select(
            "user_id",
            F.concat_ws(
                " > ", F.col("event_type"), F.col("t2"), F.col("t3")
            ).alias("path"),
        )
    )
    counts = paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("user_id").alias("n_users"),
    )
    return counts.orderBy(
        F.desc("n_occurrences"), F.asc("path")
    ).limit(25).withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.desc("n_occurrences"), F.asc("path"))
        ),
    ).select("rank", "path", "n_occurrences", "n_users")


EVENT_PATH_ORACLE = """
WITH o AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER w AS t2,
         lead(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
p AS (
  SELECT user_id, event_type || ' > ' || t2 || ' > ' || t3 AS path
  FROM o WHERE t3 IS NOT NULL),
c AS (
  SELECT path, count(*) AS n_occurrences,
         count(DISTINCT user_id) AS n_users
  FROM p GROUP BY 1)
SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, path ASC)
            AS INTEGER) AS rank,
       path, n_occurrences, CAST(n_users AS BIGINT) AS n_users
FROM c
ORDER BY n_occurrences DESC, path ASC
LIMIT 25
"""


SPECS += [
    QuerySpec(
        "event_path_mining",
        event_path_mining,
        EVENT_PATH_ORACLE,
        "3-step path mining: two lead windows, bounded key domain, TakeOrdered top-k",
    ),
]


_NEAREST_TOL_US = 2 * 3600 * 1_000_000  # ±2h


def nearest_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional nearest join (`operators/relational.py::
    nearest_join`): for every purchase, the click minimizing
    |Δt| within ±2 h — the telemetry-alignment semantics the
    backward-only as-of join (`asof_purchase_attribution`) cannot
    express (a click 5 min AFTER the purchase beats one 90 min
    before).  Equidistant ties go to the earlier click, then the
    smaller id, total-ordered on both engines; all time math in
    integer microseconds."""
    from swisscourtrulingcorpus_spark.operators.relational import (
        nearest_join,
    )
    from swisscourtrulingcorpus_spark.sources.catalog import epoch_us

    ev = load_table(spark, sf_dir, "events")
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        epoch_us("ts").alias("p_us"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        epoch_us("ts").alias("c_us"),
    )
    out = nearest_join(
        purch, clicks, ["user_id"], "p_us", "c_us",
        tolerance=_NEAREST_TOL_US, right_payload=["click_id", "c_us"],
    )
    return out.select(
        "user_id", "purchase_id", "click_id",
        F.col("distance").alias("distance_us"),
    )


NEAREST_CLICK_ORACLE = f"""
WITH p AS (
  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us
  FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_us
  FROM events WHERE event_type = 'click'),
j AS (
  SELECT p.user_id, p.purchase_id, c.click_id, c.c_us,
         abs(c.c_us - p.p_us) AS d
  FROM p JOIN c ON p.user_id = c.user_id
  WHERE c.c_us BETWEEN p.p_us - {_NEAREST_TOL_US}
                   AND p.p_us + {_NEAREST_TOL_US}),
r AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, purchase_id
                               ORDER BY d, c_us, click_id) AS rk
  FROM j)
SELECT user_id, purchase_id, click_id, CAST(d AS BIGINT) AS distance_us
FROM r WHERE rk = 1
"""


SPECS += [
    QuerySpec(
        "nearest_click_to_purchase",
        nearest_click_to_purchase,
        NEAREST_CLICK_ORACLE,
        "bidirectional nearest join within tolerance, min-struct not window",
    ),
]


# --- Kaplan-Meier customer-lifetime survival (operators/survival.py) -----


def kaplan_meier_customer_churn(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kaplan–Meier churn curve over customer order lifetimes
    (`operators/survival.py::kaplan_meier`): duration = days between a
    customer's first and last order, the churn event OBSERVED when the
    last order predates the corpus end by more than 365 days,
    right-CENSORED otherwise (still active at window end — the
    censoring KM exists to handle).  The corpus-end date is a
    broadcast-scalar crossJoin (the drift-family totals pattern); the
    risk table is bounded by distinct durations; both cumulations run
    the shared two-phase prefix sum.  Survival is carried as the
    running micro-int log sum, so the whole curve hash-gates."""
    from swisscourtrulingcorpus_spark.operators.survival import (
        kaplan_meier,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("d")
    )
    pu = o.groupBy("o_custkey").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    mx = pu.agg(F.max("d1").alias("__md"))
    subj = pu.crossJoin(F.broadcast(mx)).select(
        F.datediff("d1", "d0").alias("dur"),
        (F.col("d1") < F.date_sub(F.col("__md"), 365)).alias("event"),
    )
    return kaplan_meier(subj, "dur", "event").orderBy("duration")


KM_CHURN_ORACLE = """
WITH pu AS (
  SELECT o_custkey,
         min(CAST(o_orderdate AS DATE)) AS d0,
         max(CAST(o_orderdate AS DATE)) AS d1
  FROM orders GROUP BY 1),
mx AS (SELECT max(d1) AS md FROM pu),
subj AS (
  SELECT CAST(date_diff('day', d0, d1) AS BIGINT) AS t,
         (d1 < md - 365) AS ev
  FROM pu, mx
  WHERE date_diff('day', d0, d1) >= 0),
per AS (
  SELECT t,
         CAST(count(CASE WHEN ev THEN 1 END) AS BIGINT) AS d,
         CAST(count(CASE WHEN NOT ev THEN 1 END) AS BIGINT) AS c
  FROM subj GROUP BY 1),
tot AS (SELECT count(*) AS n FROM subj),
cum AS (
  SELECT t, d, c,
         sum(d + c) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cm
  FROM per),
rt AS (SELECT t, CAST(n - cm + d + c AS BIGINT) AS r, d, c FROM cum, tot),
f AS (
  SELECT t, r, d, c,
         CASE WHEN d = 0 THEN CAST(0 AS BIGINT)
              WHEN r > d THEN CAST(round(
                ln((r - d) * 1.0 / r) * 1000000.0) AS BIGINT)
         END AS fac,
         CASE WHEN d = 0 THEN CAST(0 AS BIGINT)
              WHEN r > d THEN CAST(round(
                CAST(d AS DOUBLE) * 1e12
                / (CAST(r AS DOUBLE) * CAST(r - d AS DOUBLE))) AS BIGINT)
         END AS gw
  FROM rt)
SELECT t AS duration, r AS n_risk, d AS n_events, c AS n_censored,
       fac AS km_factor_micro,
       CASE WHEN fac IS NOT NULL THEN
         CAST(sum(coalesce(fac, 0))
              OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT)
       END AS surv_lnsum_micro,
       gw AS greenwood_term_p12,
       CASE WHEN gw IS NOT NULL THEN
         CAST(sum(coalesce(gw, 0))
              OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT)
       END AS greenwood_sum_p12
FROM f
ORDER BY t
"""


SPECS += [
    QuerySpec(
        "kaplan_meier_customer_churn",
        kaplan_meier_customer_churn,
        KM_CHURN_ORACLE,
        "KM survival curve: censored lifetimes, prefix-sum cumulations, micro-log survival + Greenwood p12 variance band",
    ),
]


def logrank_churn_by_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-sample log-rank test table between BUILDING and MACHINERY
    customers' churn survival (`operators/survival.py::logrank_table`
    — the hypothesis-test companion of `kaplan_meier_customer_churn`:
    same durations/censoring, split by market segment).  One row per
    distinct EVENT duration with the hypergeometric observed/expected
    decomposition as micro-int fixed-shape expressions; the caller's
    z-statistic is exact integer sums over the table.  Both groups'
    at-risk countdowns ride ONE multi-column prefix-sum pass."""
    from swisscourtrulingcorpus_spark.operators.survival import (
        logrank_table,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("d")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    pu = o.groupBy("o_custkey").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    mx = pu.agg(F.max("d1").alias("__md"))
    subj = (
        pu.crossJoin(F.broadcast(mx))
        .join(F.broadcast(cust), pu.o_custkey == cust.c_custkey)
        .select(
            F.datediff("d1", "d0").alias("dur"),
            (F.col("d1") < F.date_sub(F.col("__md"), 365)).alias("event"),
            "c_mktsegment",
        )
    )
    return logrank_table(
        subj, "dur", "event", "c_mktsegment", "BUILDING", "MACHINERY"
    ).orderBy("duration")


LOGRANK_ORACLE = """
WITH pu AS (
  SELECT o_custkey,
         min(CAST(o_orderdate AS DATE)) AS d0,
         max(CAST(o_orderdate AS DATE)) AS d1
  FROM orders GROUP BY 1),
mx AS (SELECT max(d1) AS md FROM pu),
subj AS (
  SELECT CAST(date_diff('day', d0, d1) AS BIGINT) AS t,
         (d1 < md - 365) AS ev,
         c.c_mktsegment AS g
  FROM pu, mx
  JOIN customer c ON pu.o_custkey = c.c_custkey
  WHERE date_diff('day', d0, d1) >= 0
    AND c.c_mktsegment IN ('BUILDING', 'MACHINERY')),
per AS (
  SELECT t,
         CAST(count(CASE WHEN g = 'BUILDING' AND ev THEN 1 END) AS BIGINT) AS d_a,
         CAST(count(CASE WHEN g = 'MACHINERY' AND ev THEN 1 END) AS BIGINT) AS d_b,
         CAST(count(CASE WHEN g = 'BUILDING' THEN 1 END) AS BIGINT) AS o_a,
         CAST(count(CASE WHEN g = 'MACHINERY' THEN 1 END) AS BIGINT) AS o_b
  FROM subj GROUP BY 1),
tot AS (SELECT sum(o_a) AS na, sum(o_b) AS nb FROM per),
cum AS (
  SELECT t, d_a, d_b, o_a, o_b,
         sum(o_a) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS ca,
         sum(o_b) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cb
  FROM per),
risk AS (
  SELECT t,
         CAST(na - ca + o_a AS BIGINT) AS ra,
         CAST(nb - cb + o_b AS BIGINT) AS rb,
         d_a, d_b
  FROM cum, tot
  WHERE d_a + d_b > 0)
SELECT t AS duration, ra AS n_risk_a, rb AS n_risk_b, d_a, d_b,
       CAST(round(CAST(d_a + d_b AS DOUBLE) * CAST(ra AS DOUBLE)
                  / CAST(ra + rb AS DOUBLE) * 1000000.0) AS BIGINT)
         AS e_a_micro,
       CASE WHEN ra + rb > 1 THEN CAST(round(
           CAST(d_a + d_b AS DOUBLE)
           * (CAST(ra AS DOUBLE) / CAST(ra + rb AS DOUBLE))
           * (1.0 - CAST(ra AS DOUBLE) / CAST(ra + rb AS DOUBLE))
           * (CAST(ra + rb AS DOUBLE) - CAST(d_a + d_b AS DOUBLE))
           / (CAST(ra + rb AS DOUBLE) - 1.0) * 1000000.0) AS BIGINT)
       ELSE CAST(0 AS BIGINT) END AS v_micro
FROM risk
ORDER BY duration
"""


SPECS += [
    QuerySpec(
        "logrank_churn_by_segment",
        logrank_churn_by_segment,
        LOGRANK_ORACLE,
        "log-rank O/E table: hypergeometric micro-int rows, one shared at-risk prefix pass",
    ),
]
