"""Extended operator families beyond the reference's surface (SURVEY §2.G
lists these as confirmed absences there; Spark supplies them natively, and a
training-data pipeline leans on several).  All oracle-checked unless noted.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from era_parser_spark.queries.exprs import dsum, sql_dsum
from era_parser_spark.queries.registry import register, table
from era_parser_spark.session import rows_frame


@register(
    "x1_asof_join",
    oracle="""
    SELECT event_id, user_id, ts, value,
           last_click_value, last_click_ts
    FROM (
      SELECT event_id, user_id, ts, value, event_type,
             last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
               OVER w AS last_click_value,
             last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
               OVER w AS last_click_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    WHERE event_type = 'purchase'
    """,
)
def x1_asof_join(spark, sf_dir):
    """As-of join: each purchase picks up the latest strictly-prior click of
    the same user.  Spark lacks a native ASOF JOIN; the scalable idiom is a
    single partitioned window over the unioned stream (one shuffle by key,
    no range join, no skewed band join) — pd.merge_asof via applyInPandas
    is the fallback when the two sides can't share one relation."""
    ev = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    click_val = F.when(F.col("event_type") == "click", F.col("value"))
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    return (
        ev.withColumn("last_click_value", F.last(click_val, ignorenulls=True).over(w))
        .withColumn("last_click_ts", F.last(click_ts, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "value", "last_click_value", "last_click_ts")
    )


@register(
    "x2_sessionize",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, event_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id, count(DISTINCT session_id) AS n_sessions,
           count(*) AS n_events,
           CAST(count(*) AS DOUBLE) / count(DISTINCT session_id) AS events_per_session
    FROM sessions GROUP BY user_id
    """,
)
def x2_sessionize(spark, sf_dir):
    """Sessionization: 30-minute inactivity gap splits sessions (lag +
    running sum of session-start markers — the standard batch idiom)."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # Interval comparison (not a cast-to-long) so the expression is valid for
    # both TIMESTAMP and TIMESTAMP_NTZ inputs: Spark 4 reads parquet
    # isAdjustedToUTC=false timestamps as TIMESTAMP_NTZ, which cannot be cast
    # to BIGINT.
    new_session = (
        prev_ts.isNull()
        | ((F.col("ts") - prev_ts) > F.expr("INTERVAL 30 MINUTES"))
    ).cast("int")
    sessions = ev.withColumn("new_session", new_session).withColumn(
        "session_id", F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return sessions.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
        (F.count(F.lit(1)).cast("double") / F.countDistinct("session_id")).alias(
            "events_per_session"
        ),
    )


@register(
    "x3_rollup",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
           {sql_dsum('o_totalprice')} AS total
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def x3_rollup(spark, sf_dir):
    """Hierarchical ROLLUP totals (status, status+priority, grand total)."""
    return (
        table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("o_totalprice").alias("total"))
    )


@register(
    "x4_set_ops",
    oracle="""
    WITH a AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'),
         b AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
    SELECT 'both_years' AS segment, count(*) AS cnt FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
    UNION ALL
    SELECT 'only_1996' AS segment, count(*) AS cnt FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
    UNION ALL
    SELECT 'only_1997' AS segment, count(*) AS cnt FROM (SELECT * FROM b EXCEPT SELECT * FROM a)
    """,
)
def x4_set_ops(spark, sf_dir):
    """INTERSECT / EXCEPT customer-cohort segmentation."""
    orders = table(spark, sf_dir, "orders")

    def cohort(y0, y1):
        return (
            orders.filter(
                (F.col("o_orderdate") >= F.lit(y0).cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(y1).cast("timestamp"))
            )
            .select("o_custkey")
            .distinct()
        )

    a = cohort("1996-01-01", "1997-01-01")
    b = cohort("1997-01-01", "1998-01-01")

    def seg(name, df):
        return df.agg(F.count(F.lit(1)).alias("cnt")).select(
            F.lit(name).alias("segment"), "cnt"
        )

    return (
        seg("both_years", a.intersect(b))
        .unionByName(seg("only_1996", a.exceptAll(b)))
        .unionByName(seg("only_1997", b.exceptAll(a)))
    )


@register(
    "x5_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.25) AS p25,
           quantile_cont(l_extendedprice, 0.50) AS p50,
           quantile_cont(l_extendedprice, 0.90) AS p90
    FROM lineitem GROUP BY l_returnflag
    """,
)
def x5_percentiles(spark, sf_dir):
    """Exact percentiles (continuous + discrete).  At 100 TB use
    percentile_approx — exact percentile requires a per-group sort."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.25)).alias("p25"),
        F.percentile("l_extendedprice", F.lit(0.50)).alias("p50"),
        F.percentile("l_extendedprice", F.lit(0.90)).alias("p90"),
    )


@register(
    "x6_range_join",
    oracle="""
    WITH buckets(lo, hi, label) AS (VALUES
      (0.0, 10.0, 'low'), (10.0, 25.0, 'mid'), (25.0, 1e9, 'high'))
    SELECT label, count(*) AS cnt, count(DISTINCT l_orderkey) AS n_orders
    FROM lineitem JOIN buckets ON l_quantity >= lo AND l_quantity < hi
    GROUP BY label
    """,
)
def x6_range_join(spark, sf_dir):
    """Banded range join against a tiny broadcast band table (Spark plans a
    broadcast nested-loop — the right physical plan for bands)."""
    li = table(spark, sf_dir, "lineitem")
    buckets = rows_frame(
        li.sparkSession,
        [(0.0, 10.0, "low"), (10.0, 25.0, "mid"), (25.0, 1e9, "high")],
        "lo double, hi double, label string",
    )
    return (
        li.join(
            F.broadcast(buckets),
            (li.l_quantity >= buckets.lo) & (li.l_quantity < buckets.hi),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
    )


@register(
    "x7_systematic_sample",
    oracle=f"""
    SELECT count(*) AS sample_rows, {sql_dsum('o_totalprice')} AS sample_total
    FROM orders WHERE o_orderkey % 20 = 7
    """,
)
def x7_systematic_sample(spark, sf_dir):
    """Deterministic systematic sampling (key mod k) — reproducible across
    engines/runs, unlike rand()-based TABLESAMPLE."""
    return (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 20 == 7)
        .agg(
            F.count(F.lit(1)).alias("sample_rows"),
            dsum("o_totalprice").alias("sample_total"),
        )
    )


@register(
    "x9_pivot",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click') AS click,
           count(*) FILTER (WHERE event_type = 'view') AS view,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS signup,
           count(*) FILTER (WHERE event_type = 'error') AS error
    FROM events GROUP BY user_id
    """,
)
def x9_pivot(spark, sf_dir):
    """Pivot event types to columns (explicit value list keeps the plan a
    single pass — no distinct-values pre-query)."""
    types = ["click", "view", "purchase", "signup", "error"]
    out = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types]
    )


@register("x8_approx_stats")  # approximate by design -> rows-only check
def x8_approx_stats(spark, sf_dir):
    """Sketch-based approximations next to their exact values: the 100 TB
    substitutes for count-distinct and percentile (error asserted <5% in
    tests)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.percentile("value", F.lit(0.5)).alias("exact_p50"),
        F.percentile_approx("value", F.lit(0.5), F.lit(5000)).alias("approx_p50"),
    )


@register(
    "x10_salted_skew_join",
    # Salting is result-neutral: the oracle is the plain join+agg.  The
    # plan-side guarantees (build replicated salt_factor ways, join keyed on
    # (key, salt), no broadcast) are pinned in tests/test_plan_audit.py.
    oracle=f"""
    SELECT c_nationkey AS nationkey,
           count(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
)
def x10_salted_skew_join(spark, sf_dir):
    """Hot-key-safe fact-to-dimension join (operators/skew.py::salted_join):
    orders' custkey is salted 8 ways and customer replicated 8 ways, so a
    pathological customer spreads over 8 tasks instead of stalling one.
    shuffle_hash hint = the production regime (build too big to broadcast).
    """
    from era_parser_spark.operators.skew import salted_join

    orders = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_nationkey"
    )
    return (
        salted_join(orders, cust, "custkey", salt_factor=8, join_hint="shuffle_hash")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("revenue"))
    )


@register(
    "x11_scd2_intervals",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    starts AS (SELECT * FROM marked WHERE chg = 1)
    SELECT user_id, event_type AS state, ts AS valid_from,
           lead(ts) OVER w2 AS valid_to,
           lead(ts) OVER w2 IS NULL AS is_current
    FROM starts
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def x11_scd2_intervals(spark, sf_dir):
    """SCD type-2 history build: collapse each user's event_type stream into
    validity intervals [valid_from, valid_to) — consecutive equal states
    merge, the open interval is flagged is_current.  The standard
    dimension-history / state-timeline operator (ClickHouse users reach for
    groupArray hacks; warehouses run MERGE loops).

    Scale shape: both windows partition by user_id, so Catalyst plans ONE
    hash Exchange and the change-point filter + lead run inside the same
    partitioning — no second shuffle, no driver work.  NTZ-safe: timestamps
    are only compared/lagged, never cast (the r03 x2 trap)."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    starts = ev.withColumn(
        "__chg",
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type")),
    ).filter(F.col("__chg"))
    return starts.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


@register(
    "x12_kmv_distinct",
    # KMV is the oracle-EXACT sketch: the k smallest 60-bit md5 hashes are
    # a pure function of the value set, and (k-1)*2^60 (exact in a double)
    # / kth is one correctly-rounded IEEE division in both engines.
    oracle="""
    WITH d AS (
      SELECT DISTINCT event_type,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM events
      WHERE user_id IS NOT NULL
    ),
    rk AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM d
    ),
    tk AS (
      SELECT event_type, max(h) AS kth_min, count(*) AS m
      FROM rk WHERE rn <= 32 GROUP BY event_type
    )
    SELECT event_type, CAST(m AS BIGINT) AS n_tracked, kth_min,
           CASE WHEN m < 32 THEN CAST(m AS DOUBLE)
                ELSE 31.0 * 1152921504606846976 / CAST(kth_min AS DOUBLE)
           END AS est_distinct
    FROM tk
    """,
)
def x12_kmv_distinct(spark, sf_dir):
    """Per-event-type distinct-user estimate via a KMV sketch (k=32) —
    the deterministic, oracle-checkable counterpart of x8's HLL-based
    approx_count_distinct.  One map-side-combined shuffle of partial hash
    SETS (salted into 16 cells so no task holds a group's full distinct
    set), then a tiny merge."""
    from era_parser_spark.operators.sketch import kmv_distinct

    ev = table(spark, sf_dir, "events")
    return kmv_distinct(ev, "event_type", "user_id", k=32, buckets=16)


@register(
    "x13_funnel_stages",
    # The per-user event sequence (type initials ordered by ts, event_id)
    # is the same string in both engines, and LIKE '%v%c%p%' subsequence
    # tests are engine-agnostic — so the whole funnel is oracle-exact.
    oracle="""
    WITH seqs AS (
      SELECT user_id, date_trunc('day', ts) AS d,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id, d
    ),
    staged AS (
      SELECT user_id,
             CASE WHEN seq LIKE '%v%c%p%' THEN 3
                  WHEN seq LIKE '%v%c%' THEN 2
                  WHEN seq LIKE '%v%' THEN 1
                  ELSE 0 END AS funnel_stage
      FROM seqs
    )
    SELECT CAST(funnel_stage AS INTEGER) AS funnel_stage,
           CAST(count(*) AS BIGINT) AS n_user_days
    FROM staged GROUP BY funnel_stage
    """,
)
def x13_funnel_stages(spark, sf_dir):
    """Funnel analysis (view -> click -> purchase within a day, gaps
    allowed): how far each (user, day) progresses through an ordered stage
    sequence — the ClickHouse windowFunnel / product-analytics staple,
    with the day scope playing windowFunnel's time-window role.

    Each user-day's events collapse to a compact initials string in (ts,
    event_id) order; stage reached is an ordered-subsequence test (LIKE
    '%v%c%p%'), evaluated in codegen.  One shuffle of (user, day, tiny
    struct) with the sort inside the aggregate's collected array, not a
    window over the event stream; per-group memory is one day's events —
    the sessionized-entity contract every groupBy-user analytic shares.

    NTZ-safe: ts is date_trunc'd and struct-sorted, never cast."""
    ev = table(spark, sf_dir, "events")
    seq = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("d"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: F.substring(s.getField("event_type"), 1, 1),
                ),
                "",
            ).alias("seq")
        )
    )
    stage = (
        F.when(F.col("seq").like("%v%c%p%"), 3)
        .when(F.col("seq").like("%v%c%"), 2)
        .when(F.col("seq").like("%v%"), 1)
        .otherwise(0)
    )
    return (
        seq.select(stage.cast("int").alias("funnel_stage"))
        .groupBy("funnel_stage")
        .agg(F.count(F.lit(1)).alias("n_user_days"))
    )


@register(
    "x14_equidepth_histogram",
    # ntile follows the SQL standard in both engines (first n%b buckets get
    # the extra row) and the (n_chars, doc_id) order is total, so bucket
    # membership — not just bucket stats — is identical.
    oracle="""
    WITH b AS (
      SELECT lang, n_chars,
             ntile(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
               AS quartile
      FROM documents
    )
    SELECT lang, CAST(quartile AS INTEGER) AS quartile,
           min(n_chars) AS lo, max(n_chars) AS hi,
           CAST(count(*) AS BIGINT) AS n
    FROM b GROUP BY lang, quartile
    """,
)
def x14_equidepth_histogram(spark, sf_dir):
    """Equi-depth (quantile-bucket) histogram of document length per
    language: ntile(4) over a total order, then per-bucket bounds — the
    standard feature-distribution profile before curation threshold
    tuning.  One shuffle on lang (window + agg share the partitioning);
    the deterministic tiebreak makes even bucket MEMBERSHIP engine-exact,
    unlike percentile_approx."""
    ev = table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (
        ev.select("lang", "n_chars", F.ntile(4).over(w).alias("quartile"))
        .groupBy("lang", "quartile")
        .agg(
            F.min("n_chars").alias("lo"),
            F.max("n_chars").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def _x15_oracle() -> str:
    from era_parser_spark.operators.layout import sql_zorder_expr

    z = sql_zorder_expr(["l_partkey", "l_suppkey"], bits=16)
    return f"""
    SELECT {z} >> 12 AS zbucket,
           CAST(count(*) AS BIGINT) AS n,
           min(l_partkey) AS pk_lo, max(l_partkey) AS pk_hi,
           min(l_suppkey) AS sk_lo, max(l_suppkey) AS sk_hi
    FROM lineitem GROUP BY zbucket
    """


@register("x15_zorder_layout", oracle=_x15_oracle())
def x15_zorder_layout(spark, sf_dir):
    """Z-order (Morton) clustering key over (l_partkey, l_suppkey) — the
    Delta/Iceberg OPTIMIZE ZORDER primitive, as pure BIGINT bit
    arithmetic identical in both engines.  Emits per-z-bucket occupancy
    and per-column min/max: exactly the parquet footer bounds a
    z-clustered file would carry, i.e. the pruning power a multi-column
    scan gains from the layout.  Plan: one codegen projection + one
    aggregate; the writer path (operators/layout.py::zorder_layout) adds
    only the range-partition shuffle any global sort costs."""
    from era_parser_spark.operators.layout import zorder_key

    li = table(spark, sf_dir, "lineitem")
    zb = F.shiftright(zorder_key(["l_partkey", "l_suppkey"], bits=16), 12)
    return (
        li.select(zb.alias("zbucket"), "l_partkey", "l_suppkey")
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_partkey").alias("pk_lo"),
            F.max("l_partkey").alias("pk_hi"),
            F.min("l_suppkey").alias("sk_lo"),
            F.max("l_suppkey").alias("sk_hi"),
        )
    )


@register(
    "x16_retention_cohorts",
    # All-integer date math: DATE cohorts, date_diff day offsets, distinct
    # counts — nothing floats.  DuckDB date_trunc returns DATE directly;
    # Spark side uses to_date for the same type.
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ),
    cohort AS (SELECT user_id, min(d) AS c0 FROM ud GROUP BY user_id),
    j AS (
      SELECT c.c0, u.user_id, date_diff('day', c.c0, u.d) AS off
      FROM ud u JOIN cohort c USING (user_id)
    )
    SELECT c0 AS cohort_date,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT CASE WHEN off = 1 THEN user_id END) AS BIGINT) AS d1,
           CAST(count(DISTINCT CASE WHEN off = 3 THEN user_id END) AS BIGINT) AS d3,
           CAST(count(DISTINCT CASE WHEN off = 7 THEN user_id END) AS BIGINT) AS d7
    FROM j GROUP BY c0
    """,
)
def x16_retention_cohorts(spark, sf_dir):
    """Cohort retention (the ClickHouse `retention` family): users grouped
    by first-active day, with distinct-user counts still active at day
    offsets 1/3/7.  Shuffle shape: one distinct on (user, day), cohort agg
    and join both key on user (the partitioning reuses), final agg on the
    tiny cohort-date key."""
    ev = table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")).distinct()
    cohort = ud.groupBy("user_id").agg(F.min("d").alias("c0"))
    j = ud.join(cohort, "user_id").select(
        "c0", "user_id", F.datediff("d", "c0").alias("off")
    )
    def _at(n):
        return F.countDistinct(F.when(F.col("off") == n, F.col("user_id"))).alias(f"d{n}")
    return (
        j.groupBy(F.col("c0").alias("cohort_date"))
        .agg(F.countDistinct("user_id").alias("n_users"), _at(1), _at(3), _at(7))
    )


@register(
    "x17_time_weighted_avg",
    # Exactness recipe: value quantized to integer micro-units via floor
    # (IEEE-identical), durations in whole seconds of epoch-microsecond
    # arithmetic, weighted sum and the final mean both integer division —
    # only the last /1e6 is a float op, identical in both engines.
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(floor(value * 1000000) AS BIGINT) AS qv
      FROM events WHERE value IS NOT NULL
    ),
    w AS (
      SELECT user_id, qv, us,
             lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS nxt
      FROM e
    ),
    d AS (
      SELECT user_id, qv, (nxt - us) // 1000000 AS dur_s
      FROM w WHERE nxt IS NOT NULL
    ),
    agg AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_intervals,
             CAST(sum(dur_s) AS BIGINT) AS span_s,
             CAST(sum(qv * dur_s) AS BIGINT) AS wsum
      FROM d GROUP BY user_id HAVING sum(dur_s) > 0
    )
    SELECT user_id, n_intervals, span_s,
           CAST(wsum // span_s AS BIGINT) AS twa_micro,
           CAST(wsum // span_s AS BIGINT) / 1000000.0 AS twa
    FROM agg
    """,
)
def x17_time_weighted_avg(spark, sf_dir):
    """Time-weighted average of an irregular series per user (the
    TimescaleDB `time_weight` shape, locf interpolation): each value
    holds until the user's next event; the mean weights by held duration.
    One shuffle on user_id shared by the lead window and the aggregate."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    e = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.floor(F.col("value") * 1000000).cast("long").alias("qv"),
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    d = (
        e.withColumn("nxt", F.lead("us").over(w))
        .filter(F.col("nxt").isNotNull())
        .select("user_id", "qv", F.expr("(nxt - us) div 1000000").alias("dur_s"))
    )
    agg = (
        d.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("dur_s").alias("span_s"),
            F.expr("sum(qv * dur_s)").alias("wsum"),
        )
        .filter(F.col("span_s") > 0)
    )
    twa_micro = F.expr("wsum div span_s")
    return agg.select(
        "user_id",
        "n_intervals",
        "span_s",
        twa_micro.cast("long").alias("twa_micro"),
        (twa_micro.cast("long") / F.lit(1000000.0)).alias("twa"),
    )


@register(
    "x18_asof_nearest",
    # Deltas are epoch-microsecond BIGINT subtraction; the backward-wins
    # tiebreak is the same CASE in both engines; same-timestamp clicks
    # resolve by the (ts, event_id) total window order.
    oracle="""
    SELECT event_id, user_id, us, nearest_click_us, nearest_click_value,
           delta_us, direction
    FROM (
      SELECT event_id, user_id, event_type, us, b_us, f_us,
             CASE WHEN b_us IS NOT NULL
                       AND (f_us IS NULL OR us - b_us <= f_us - us)
                  THEN 'backward'
                  WHEN f_us IS NOT NULL THEN 'forward' END AS direction,
             CASE WHEN b_us IS NOT NULL
                       AND (f_us IS NULL OR us - b_us <= f_us - us)
                  THEN b_us ELSE f_us END AS nearest_click_us,
             CASE WHEN b_us IS NOT NULL
                       AND (f_us IS NULL OR us - b_us <= f_us - us)
                  THEN b_val ELSE f_val END AS nearest_click_value
      FROM (
        SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
               last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END
                          IGNORE NULLS) OVER wb AS b_us,
               last_value(CASE WHEN event_type = 'click' THEN value END
                          IGNORE NULLS) OVER wb AS b_val,
               first_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END
                           IGNORE NULLS) OVER wf AS f_us,
               first_value(CASE WHEN event_type = 'click' THEN value END
                           IGNORE NULLS) OVER wf AS f_val
        FROM events
        WINDOW wb AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               wf AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
      )
    )
    CROSS JOIN LATERAL (SELECT abs(us - nearest_click_us) AS delta_us) d
    WHERE event_type = 'purchase' AND direction IS NOT NULL
    """,
)
def x18_asof_nearest(spark, sf_dir):
    """Nearest-direction as-of join (pandas merge_asof direction='nearest'):
    each purchase picks the time-closest click of the same user, either
    side, backward winning ties.  Both direction windows share ONE
    partitioned sort — still a single shuffle on user_id, no range join."""
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = ev.select("event_id", "user_id", "event_type", "value", us.alias("us"))
    wb = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    wf = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(1, W.unboundedFollowing)
    )
    c_us = F.when(F.col("event_type") == "click", F.col("us"))
    c_val = F.when(F.col("event_type") == "click", F.col("value"))
    stag = base.select(
        "*",
        F.last(c_us, ignorenulls=True).over(wb).alias("b_us"),
        F.last(c_val, ignorenulls=True).over(wb).alias("b_val"),
        F.first(c_us, ignorenulls=True).over(wf).alias("f_us"),
        F.first(c_val, ignorenulls=True).over(wf).alias("f_val"),
    )
    use_b = F.col("b_us").isNotNull() & (
        F.col("f_us").isNull()
        | ((F.col("us") - F.col("b_us")) <= (F.col("f_us") - F.col("us")))
    )
    near_us = F.when(use_b, F.col("b_us")).otherwise(F.col("f_us"))
    return (
        stag.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "us",
            near_us.alias("nearest_click_us"),
            F.when(use_b, F.col("b_val")).otherwise(F.col("f_val")).alias(
                "nearest_click_value"
            ),
            F.abs(F.col("us") - near_us).alias("delta_us"),
            F.when(use_b, F.lit("backward"))
            .when(F.col("f_us").isNotNull(), F.lit("forward"))
            .alias("direction"),
        )
        .filter(F.col("direction").isNotNull())
    )


@register(
    "x19_hopping_windows",
    # A 1h window hopping every 30min: each event lands in exactly two
    # windows; the oracle derives the same window starts by flooring the
    # epoch to each 30-min boundary covered by the hour.  Counts and
    # decimal-exact sums only.
    oracle="""
    WITH e AS (SELECT event_type, epoch_us(ts) AS us, value FROM events),
    w AS (
      SELECT event_type, value,
             CAST((us // 1800000000 - k) * 1800000000 AS BIGINT) AS win_start_us
      FROM e, unnest(range(0, 2)) AS u(k)
      WHERE (us // 1800000000 - k) * 1800000000 + 3600000000 > us
    )
    SELECT win_start_us, event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4))
                AS DOUBLE) AS sum_value
    FROM w GROUP BY win_start_us, event_type
    """,
)
def x19_hopping_windows(spark, sf_dir):
    """Hopping (sliding) event-time windows: 1-hour windows every 30
    minutes via Spark's native window(ts, '1 hour', '30 minutes') — each
    event expands to its two covering windows before one aggregate.  The
    streaming twin is st1 with the same expression; decimal-cast sums keep
    the values order-independent."""
    from era_parser_spark.queries.exprs import dsum

    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("sum_value"))
        .select(
            F.unix_micros(F.col("w.start").cast("timestamp")).alias("win_start_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "x20_period_over_period",
    # Decimal-exact daily sums, BIGINT day keys, and the growth ratio is
    # ONE double division of two already-identical doubles.
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_no,
             CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4))
                  AS DOUBLE) AS day_value
      FROM events GROUP BY event_type, day_no
    )
    SELECT event_type, day_no, n, day_value,
           lag(day_value) OVER (PARTITION BY event_type ORDER BY day_no)
             AS prev_value,
           CASE WHEN lag(day_value) OVER (PARTITION BY event_type
                                          ORDER BY day_no) <> 0
                THEN day_value / lag(day_value) OVER (PARTITION BY event_type
                                                      ORDER BY day_no) - 1.0
           END AS growth
    FROM d
    """,
)
def x20_period_over_period(spark, sf_dir):
    """Period-over-period comparison (the BI day-over-day growth shape):
    daily value per event_type, previous period via lag, relative growth.
    day_no keys are exact integer epoch-day arithmetic; one shuffle on
    event_type shared by the aggregate and the lag window."""
    ev = table(spark, sf_dir, "events")
    from era_parser_spark.queries.exprs import dsum

    d = (
        ev.groupBy(
            "event_type",
            F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("day_no"),
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("day_value"))
    )
    w = W.partitionBy("event_type").orderBy("day_no")
    prev = F.lag("day_value").over(w)
    return d.select(
        "event_type",
        "day_no",
        "n",
        "day_value",
        prev.alias("prev_value"),
        F.when(prev != 0, F.col("day_value") / prev - 1.0).alias("growth"),
    )


@register(
    "x21_session_conversion",
    # Sessions re-derived exactly as x2 (30-min gap, (ts, event_id) total
    # order); conversion = any view (event_type 'v%'... use 'view') before
    # a purchase IN THE SAME session.  Counts only — all integers.
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sess AS (
      SELECT user_id, event_type,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    ),
    per AS (
      SELECT user_id, session_id,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_view,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase
      FROM sess GROUP BY user_id, session_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(has_view) AS BIGINT) AS view_sessions,
           CAST(sum(has_purchase) AS BIGINT) AS purchase_sessions,
           CAST(sum(has_view * has_purchase) AS BIGINT) AS converted_sessions
    FROM per
    """,
)
def x21_session_conversion(spark, sf_dir):
    """Session-level conversion counts: sessions re-derived with the x2
    gap rule, then per-session view/purchase flags and the co-occurrence
    count — the product-analytics conversion-rate numerator/denominator.
    One shuffle on user_id shared by both windows and the session agg;
    the final count is a tiny global fold."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("timestamp").cast("double") - F.lag(
        F.col("ts").cast("timestamp").cast("double")
    ).over(w)
    marked = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)),
    )
    sess = marked.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    per = sess.groupBy("user_id", "session_id").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("has_view"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "has_purchase"
        ),
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("has_view").alias("view_sessions"),
        F.sum("has_purchase").alias("purchase_sessions"),
        F.sum(F.col("has_view") * F.col("has_purchase")).alias("converted_sessions"),
    )


@register(
    "x22_cumulative_distinct",
    # Running distinct-user count WITHOUT a quadratic running
    # count-distinct window: a user contributes on their FIRST day only,
    # so cumulative distinct = cumsum of first-seen counts — all integer.
    oracle="""
    WITH f AS (
      SELECT user_id,
             min(CAST(epoch_us(ts) // 86400000000 AS BIGINT)) AS first_day
      FROM events GROUP BY user_id
    ),
    days AS (
      SELECT DISTINCT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_no
      FROM events
    ),
    news AS (SELECT first_day AS day_no, count(*) AS n_new FROM f GROUP BY first_day)
    SELECT d.day_no,
           CAST(coalesce(n.n_new, 0) AS BIGINT) AS n_new_users,
           CAST(sum(coalesce(n.n_new, 0)) OVER (ORDER BY d.day_no
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_users
    FROM days d LEFT JOIN news n USING (day_no)
    """,
)
def x22_cumulative_distinct(spark, sf_dir):
    """Cumulative distinct users by day (the growth-curve / cumulative-DAU
    shape).  The scalable reformulation: a running COUNT(DISTINCT) window
    is quadratic state, but each user counts only on their first-seen day,
    so the answer is a cumsum over the tiny per-day new-user table — one
    user-keyed aggregate plus a <=|days|-row window."""
    ev = table(spark, sf_dir, "events")
    day = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
    f = ev.groupBy("user_id").agg(F.min(day).alias("first_day"))
    days = ev.select(day.alias("day_no")).distinct()
    news = f.groupBy(F.col("first_day").alias("day_no")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = W.orderBy("day_no").rowsBetween(W.unboundedPreceding, 0)
    return (
        days.join(news, "day_no", "left")
        .select("day_no", F.coalesce("n_new", F.lit(0)).alias("n_new_users"))
        .withColumn("cumulative_users", F.sum("n_new_users").over(w).cast("long"))
    )


@register(
    "x23_countmin_sketch",
    # The whole count-min cell table is a pure function of the value
    # multiset (md5-derived row hashes, the x12 argument), so the sketch
    # itself is oracle-EXACT — estimation error lives in point queries,
    # which pytest pins against exact counts.
    oracle="""
    WITH c AS (
      SELECT CAST(j AS INTEGER) AS row,
             CAST(concat('0x', substr(md5(
               CAST(j AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)
             ), 1, 15)) AS BIGINT) % 64 AS col
      FROM events, unnest(range(0, 4)) AS u(j)
      WHERE user_id IS NOT NULL
    )
    SELECT row, col, CAST(count(*) AS BIGINT) AS cnt
    FROM c GROUP BY row, col
    """,
)
def x23_countmin_sketch(spark, sf_dir):
    """Count-min frequency sketch of event user activity
    (operators/sketch.py::countmin_sketch): 4x64 mergeable counters,
    map-side-combined — the sketch tier next to x12's KMV."""
    from era_parser_spark.operators.sketch import countmin_sketch

    ev = table(spark, sf_dir, "events")
    return countmin_sketch(ev, "user_id", depth=4, width=64)


@register(
    "x24_bloom_filter",
    # The bit set is a pure function of the distinct user_id set (60-bit
    # md5 positions mod 2^14), so the whole filter state is oracle-EXACT
    # — same argument as x12 (KMV) and x23 (count-min).
    oracle="""
    SELECT DISTINCT CAST(concat('0x', substr(md5(
             CAST(j AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)
           ), 1, 15)) AS BIGINT) % 16384 AS bit
    FROM events, unnest(range(0, 4)) AS u(j)
    WHERE user_id IS NOT NULL
    """,
)
def x24_bloom_filter(spark, sf_dir):
    """Mergeable Bloom membership filter over the event users
    (operators/sketch.py::bloom_bits): the shuffle carries at most
    min(4·distinct, 16384) BIGINT bit positions (map-side distinct),
    never the values; two corpora's filters merge by union.  The packed
    broadcastable form (bloom_words) drives dd14's decontamination."""
    from era_parser_spark.operators.sketch import bloom_bits

    ev = table(spark, sf_dir, "events")
    return bloom_bits(ev, "user_id", m_bits=1 << 14, k=4)


def _x25_oracle() -> str:
    """Unrolled 3-iteration integer PageRank as DuckDB CTEs — the exact
    twin of operators/graph.py::pagerank (truncating BIGINT division on
    non-negative values, so DuckDB // == Spark div everywhere)."""
    head = """
    WITH e AS (
      SELECT DISTINCT src, dst FROM (
        SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) AS src,
               'h' || CAST((doc_id * 7 + 3) % 53 AS VARCHAR) AS dst
        FROM documents
        UNION ALL
        SELECT 'h' || CAST(doc_id % 40 AS VARCHAR),
               'h' || CAST((doc_id * 13 + 5) % 53 AS VARCHAR)
        FROM documents
      ) WHERE src <> dst
    ),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
    p AS (SELECT count(*) AS n,
                 1000000000000 // count(*) AS r0,
                 ((100 - 85) * (1000000000000 // count(*))) // 100 AS base
          FROM nodes),
    r0 AS (SELECT node, (SELECT r0 FROM p) AS pr FROM nodes)"""
    steps = []
    for i in range(1, 4):
        prev = f"r{i - 1}"
        steps.append(f"""
    d{i} AS (SELECT coalesce(sum(pr), 0) AS dang
             FROM {prev} LEFT JOIN deg ON node = src WHERE outdeg IS NULL),
    i{i} AS (SELECT e.dst AS dst, sum({prev}.pr // deg.outdeg) AS insum
             FROM e JOIN {prev} ON e.src = {prev}.node
                    JOIN deg ON e.src = deg.src
             GROUP BY e.dst),
    r{i} AS (SELECT node,
                    CAST((SELECT base FROM p)
                         + (85 * coalesce(insum, 0)) // 100
                         + (85 * ((SELECT dang FROM d{i}) // (SELECT n FROM p))) // 100
                      AS BIGINT) AS pr
             FROM nodes LEFT JOIN i{i} ON node = dst)""")
    return head + "," + ",".join(steps) + "\n    SELECT node, pr FROM r3"


@register(
    "x25_pagerank",
    # Every step is truncating BIGINT division on non-negative values,
    # so the unrolled iteration is bit-identical across engines — the
    # centrality ranks themselves are oracle-EXACT, not approximate.
    oracle=_x25_oracle(),
)
def x25_pagerank(spark, sf_dir):
    """PageRank host centrality over a link graph — the CommonCrawl
    webgraph quality-prior signal (harmonic/PageRank centrality feeds
    curation the way p6 consumes domain reputation).  The corpus has no
    natural hyperlinks, so the edge list is doc_id-derived identically on
    both sides (the t10 injection pattern): hosts h0..h39 link out, dst
    hosts h0..h52 — so h40..h52 are dangling and exercise the
    redistribution term.  operators/graph.py::pagerank runs 3 Pregel-shaped
    rounds: edges+outdeg checkpointed once, each round shuffles only the
    (node, rank) frame; all fixed-point integer math."""
    from era_parser_spark.operators.graph import pagerank

    docs = table(spark, sf_dir, "documents")
    mk = lambda mult, add, mod: F.concat(  # noqa: E731
        F.lit("h"), ((F.col("doc_id") * mult + add) % mod).cast("string")
    )
    e1 = docs.select(mk(1, 0, 40).alias("src"), mk(7, 3, 53).alias("dst"))
    e2 = docs.select(mk(1, 0, 40).alias("src"), mk(13, 5, 53).alias("dst"))
    return pagerank(e1.unionByName(e2), iterations=3)


def _x26_oracle(iterations: int = 3) -> str:
    """Unrolled synchronous label propagation as DuckDB CTEs — the exact
    twin of operators/graph.py::label_propagation (mode of neighbor
    labels, ties to the lexicographically smallest; same x25 edge list,
    symmetrized + deduplicated)."""
    head = """
    WITH e AS (
      SELECT DISTINCT src, dst FROM (
        SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) AS src,
               'h' || CAST((doc_id * 7 + 3) % 53 AS VARCHAR) AS dst
        FROM documents
        UNION ALL
        SELECT 'h' || CAST(doc_id % 40 AS VARCHAR),
               'h' || CAST((doc_id * 13 + 5) % 53 AS VARCHAR)
        FROM documents
      ) WHERE src <> dst
    ),
    u AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM u)"""
    steps = []
    for i in range(1, iterations + 1):
        prev = f"l{i - 1}"
        steps.append(f"""
    c{i} AS (SELECT u.src AS v, {prev}.label, count(*) AS c
             FROM u JOIN {prev} ON u.dst = {prev}.node
             GROUP BY 1, 2),
    l{i} AS (SELECT v AS node, label FROM (
               SELECT v, label,
                      row_number() OVER (PARTITION BY v
                        ORDER BY c DESC, label) AS rn
               FROM c{i}) WHERE rn = 1)""")
    return (
        head + "," + ",".join(steps)
        + f"\n    SELECT node, label AS community FROM l{iterations}"
    )


@register(
    "x26_label_propagation",
    # Mode-of-neighbor-labels with lexicographic tie-break is pure
    # integer counting + ASCII string comparison — the unrolled rounds
    # are bit-identical across engines, so the communities themselves
    # are oracle-EXACT.
    oracle=_x26_oracle(3),
)
def x26_label_propagation(spark, sf_dir):
    """Label-propagation communities over the x25 link graph — the
    host-clustering signal that separates densely-linked template/mirror
    farms which connected components would merge with everything they
    touch (operators/graph.py::label_propagation has the Pregel plan
    notes: edges checkpointed once, each round shuffles (node, label)
    pairs only)."""
    from era_parser_spark.operators.graph import label_propagation

    docs = table(spark, sf_dir, "documents")
    mk = lambda mult, add, mod: F.concat(  # noqa: E731
        F.lit("h"), ((F.col("doc_id") * mult + add) % mod).cast("string")
    )
    e1 = docs.select(mk(1, 0, 40).alias("src"), mk(7, 3, 53).alias("dst"))
    e2 = docs.select(mk(1, 0, 40).alias("src"), mk(13, 5, 53).alias("dst"))
    return label_propagation(e1.unionByName(e2), iterations=3)


@register(
    "x27_kmv_intersection",
    # Theta overlap of two KMV sketches is a pure function of the value
    # sets (60-bit md5 k-mins, integer counts); each estimate is one
    # correctly-rounded IEEE division on exactly-representable doubles —
    # oracle-EXACT like x12.
    oracle="""
    WITH ha AS (
      SELECT DISTINCT CAST(concat('0x',
               substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      FROM events WHERE event_type = 'view' AND user_id IS NOT NULL
    ),
    hb AS (
      SELECT DISTINCT CAST(concat('0x',
               substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
    ),
    ka AS (SELECT h FROM ha ORDER BY h LIMIT 32),
    kb AS (SELECT h FROM hb ORDER BY h LIMIT 32),
    sa AS (SELECT count(*) AS m, max(h) AS kth FROM ka),
    sb AS (SELECT count(*) AS m, max(h) AS kth FROM kb),
    th AS (
      SELECT least(
        CASE WHEN sa.m < 32 THEN 1152921504606846976 ELSE sa.kth END,
        CASE WHEN sb.m < 32 THEN 1152921504606846976 ELSE sb.kth END
      ) AS theta FROM sa, sb
    ),
    co AS (SELECT count(*) AS c FROM ka JOIN kb USING (h), th
           WHERE h < th.theta),
    un AS (SELECT count(DISTINCT h) AS u
           FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb) x, th
           WHERE h < th.theta)
    SELECT CAST(co.c AS BIGINT) AS n_common,
           CAST(un.u AS BIGINT) AS union_size,
           CAST(th.theta AS BIGINT) AS theta,
           CAST(co.c AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
             / CAST(th.theta AS DOUBLE) AS est_intersection,
           CAST(un.u AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
             / CAST(th.theta AS DOUBLE) AS est_union,
           CASE WHEN un.u = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(co.c AS DOUBLE) / CAST(un.u AS DOUBLE)
           END AS jaccard_est
    FROM co, un, th
    """,
)
def x27_kmv_intersection(spark, sf_dir):
    """Theta-sketch audience overlap: estimated |A∩B| / |A∪B| / Jaccard
    of viewer vs purchaser user sets from two 32-min KMV sketches — two
    one-row sketches shuffle instead of the full user sets
    (operators/sketch.py::kmv_intersection)."""
    from era_parser_spark.operators.sketch import kmv_intersection

    ev = table(spark, sf_dir, "events")
    return kmv_intersection(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        "user_id",
        k=32,
        buckets=16,
    )


@register(
    "x28_cube",
    # CUBE = all 2^2 grouping sets; Spark plans it as one Expand + one
    # aggregate (each input row fans to 4 grouping combinations before the
    # map-side combine), identical totals to DuckDB's CUBE.
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
           {sql_dsum('o_totalprice')} AS total
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def x28_cube(spark, sf_dir):
    """Full CUBE totals — completes the grouping-sets family next to
    x3's ROLLUP: adds the priority-only marginals ROLLUP's hierarchy
    omits (the slice dashboards group by either dimension alone)."""
    return (
        table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("o_totalprice").alias("total"))
    )


@register(
    "x29_grid_interpolate",
    # Exactness: x17's micro-unit value quantization, epoch-µs integer
    # time, and a single truncating BIGINT division for the slope term —
    # DuckDB's // truncates toward zero exactly like Spark's div
    # (verified on negative deltas), so interpolated values are
    # bit-identical.  Grid/sample ordering ties put the sample first, and
    # a grid point ON a sample reduces to the exact sample value (the
    # slope term is 0).
    oracle="""
    WITH s AS (
      SELECT user_id, epoch_us(ts) AS us,
             min(CAST(floor(value * 1000000) AS BIGINT)) AS qv
      FROM events WHERE value IS NOT NULL
      GROUP BY user_id, epoch_us(ts)
    ),
    span AS (
      SELECT user_id,
             ((min(us) + 3599999999) // 3600000000) * 3600000000 AS g0,
             max(us) AS mx
      FROM s GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, CAST(g AS BIGINT) AS us, CAST(NULL AS BIGINT) AS qv,
             1 AS is_grid
      FROM span, unnest(range(g0, mx + 1, 3600000000)) AS u(g)
    ),
    merged AS (
      SELECT user_id, us, qv, 0 AS is_grid FROM s
      UNION ALL SELECT * FROM grid
    ),
    ctx AS (
      SELECT user_id, us, qv, is_grid,
             last_value(qv IGNORE NULLS) OVER wp AS pqv,
             last_value(CASE WHEN qv IS NOT NULL THEN us END IGNORE NULLS)
               OVER wp AS pus,
             first_value(qv IGNORE NULLS) OVER wf AS nqv,
             first_value(CASE WHEN qv IS NOT NULL THEN us END IGNORE NULLS)
               OVER wf AS nus
      FROM merged
      WINDOW wp AS (PARTITION BY user_id ORDER BY us, is_grid
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY user_id ORDER BY us, is_grid
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ),
    interp AS (
      SELECT user_id, us AS grid_us,
             CASE WHEN nus IS NULL THEN pqv
                  WHEN pus IS NULL THEN nqv
                  WHEN (nus - pus) // 1000000 = 0 THEN pqv
                  ELSE pqv + ((nqv - pqv) * ((us - pus) // 1000000))
                             // ((nus - pus) // 1000000)
             END AS v_micro
      FROM ctx WHERE is_grid = 1
    )
    SELECT user_id, grid_us, CAST(v_micro AS BIGINT) AS v_micro,
           CAST(v_micro AS BIGINT) / 1000000.0 AS v
    FROM interp
    """,
)
def x29_grid_interpolate(spark, sf_dir):
    """Regular-grid resampling with linear interpolation (TimescaleDB's
    `interpolate`, the locf/x17 twin): each user's irregular value series
    is sampled on an hourly grid inside its own time span, each grid
    point linearly interpolated between its bracketing samples (exact
    sample value when the grid lands on one; locf at the right edge).

    Plan shape (round-8 re-plan): every grid point's brackets are its
    generating sample-interval row — per sample, one ``lead(us)/lead(qv)``
    window pass attaches the next sample, and the hour-aligned grid
    points in ``[us, next_us)`` explode with both brackets already as
    columns (the last sample emits its own µs when hour-aligned: the
    locf right edge).  The previous plan unioned samples+grid and ran
    two unbounded-frame ignore-nulls window passes over the full ~2×
    exploded frame — the sort over that frame cost 14 s solo at sf0.1
    (round-7 verdict).  Here only the N sample rows ever sort.  ONE
    exchange total: an explicit ``repartition(user_id)`` BEFORE the
    (user, µs) collapse — HashPartitioning on a key subset satisfies
    the aggregate's ClusteredDistribution, so the collapse and the
    lead() window share it (plan-pinned, tests/test_round7_ops.py).
    Grid sequences are guarded ascending (sequence(1,0) DESCENDS).
    All-integer math (slope via one truncating division) =>
    oracle-exact, bit-identical to the round-7 formulation."""
    from pyspark.sql import Window as W

    hour = 3_600_000_000
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = (
        ev.select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            F.floor(F.col("value") * 1000000).cast("long").alias("qv"),
        )
        .repartition("user_id")
        .groupBy("user_id", "us")
        .agg(F.min("qv").alias("qv"))
    )
    w = W.partitionBy("user_id").orderBy("us")
    ann = s.select(
        "user_id",
        "us",
        "qv",
        F.lead("us").over(w).alias("nus"),
        F.lead("qv").over(w).alias("nqv"),
    )
    # hour-multiples owned by this interval: [ceil_hour(us), nus) for
    # interior samples, {us if aligned} for the last (locf edge); empty
    # array when the interval contains none (explode drops the row)
    first_g = f"((us + {hour - 1}) div {hour}) * {hour}"
    last_g = f"CASE WHEN nus IS NULL THEN us ELSE ((nus - 1) div {hour}) * {hour} END"
    gridded = ann.select(
        "user_id",
        "us",
        "qv",
        "nus",
        "nqv",
        F.explode(
            F.expr(
                f"CASE WHEN {first_g} <= {last_g}"
                f" THEN sequence({first_g}, {last_g}, {hour})"
                f" ELSE array() END"
            )
        ).alias("grid_us"),
    )
    v_micro = (
        F.when(F.col("nus").isNull(), F.col("qv"))
        .when(F.expr("(nus - us) div 1000000") == 0, F.col("qv"))
        .otherwise(
            F.expr(
                "qv + ((nqv - qv) * ((grid_us - us) div 1000000))"
                " div ((nus - us) div 1000000)"
            )
        )
    )
    return gridded.select(
        "user_id",
        "grid_us",
        v_micro.cast("long").alias("v_micro"),
        (v_micro.cast("long") / F.lit(1000000.0)).alias("v"),
    )


@register(
    "x30_window_funnel",
    # ClickHouse windowFunnel(6h)(ts, view, click, purchase): max chain
    # v < c < p with p_ts - v_ts <= 6h.  Greedy is optimal: for each
    # event the LATEST prior view (and the best chain-2 start over prior
    # clicks) minimizes window usage, so two running ROWS-window maxima
    # decide every level.  "Prior" = earlier in the (us, event_id) total
    # order — deterministic in both engines; all arithmetic is epoch-
    # microsecond BIGINT (never an NTZ cast).
    oracle="""
    WITH o AS (
      SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
             max(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
               OVER wp AS lastv
      FROM events
      WINDOW wp AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    o2 AS (
      SELECT *, max(CASE WHEN event_type = 'click' THEN lastv END)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS best2
      FROM o
    )
    SELECT user_id,
           CAST(max(CASE WHEN event_type = 'purchase' AND best2 IS NOT NULL
                              AND us - best2 <= 21600000000 THEN 3
                         WHEN event_type = 'click' AND lastv IS NOT NULL
                              AND us - lastv <= 21600000000 THEN 2
                         WHEN event_type = 'view' THEN 1
                         ELSE 0 END) AS INTEGER) AS funnel_level
    FROM o2 GROUP BY user_id
    """,
)
def x30_window_funnel(spark, sf_dir):
    """Sliding-window funnel (ClickHouse ``windowFunnel``): deepest
    view->click->purchase chain per user completing within 6 h of the
    chain's FIRST event — unlike x13's calendar-day scope, the window
    slides with the chain start.

    Plan: ONE (user_id) exchange + sort feeds both running maxima and
    the final aggregate (same-keyed windows share the partitioning);
    shuffle carries (user, type, two longs).  No self-join, no
    per-level pass: the greedy running-max DP is O(events) with k-1
    window columns for a k-step funnel.
    """
    from pyspark.sql import Window as W

    WIN = 21_600_000_000  # 6 h in µs
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    wp = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    o = ev.withColumn(
        "lastv",
        F.max(F.when(F.col("event_type") == "view", F.col("us"))).over(wp),
    )
    o2 = o.withColumn(
        "best2",
        F.max(F.when(F.col("event_type") == "click", F.col("lastv"))).over(wp),
    )
    lvl = (
        F.when(
            (F.col("event_type") == "purchase")
            & F.col("best2").isNotNull()
            & (F.col("us") - F.col("best2") <= WIN),
            F.lit(3),
        )
        .when(
            (F.col("event_type") == "click")
            & F.col("lastv").isNotNull()
            & (F.col("us") - F.col("lastv") <= WIN),
            F.lit(2),
        )
        .when(F.col("event_type") == "view", F.lit(1))
        .otherwise(F.lit(0))
    )
    return o2.groupBy("user_id").agg(
        F.max(lvl).cast("int").alias("funnel_level")
    )


@register(
    "x31_retention_cohorts",
    # ClickHouse `retention` / product-analytics cohort table: users
    # grouped by first-SIGNUP day, distinct-user counts per day offset.
    # Window-min formulation — no join with a first-seen dim; offsets
    # are DATE diffs (both engines return integer days).
    oracle="""
    WITH d AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             min(CASE WHEN event_type = 'signup' THEN CAST(ts AS DATE) END)
               OVER (PARTITION BY user_id) AS cohort_d
      FROM events
    )
    SELECT cohort_d, CAST(datediff('day', cohort_d, d) AS INTEGER) AS day_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM d
    WHERE cohort_d IS NOT NULL AND d >= cohort_d
    GROUP BY cohort_d, day_offset
    """,
)
def x31_retention_cohorts(spark, sf_dir):
    """Retention cohort table: cohort = each user's first ``signup``
    day; a cohort's ``day_offset`` row counts distinct users active
    (any event) that many days after signing up.  Pre-signup activity
    is excluded (classic signup->activity retention).

    Plan: cohort day via a partition-only window min (ONE user-keyed
    exchange, no first-seen dim join), then a map-side-combined
    count-distinct over (cohort, offset) — shuffle carries dates and
    longs only.  At 100 TB both exchanges are user-id/date-keyed longs;
    nothing is per-event after the window.
    """
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.to_date("ts").alias("d"),
    )
    c = ev.withColumn(
        "cohort_d",
        F.min(
            F.when(F.col("event_type") == "signup", F.col("d"))
        ).over(W.partitionBy("user_id")),
    )
    return (
        c.filter(F.col("cohort_d").isNotNull() & (F.col("d") >= F.col("cohort_d")))
        .withColumn("day_offset", F.datediff("d", "cohort_d"))
        .groupBy("cohort_d", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "x32_triangle_count",
    # Degree-orientation triangle enumeration re-derived in SQL: same
    # (degree, node) total-order orientation, wedge pairs ordered by
    # name with BOTH closure orientations checked — pure integer
    # counting, oracle-EXACT.
    oracle="""
    WITH raw AS (
      SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) AS src,
             'h' || CAST((doc_id * 7 + 3) % 53 AS VARCHAR) AS dst
      FROM documents
      UNION ALL
      SELECT 'h' || CAST(doc_id % 40 AS VARCHAR),
             'h' || CAST((doc_id * 13 + 5) % 53 AS VARCHAR)
      FROM documents
    ),
    und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
            FROM raw WHERE src <> dst),
    deg AS (SELECT node, count(*) AS deg FROM (
              SELECT u AS node FROM und UNION ALL SELECT v FROM und)
            GROUP BY node),
    o AS (SELECT CASE WHEN (d1.deg < d2.deg)
                        OR (d1.deg = d2.deg AND u < v) THEN u ELSE v END AS s,
                 CASE WHEN (d1.deg < d2.deg)
                        OR (d1.deg = d2.deg AND u < v) THEN v ELSE u END AS t
          FROM und JOIN deg d1 ON d1.node = u JOIN deg d2 ON d2.node = v),
    w AS (SELECT x.s AS a, x.t AS b, y.t AS c
          FROM o x JOIN o y ON x.s = y.s AND x.t < y.t),
    tri AS (SELECT a, b, c FROM w JOIN o
            ON (o.s = w.b AND o.t = w.c) OR (o.s = w.c AND o.t = w.b))
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (SELECT unnest([a, b, c]) AS node FROM tri) GROUP BY node
    """,
)
def x32_triangle_count(spark, sf_dir):
    """Per-node triangle counts over the x25/x26 host link graph — the
    clustering-coefficient signal that exposes densely-interlinked
    mirror/template farms (operators/graph.py::triangle_count has the
    degree-orientation scale argument: wedge join bounded by the
    O(sqrt(m)) oriented out-degree, hub-skew-proof)."""
    from era_parser_spark.operators.graph import triangle_count

    docs = table(spark, sf_dir, "documents")
    mk = lambda mult, add, mod: F.concat(  # noqa: E731
        F.lit("h"), ((F.col("doc_id") * mult + add) % mod).cast("string")
    )
    e1 = docs.select(mk(1, 0, 40).alias("src"), mk(7, 3, 53).alias("dst"))
    e2 = docs.select(mk(1, 0, 40).alias("src"), mk(13, 5, 53).alias("dst"))
    return triangle_count(e1.unionByName(e2))


@register(
    "x33_hll_distinct",
    # The whole register state re-derived in SQL: same 60-bit md5, same
    # low/high bit split, bitlen via binary-string length (no log2
    # doubles), harmonic sum in exact BIGINT via the 2^51 scaling; the
    # one libm op (ln in linear counting) is rounded to 2 decimals on
    # both sides (accepted last-ulp risk, documented in the operator).
    oracle="""
    WITH h AS (
      SELECT event_type,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM events WHERE user_id IS NOT NULL
    ),
    r AS (
      SELECT event_type, h % 1024 AS j,
             51 - length(ltrim(bin(h >> 10), '0')) AS rho
      FROM h
    ),
    reg AS (SELECT event_type, j, max(rho) AS r FROM r GROUP BY event_type, j),
    per AS (
      SELECT event_type,
             CAST(SUM(CAST(1 AS BIGINT) << CAST(51 - r AS INTEGER)) AS BIGINT)
               AS s_present,
             CAST(count(*) AS BIGINT) AS n_present_registers
      FROM reg GROUP BY event_type
    ),
    est AS (
      SELECT event_type, n_present_registers,
             1024 - n_present_registers AS n_zero_registers,
             CAST(1.7013287633207432e+21 AS DOUBLE)
               / CAST(s_present + (1024 - n_present_registers)
                      * (CAST(1 AS BIGINT) << 51) AS DOUBLE) AS est_raw
      FROM per
    )
    SELECT event_type, n_present_registers, n_zero_registers, est_raw,
           round(CASE WHEN est_raw <= 2560.0 AND n_zero_registers > 0
                      THEN CAST(1024 AS DOUBLE)
                           * ln(CAST(1024 AS DOUBLE)
                                / CAST(n_zero_registers AS DOUBLE))
                      ELSE est_raw END, 2) AS est_distinct
    FROM est
    """,
)
def x33_hll_distinct(spark, sf_dir):
    """Per-event-type distinct users via a from-scratch deterministic
    HyperLogLog (operators/sketch.py::hll_distinct) — the oracle-exact
    register-sketch twin of x8's opaque approx_count_distinct, closing
    the sketch tier: KMV (x12), count-min (x23), Bloom (x24), theta
    (x27), HLL (x33)."""
    from era_parser_spark.operators.sketch import hll_distinct

    ev = table(spark, sf_dir, "events")
    return hll_distinct(ev, "event_type", "user_id", p=10)


@register(
    "x34_hll_sliding",
    # x33's register CTE per DAY, register-wise MAX merged over the
    # trailing 3-day window (date + integer-day fanout identical in
    # both engines) — the sketch-algebra rollup, same exactness rules
    # as x33.
    oracle="""
    WITH h AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM events WHERE user_id IS NOT NULL
    ),
    r AS (SELECT day, h % 1024 AS j,
                 51 - length(ltrim(bin(h >> 10), '0')) AS rho FROM h),
    daily AS (SELECT day, j, max(rho) AS r FROM r GROUP BY day, j),
    fanned AS (SELECT day + CAST(k AS INTEGER) AS day_t, j, r
               FROM daily, unnest(range(0, 3)) AS u(k)),
    merged AS (SELECT day_t, j, max(r) AS r FROM fanned GROUP BY day_t, j),
    per AS (
      SELECT day_t,
             CAST(SUM(CAST(1 AS BIGINT) << CAST(51 - r AS INTEGER)) AS BIGINT)
               AS sp,
             CAST(count(*) AS BIGINT) AS np
      FROM merged GROUP BY day_t
    ),
    est AS (
      SELECT day_t, np, 1024 - np AS nz,
             CAST(1.7013287633207432e+21 AS DOUBLE)
               / CAST(sp + (1024 - np) * (CAST(1 AS BIGINT) << 51) AS DOUBLE)
               AS est_raw
      FROM per
    )
    SELECT day_t AS day, np AS n_present_registers, nz AS n_zero_registers,
           est_raw,
           round(CASE WHEN est_raw <= 2560.0 AND nz > 0
                      THEN CAST(1024 AS DOUBLE)
                           * ln(CAST(1024 AS DOUBLE) / CAST(nz AS DOUBLE))
                      ELSE est_raw END, 2) AS est_distinct
    FROM est
    """,
)
def x34_hll_sliding(spark, sf_dir):
    """Trailing-3-day distinct users per day from MAX-merged daily HLL
    sketches (operators/sketch.py::hll_sliding_distinct) — raw events
    shuffle once at daily-sketch build; every window reuses the
    registers."""
    from era_parser_spark.operators.sketch import hll_sliding_distinct

    ev = table(spark, sf_dir, "events")
    return hll_sliding_distinct(ev, F.to_date("ts"), "user_id", p=10, window_days=3)


@register(
    "x35_sequence_match",
    # ClickHouse sequenceMatch('(?1).*(?2).*(?3)') with the chain's
    # first-match timestamps: t1 = first view, t2 = first click AFTER t1,
    # t3 = first purchase AFTER t2 — the earliest-chain rule, exact by
    # chained conditional minima (x30's cousin with NO time window: any
    # horizon matches, and the output is the chain itself, not a level).
    oracle="""
    WITH t1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    t2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN t1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1
    ),
    t3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN t2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1
    )
    SELECT u.user_id, t1.t1, t2.t2, t3.t3,
           t3.t3 IS NOT NULL AS matched
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN t1 USING (user_id)
    LEFT JOIN t2 USING (user_id)
    LEFT JOIN t3 USING (user_id)
    """,
)
def x35_sequence_match(spark, sf_dir):
    """sequenceMatch over view -> click -> purchase: three chained
    conditional window-minima over ONE user_id exchange (each stage's
    threshold is the previous stage's window column — the subset rule
    keeps every window and the final per-user collapse on the same
    partitioning), where the SQL twin spells the same chain as three
    self-joins.  No join operator and no second scan engine-side."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id")
    df = (
        ev.withColumn(
            "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    return df.groupBy("user_id").agg(
        F.max("t1").alias("t1"),
        F.max("t2").alias("t2"),
        F.max("t3").alias("t3"),
        F.max(F.col("t3").isNotNull()).alias("matched"),
    )


@register(
    "x36_sequence_count",
    # ClickHouse sequenceCount('(?1).*(?2).*(?3)'): NON-OVERLAPPING chain
    # counting (complete a chain, restart after it) — a genuinely stateful
    # scan made exact by reduction to leftmost-shortest regex matching:
    # the per-user event stream collapses to an ordered initial-letter
    # string and lazy 'v.*?c.*?p' global matching IS the greedy
    # restart-after-match rule, identical in Java (engine) and RE2 (twin).
    oracle="""
    WITH s AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
      FROM events GROUP BY 1
    )
    SELECT user_id,
           CAST(len(regexp_extract_all(seq, 'v.*?c.*?p')) AS INTEGER)
             AS n_chains
    FROM s
    """,
)
def x36_sequence_count(spark, sf_dir):
    """sequenceCount for view -> click -> purchase: one user_id exchange
    building the ordered event string (shuffle carries one char per
    event), then a codegen regexp_count — the chain-counting state
    machine with zero iterative logic."""
    ev = table(spark, sf_dir, "events")
    seq = (
        ev.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "ts", "event_id",
                                F.substring("event_type", 1, 1).alias("ch"),
                            )
                        )
                    ),
                    lambda x: x.getField("ch"),
                ),
                "",
            ).alias("seq")
        )
    )
    return seq.select(
        "user_id",
        F.regexp_count(F.col("seq"), F.lit(r"v.*?c.*?p")).cast("int").alias("n_chains"),
    )


@register(
    "x37_sequence_count_strict",
    # ClickHouse sequenceCount strict_order mode: a chain only counts if
    # NO other tracked funnel event intervenes between its stages —
    # x36's reduction with '[^vcp]*' gaps instead of lazy '.*?' (untracked
    # events still pass).  A failed start retries from the next position
    # (vvcp counts 1 via the second v), identically in Java and RE2.
    oracle="""
    WITH s AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
      FROM events GROUP BY 1
    )
    SELECT user_id,
           CAST(len(regexp_extract_all(seq, 'v[^vcp]*c[^vcp]*p')) AS INTEGER)
             AS n_chains
    FROM s
    """,
)
def x37_sequence_count_strict(spark, sf_dir):
    """sequenceCount(strict_order) for view -> click -> purchase: same
    one-exchange letter-string plan as x36, with the chain broken by any
    intervening tracked event (the '[^vcp]*' gap classes)."""
    ev = table(spark, sf_dir, "events")
    seq = (
        ev.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "ts", "event_id",
                                F.substring("event_type", 1, 1).alias("ch"),
                            )
                        )
                    ),
                    lambda x: x.getField("ch"),
                ),
                "",
            ).alias("seq")
        )
    )
    return seq.select(
        "user_id",
        F.regexp_count(F.col("seq"), F.lit(r"v[^vcp]*c[^vcp]*p"))
        .cast("int")
        .alias("n_chains"),
    )


@register(
    "x38_peak_concurrency",
    # ClickHouse maxIntersections: peak number of simultaneously-open
    # intervals.  Sessions = per-(user, day) [min ts, max ts] inclusive;
    # the sweep is +1 at start / -1 at end+1µs, deltas SUMMED PER
    # TIMESTAMP before the running sum so tie order can never matter, all
    # integer µs.  Sessions never cross their day by construction, so the
    # running sum partitions by day — fully distributed, no global
    # window.  peak_at = earliest µs attaining the peak (deterministic).
    oracle="""
    WITH s AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             min(epoch_us(ts)) AS s_us, max(epoch_us(ts)) AS e_us
      FROM events GROUP BY 1, 2
    ),
    d AS (
      SELECT day, us, SUM(delta) AS delta FROM (
        SELECT day, s_us AS us, 1 AS delta FROM s
        UNION ALL SELECT day, e_us + 1, -1 FROM s
      ) GROUP BY day, us
    ),
    r AS (
      SELECT day, us,
             SUM(delta) OVER (PARTITION BY day ORDER BY us
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS conc
      FROM d
    )
    SELECT day, CAST(max(conc) AS BIGINT) AS peak,
           CAST(min(us) FILTER (WHERE conc = (SELECT max(conc) FROM r r2
                                              WHERE r2.day = r.day))
                AS BIGINT) AS peak_at
    FROM r GROUP BY day
    """,
)
def x38_peak_concurrency(spark, sf_dir):
    """Peak concurrent user sessions per day (ClickHouse
    ``maxIntersections``): the classic interval sweep — +1/-1 deltas,
    per-timestamp pre-aggregation (tie order can never matter), one
    day-partitioned running sum.  Day-bounded sessions keep the sweep
    embarrassingly partition-parallel; all integer µs => oracle-exact."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("__t"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    s = ev.groupBy(
        "user_id", F.date_trunc("day", "__t").cast("date").alias("day")
    ).agg(F.min("us").alias("s_us"), F.max("us").alias("e_us"))
    deltas = (
        s.select("day", F.col("s_us").alias("us"), F.lit(1).alias("delta"))
        .unionByName(
            s.select("day", (F.col("e_us") + 1).alias("us"), F.lit(-1).alias("delta"))
        )
        .groupBy("day", "us")
        .agg(F.sum("delta").alias("delta"))
    )
    w = W.partitionBy("day").orderBy("us").rowsBetween(W.unboundedPreceding, 0)
    r = deltas.select("day", "us", F.sum("delta").over(w).alias("conc"))
    wd = W.partitionBy("day")
    return (
        r.withColumn("__mx", F.max("conc").over(wd))
        .filter(F.col("conc") == F.col("__mx"))
        .groupBy("day")
        .agg(
            F.max("conc").cast("long").alias("peak"),
            F.min("us").cast("long").alias("peak_at"),
        )
    )


def _x39_oracle(k: int, rounds: int) -> str:
    """Unrolled synchronous peel waves (the x25/x26 fixed-rounds oracle
    convention): each wave keeps edges whose BOTH endpoints hold degree
    >= k in the previous wave's frame.  Waves past the fixpoint are
    no-ops, so `rounds` only needs to cover the graph's peel depth —
    pinned at sf0.01 in tests/test_round9_ops.py (depth 3 at k=21)."""
    parts = ["""
    WITH rawkc AS (
      SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) AS src,
             'h' || CAST((doc_id * 7 + 3) % 53 AS VARCHAR) AS dst
      FROM documents
      UNION ALL
      SELECT 'h' || CAST(doc_id % 40 AS VARCHAR),
             'h' || CAST((doc_id * 13 + 5) % 53 AS VARCHAR)
      FROM documents
    ),
    undkc AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
              FROM rawkc WHERE src <> dst),
    rem0 AS MATERIALIZED (
      SELECT u AS src, v AS dst FROM undkc
      UNION ALL
      SELECT v, u FROM undkc
    )"""]
    for r in range(rounds):
        parts.append(f""",
    alive{r} AS MATERIALIZED (
      SELECT src FROM rem{r} GROUP BY src HAVING count(*) >= {k}
    ),
    rem{r + 1} AS MATERIALIZED (
      SELECT e.src, e.dst FROM rem{r} e
      JOIN alive{r} a ON a.src = e.src
      JOIN alive{r} b ON b.src = e.dst
    )""")
    parts.append(f"""
    SELECT src AS node, CAST(count(*) AS BIGINT) AS core_degree
    FROM rem{rounds} GROUP BY src
    """)
    return "".join(parts)


@register("x39_kcore", oracle=_x39_oracle(21, 6))
def x39_kcore(spark, sf_dir):
    """21-core of the x25/x26/x32 host link graph (Seidman 1983;
    distributed peel per Montresor et al. 2011): the global-periphery
    cut that completes the graph-signal tier — PageRank scores flow,
    LPA splits communities, triangles score local density, k-core keeps
    only the densely-embedded region (doorway pages and link tails peel
    away).  Synchronous waves are order-independent, so the result is
    structurally deterministic; the sf0.01 graph peels in 3 waves
    (rounds=6 is pinned >= the fixpoint depth in pytest)."""
    from era_parser_spark.operators.graph import kcore

    docs = table(spark, sf_dir, "documents")
    mk = lambda mult, add, mod: F.concat(  # noqa: E731
        F.lit("h"), ((F.col("doc_id") * mult + add) % mod).cast("string")
    )
    e1 = docs.select(mk(1, 0, 40).alias("src"), mk(7, 3, 53).alias("dst"))
    e2 = docs.select(mk(1, 0, 40).alias("src"), mk(13, 5, 53).alias("dst"))
    return kcore(e1.unionByName(e2), k=21, rounds=6)


@register(
    "x40_mad_outliers",
    # Exact robust outlier detection: medians are ENGINE-EXACT order
    # statistics under the (value, id) total order (the x14 tiebreak
    # trick — lower median at position (n+1) div 2), values quantized to
    # integer micro-units first (x17 pattern: one correctly-rounded IEEE
    # multiply + floor, identical both engines), so median, MAD and the
    # 3*MAD flag are pure integer comparisons — no percentile_approx,
    # no float tolerance.  d is referenced by two consumers -> AS
    # MATERIALIZED (DuckDB inlines plain CTEs).
    oracle="""
    WITH e AS (
      SELECT event_id, event_type,
             CAST(floor(value * CAST(1000000 AS DOUBLE)) AS BIGINT) AS v_us
      FROM events WHERE value IS NOT NULL
    ),
    r1 AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY v_us, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM e
    ),
    med AS (SELECT event_type, v_us AS med FROM r1 WHERE rn = (n + 1) // 2),
    d AS MATERIALIZED (
      SELECT e.event_id, e.event_type, e.v_us, m.med,
             abs(e.v_us - m.med) AS dev
      FROM e JOIN med m USING (event_type)
    ),
    r2 AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY dev, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM d
    ),
    mad AS (SELECT event_type, dev AS mad FROM r2 WHERE rn = (n + 1) // 2)
    SELECT d.event_id, d.event_type, d.v_us, d.med, d.dev, m2.mad
    FROM d JOIN mad m2 USING (event_type)
    WHERE d.dev > 3 * m2.mad
    """,
)
def x40_mad_outliers(spark, sf_dir):
    """Robust per-type anomaly detection — median + MAD (median absolute
    deviation), the heavy-tail-safe alternative to e16's mean/stddev
    z-scores (one fat outlier inflates a stddev fence; it cannot move a
    median).  Flags events with |v - median| > 3 * MAD.

    Exactness: micro-unit integer quantization, then BOTH medians are
    order statistics under a (value, event_id) total order — bit-equal
    across engines, unlike any percentile_approx path.  Plan: the
    quantized projection is scanned per stage (median rank / deviation /
    MAD rank — each a pruned 3-column scan; production would stage it
    once to parquet, the p20 trade), the two ranking windows shuffle on
    event_type only, and the tiny per-type median/MAD frames ride back
    as broadcasts — corpus rows never hash-exchange twice.  MAD = 0
    (over half the type identical) flags every deviating row — the
    documented degenerate case.  st15 serves the same fence
    (mad_quantized/mad_medians — one definition, no drift) on a stream."""
    ev = table(spark, sf_dir, "events")
    e = mad_quantized(ev)
    med, mad = mad_medians(e)
    d = e.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("v_us") - F.col("med"))
    )
    return (
        d.join(F.broadcast(mad), "event_type")
        .filter(F.col("dev") > 3 * F.col("mad"))
        .select("event_id", "event_type", "v_us", "med", "dev", "mad")
    )


def mad_quantized(ev, keep_cols=()):
    """The x40/st15 shared quantized projection: micro-unit integer
    values (one correctly-rounded IEEE multiply + floor — identical in
    Spark and DuckDB), null values dropped."""
    return ev.filter(F.col("value").isNotNull()).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias("v_us"),
        *keep_cols,
    )


def mad_medians(e):
    """Per-type (med) and (mad) frames — both medians exact order
    statistics under the (value, event_id) total order (lower median at
    (n + 1) div 2, the x14 tiebreak).  Tiny frames (one row per type);
    callers broadcast them back (x40) or collect them as the trained
    fence artifact (st15, the st13 batch-train/stream-serve pattern)."""
    from pyspark.sql import Window as W

    w1 = W.partitionBy("event_type").orderBy("v_us", "event_id")
    wc = W.partitionBy("event_type")
    r1 = (
        e.select("event_id", "event_type", "v_us")
        .withColumn("rn", F.row_number().over(w1))
        .withColumn("n", F.count(F.lit(1)).over(wc))
    )
    med = r1.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "event_type", F.col("v_us").alias("med")
    )
    d = (
        e.select("event_id", "event_type", "v_us")
        .join(F.broadcast(med), "event_type")
        .withColumn("dev", F.abs(F.col("v_us") - F.col("med")))
    )
    w2 = W.partitionBy("event_type").orderBy("dev", "event_id")
    r2 = (
        d.withColumn("rn", F.row_number().over(w2))
        .withColumn("n", F.count(F.lit(1)).over(wc))
    )
    mad = r2.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "event_type", F.col("dev").alias("mad")
    )
    return med, mad


@register(
    "x41_state_durations",
    # Exact state-duration accounting: each event holds its state until
    # the user's next event (the x17 locf convention); held time in
    # integer epoch-microseconds, (ts, event_id) total order so
    # simultaneous events attribute deterministically; a user's last
    # event is open-ended and excluded (documented).
    oracle="""
    WITH o AS (
      SELECT user_id, event_type, epoch_us(ts) AS us,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id) AS nxt
      FROM events WHERE ts IS NOT NULL
    )
    SELECT event_type AS state,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(nxt - us) AS BIGINT) AS total_us
    FROM o WHERE nxt IS NOT NULL GROUP BY 1
    """,
)
def x41_state_durations(spark, sf_dir):
    """TimescaleDB `state_agg` shape: total time each state (event_type)
    was held, where a user's event holds its state until that user's
    next event — the session-time-in-state accounting behind "how long
    do users spend in checkout".  All integer µs (epoch_us == Spark
    unix_micros, the x17/x30 convention), lead under the (ts, event_id)
    total order, open final intervals excluded; one user_id window
    exchange then a tiny per-state aggregate."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    # NULL timestamps are excluded on BOTH sides: Spark's window default
    # is ASC NULLS FIRST, DuckDB's is NULLS LAST — an unfiltered NULL ts
    # would silently reorder the lead chain between engine and oracle
    # (and a NULL-held interval has no duration anyway).
    o = ev.filter(F.col("ts").isNotNull()).select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    ).withColumn(
        "nxt",
        F.lead("us").over(W.partitionBy("user_id").orderBy("us", "event_id")),
    )
    return (
        o.filter(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("state"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_intervals"),
            F.sum(F.col("nxt") - F.col("us")).cast("long").alias("total_us"),
        )
    )


def _x42_oracle(rounds: int) -> str:
    """Depth-bounded multi-source BFS as a recursive CTE: paths extend
    while dist < rounds, UNION dedup keeps (landmark, node, dist) rows
    finite on cycles, min(dist) per (landmark, node) IS the BFS distance
    for every node within `rounds` hops (a shortest path is itself a
    bounded path) — exactly the engine's fixed-wave frontier semantics.
    Graph: circulant host graph on Z_97 with steps +1/+7 (sparser than
    the x25/x39 graph so distances are non-trivial; eccentricity from
    the landmarks is 9 at full residue coverage — rounds=12 is pinned >=
    the fixpoint depth in tests/test_round10_ops.py)."""
    return f"""
    WITH RECURSIVE rawbf AS (
      SELECT 'h' || CAST(doc_id % 97 AS VARCHAR) AS src,
             'h' || CAST((doc_id + 1) % 97 AS VARCHAR) AS dst
      FROM documents
      UNION ALL
      SELECT 'h' || CAST(doc_id % 97 AS VARCHAR),
             'h' || CAST((doc_id + 7) % 97 AS VARCHAR)
      FROM documents
    ),
    undbf AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
              FROM rawbf WHERE src <> dst),
    adjbf AS MATERIALIZED (
      SELECT u AS src, v AS dst FROM undbf
      UNION ALL
      SELECT v, u FROM undbf
    ),
    lmbf AS (
      SELECT DISTINCT src AS landmark FROM adjbf
      WHERE src IN ('h0', 'h1', 'h2')
    ),
    recbf AS (
      SELECT landmark, landmark AS node, 0 AS dist FROM lmbf
      UNION
      SELECT r.landmark, a.dst, r.dist + 1
      FROM recbf r JOIN adjbf a ON a.src = r.node
      WHERE r.dist < {rounds}
    )
    SELECT landmark, node, CAST(min(dist) AS BIGINT) AS dist
    FROM recbf GROUP BY 1, 2
    """


@register("x42_bfs_distances", oracle=_x42_oracle(12))
def x42_bfs_distances(spark, sf_dir):
    """Multi-source BFS landmark distances over a circulant host graph
    (steps +1/+7 on Z_97 — sparse enough that shortest paths take up to
    9 hops, unlike the dense x39 graph): exact hop distance from each of
    three landmark hosts to every reachable node.  Completes the graph
    tier's signal set (x25 flow, x26 communities, x32 density, x39
    periphery) with PROXIMITY — the distance-to-seed-host feature behind
    crawl-frontier quality priors.  Frontier waves shuffle (landmark,
    node, dist) rows only; rounds=12 is pinned >= the true fixpoint
    depth (9) in pytest, so the bounded run IS the exact BFS."""
    from era_parser_spark.operators.graph import bfs_distances

    docs = table(spark, sf_dir, "documents")
    mk = lambda add, mod: F.concat(  # noqa: E731
        F.lit("h"), ((F.col("doc_id") + add) % mod).cast("string")
    )
    e1 = docs.select(mk(0, 97).alias("src"), mk(1, 97).alias("dst"))
    e2 = docs.select(mk(0, 97).alias("src"), mk(7, 97).alias("dst"))
    return bfs_distances(
        e1.unionByName(e2), ["h0", "h1", "h2"], rounds=12
    )


@register(
    "x43_gapfill_locf",
    # Exactness: each grid point's held value IS its owning sample
    # interval's quantized value — no arithmetic beyond x17's micro-unit
    # quantization and integer hour alignment, so the fill is trivially
    # bit-identical.  Grid definition shared with x29: hour multiples in
    # [ceil_hour(first sample), last sample] per user; the last sample
    # emits its own hour-aligned points (the locf right edge).
    oracle="""
    WITH s43 AS (
      SELECT user_id, epoch_us(ts) AS us,
             min(CAST(floor(value * 1000000) AS BIGINT)) AS qv
      FROM events WHERE value IS NOT NULL
      GROUP BY user_id, epoch_us(ts)
    ),
    ann43 AS (
      SELECT user_id, us, qv,
             lead(us) OVER (PARTITION BY user_id ORDER BY us) AS nus
      FROM s43
    )
    SELECT user_id, CAST(g AS BIGINT) AS grid_us,
           CAST(qv AS BIGINT) AS v_micro,
           CAST(qv AS BIGINT) / 1000000.0 AS v
    FROM ann43,
         unnest(range(((us + 3599999999) // 3600000000) * 3600000000,
                      CASE WHEN nus IS NULL THEN us + 1 ELSE nus END,
                      3600000000)) AS u(g)
    """,
)
def x43_gapfill_locf(spark, sf_dir):
    """Regular-grid gap-fill with last-observation-carried-forward
    (TimescaleDB's `locf` under `time_bucket_gapfill` — x29's simpler
    sibling: the held value is the bracketing PREVIOUS sample's, no
    interpolation).  Same one-exchange plan as x29: an explicit
    repartition(user_id) shared by the (user, µs) collapse and the
    lead() window, each sample row exploding exactly the hour-aligned
    grid points its interval owns — only sample rows ever sort, grid
    points are emitted with their held value already attached (no
    joins, no second pass).  All integer µs; the fill copies the
    quantized value verbatim, so the entry is trivially oracle-exact."""
    from pyspark.sql import Window as W

    hour = 3_600_000_000
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = (
        ev.select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            F.floor(F.col("value") * 1000000).cast("long").alias("qv"),
        )
        .repartition("user_id")
        .groupBy("user_id", "us")
        .agg(F.min("qv").alias("qv"))
    )
    w = W.partitionBy("user_id").orderBy("us")
    ann = s.select(
        "user_id", "us", "qv", F.lead("us").over(w).alias("nus")
    )
    first_g = f"((us + {hour - 1}) div {hour}) * {hour}"
    last_g = f"CASE WHEN nus IS NULL THEN (us div {hour}) * {hour} ELSE ((nus - 1) div {hour}) * {hour} END"
    return ann.select(
        "user_id",
        F.explode(
            F.expr(
                f"CASE WHEN {first_g} <= {last_g}"
                f" THEN sequence({first_g}, {last_g}, {hour})"
                f" ELSE array() END"
            )
        ).alias("grid_us"),
        F.col("qv").cast("long").alias("v_micro"),
        (F.col("qv").cast("long") / F.lit(1000000.0)).alias("v"),
    )
