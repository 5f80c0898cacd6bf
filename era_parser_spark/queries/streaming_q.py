"""Structured Streaming parity query: a windowed streaming aggregation run
to completion with Trigger.AvailableNow must equal the equivalent batch SQL
— exactly-once semantics made oracle-checkable.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import functions as F

from era_parser_spark.queries.registry import read_source, register, table


def _stream_src_dir(prefix: str, sf_dir: str, table_file: str = "events.parquet") -> str:
    """Stable per-sf_dir /tmp dir exposing one table file to the streaming
    file source.  Stable digest, not hash(): Python string hashing is
    per-process randomized, so hash() would mint a fresh dir every run."""
    import hashlib

    d = os.path.join(
        tempfile.gettempdir(),
        f"{prefix}_src_{hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]}",
    )
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, table_file)
    # lexists, not exists: exists() follows the symlink, so a dangling
    # link in this now-stable dir would look absent and os.symlink would
    # raise FileExistsError
    if os.path.lexists(link):
        os.remove(link)
    os.symlink(os.path.abspath(f"{sf_dir}/{table_file}"), link)
    return d


def _stream(spark, sf_dir: str, name: str, prefix: str):
    """Streaming read of benchmark table `name`, with read_source's µs
    timestamps.  The file source wants an explicit schema (the batch
    read's) and a directory, here one exposing the single table file (a
    real deployment streams a growing table dir)."""
    table_file = f"{name}.parquet"

    def read():
        schema = spark.read.parquet(f"{sf_dir}/{table_file}").schema
        return spark.readStream.schema(schema).parquet(_stream_src_dir(prefix, sf_dir, table_file))

    return read_source(spark, name, read)


@register(
    "st1_stream_windowed_counts",
    oracle="""
    SELECT TIMESTAMP '1970-01-01 00:00:00'
             + to_seconds(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT))
             AS window_start,
           event_type, count(*) AS cnt
    FROM events GROUP BY 1, 2
    """,
)
def st1_stream_windowed_counts(spark, sf_dir):
    """Tumbling 1-hour windowed counts computed via readStream +
    Trigger.AvailableNow (real micro-batched streaming execution), returned
    as the final in-memory table.  Spark's window() is epoch-aligned, so
    the oracle is a plain floor-to-hour GROUP BY."""
    from era_parser_spark.streaming.incremental import run_stream_once

    agg = (
        _stream(spark, sf_dir, "events", "st1")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "cnt",
        )
    )
    return run_stream_once(agg, f"st1_out_{uuid.uuid4().hex[:8]}", "complete")


@register(
    "st2_stateful_gap_monitor",
    oracle="""
    WITH s AS (
      SELECT event_type, event_id,
             lag(event_id) OVER (PARTITION BY event_type ORDER BY event_id)
               AS prev
      FROM events
    )
    SELECT event_type AS network,
           prev + 1 AS gap_start,
           event_id - 1 AS gap_end,
           event_id - prev - 1 AS missing
    FROM s
    WHERE prev IS NOT NULL AND event_id > prev + 1
    """,
)
def st2_stateful_gap_monitor(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState) driven to
    completion: per-key last-seen state emits the id gaps between arrivals.
    Over a single AvailableNow batch the emitted gaps equal the batch lag
    query, so the exactly-once state path gets an exact SQL oracle (the
    streaming twin of e10, reference gap-detection family)."""
    from era_parser_spark.streaming.incremental import run_stream_once, slot_gap_monitor

    stream = _stream(spark, sf_dir, "events", "st2").select(
        F.col("event_type").alias("network"),
        F.col("event_id").alias("slot"),
    )
    return run_stream_once(slot_gap_monitor(stream), f"st2_{uuid.uuid4().hex[:8]}")


@register(
    "st3_stream_sessionize",
    # The open-session snapshot at trigger end makes one AvailableNow batch
    # equal the batch sessionization exactly - same derivation as x2's
    # oracle, aggregated per (user, session).
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM marked
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           count(*) AS n_events,
           CAST(epoch_us(min(ts)) AS BIGINT) AS start_us,
           CAST(epoch_us(max(ts)) AS BIGINT) AS end_us
    FROM sessions GROUP BY user_id, session_seq
    """,
)
def st3_stream_sessionize(spark, sf_dir):
    """Stateful streaming sessionization driven to completion: per-user
    open-session state via applyInPandasWithState; one AvailableNow batch
    equals the batch window derivation, so the exactly-once state path gets
    an exact SQL oracle (the streaming twin of x2_sessionize)."""
    from era_parser_spark.streaming.incremental import run_stream_once, session_monitor

    stream = _stream(spark, sf_dir, "events", "st3").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    return run_stream_once(session_monitor(stream), f"st3_{uuid.uuid4().hex[:8]}")


@register(
    "st4_stream_exact_dedup",
    # Over one AvailableNow batch the snapshot-emit equals the batch
    # digest-groupBy exactly; md5 is lowercase hex in both engines.
    oracle="""
    SELECT md5(text) AS digest, min(doc_id) AS doc_id,
           count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def st4_stream_exact_dedup(spark, sf_dir):
    """Stateful streaming exact dedup driven to completion: per-digest
    state keeps the first-seen min id and folds every later duplicate —
    across micro-batches — into its copy count (the streaming twin of
    dd1_exact_dedup; cross-batch continuity pinned in
    tests/test_state_sinks_streaming.py)."""
    from era_parser_spark.streaming.incremental import digest_dedup_monitor, run_stream_once

    stream = _stream(spark, sf_dir, "documents", "st4").select(
        F.md5(F.col("text").cast("binary")).alias("digest"),
        "doc_id",
    )
    return run_stream_once(digest_dedup_monitor(stream), f"st4_{uuid.uuid4().hex[:8]}")


@register(
    "st5_stream_kmv_distinct",
    # Same oracle as x12: over one AvailableNow batch the KMV state
    # snapshot equals the batch sketch (merge = union-then-truncate).
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
def st5_stream_kmv_distinct(spark, sf_dir):
    """Streaming KMV distinct sketch driven to completion: per-group state
    carries the k smallest distinct hashes across micro-batches (merge is
    union-then-truncate, so batch boundaries can't change the answer);
    the snapshot after one AvailableNow pass equals the x12 batch sketch
    exactly — a sketch whose STREAMING state is oracle-checkable."""
    from era_parser_spark.operators.dedup import md5_60bit
    from era_parser_spark.streaming.incremental import kmv_monitor, run_stream_once

    stream = _stream(spark, sf_dir, "events", "st5").select(
        F.col("event_type").alias("grp"),
        md5_60bit(F.col("user_id").cast("string")).alias("h"),
    )
    out = run_stream_once(kmv_monitor(stream, k=32), f"st5_{uuid.uuid4().hex[:8]}")
    return out.select(
        F.col("grp").alias("event_type"), "n_tracked", "kth_min", "est_distinct"
    )


@register(
    "st6_stream_topk",
    # Over one AvailableNow batch the state snapshot equals the batch
    # row_number window exactly; the DECIMAL(10,6) score representation
    # keeps ordering identical across engines.
    oracle="""
    WITH s AS (
      SELECT CAST(label % 4 AS BIGINT) AS grp, vec_id,
             CAST(CAST(list_cosine_similarity(
               embedding::DOUBLE[],
               (SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]
             ) AS DECIMAL(10,6)) AS DOUBLE) AS cosine_sim
      FROM embeddings
    )
    SELECT grp, CAST(rn AS INTEGER) AS rank, vec_id, cosine_sim FROM (
      SELECT grp, vec_id, cosine_sim,
             row_number() OVER (PARTITION BY grp ORDER BY cosine_sim DESC, vec_id) AS rn
      FROM s
    ) WHERE rn <= 5
    """,
)
def st6_stream_topk(spark, sf_dir):
    """Streaming per-group exact top-k driven to completion: state carries
    the k best (score, id) pairs across micro-batches — the streaming twin
    of s7's incremental maintenance, with the same exactness argument
    (merge-sort-truncate is order-free over distinct arrivals)."""
    from era_parser_spark.operators.similarity import (
        cosine_expr,
        lit_vector,
        quantized_cosine,
    )
    from era_parser_spark.queries.similarity import _query_vec
    from era_parser_spark.streaming.incremental import run_stream_once, topk_monitor

    q = lit_vector(_query_vec(spark, sf_dir, 0))
    stream = _stream(spark, sf_dir, "embeddings", "st6").select(
        (F.col("label") % 4).cast("long").alias("grp"),
        "vec_id",
        quantized_cosine(cosine_expr(F.col("embedding").cast("array<double>"), q)).alias("score"),
    )
    out = run_stream_once(topk_monitor(stream, k=5), f"st6_{uuid.uuid4().hex[:8]}")
    # final snapshot = each group's last state update (a window, not a
    # self-join: joining the memory-sink table against its own aggregate
    # trips an internal error in Spark 4)
    from pyspark.sql import Window as W

    mx = F.max("seq").over(W.partitionBy("grp"))
    return (
        out.withColumn("__mx", mx)
        .filter(F.col("seq") == F.col("__mx"))
        .select("grp", "rank", "vec_id", "cosine_sim")
    )


@register(
    "st7_stream_countmin",
    # Same oracle as x23: sketch cells are a commutative, associative
    # count — Spark's native streaming aggregation maintains them exactly
    # across micro-batches (no custom state op needed; this is the sketch
    # the engine would keep on a live ingest), so the complete-mode
    # snapshot after one AvailableNow pass equals the batch sketch.
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
def st7_stream_countmin(spark, sf_dir):
    """Streaming count-min sketch: the x23 frequency summary maintained by
    a NATIVE streaming aggregation (readStream -> explode cells ->
    groupBy count, complete mode) — cell counts merge across micro-batches
    by Spark's own agg state, the Spark-first shape for a mergeable
    sketch on live data."""
    from era_parser_spark.operators.sketch import countmin_cells_expr
    from era_parser_spark.streaming.incremental import run_stream_once

    stream = (
        _stream(spark, sf_dir, "events", "st7")
        .filter(F.col("user_id").isNotNull())
        .select(F.explode(countmin_cells_expr("user_id", 4, 64)).alias("c"))
        .groupBy(F.col("c.row").alias("row"), F.col("c.col").alias("col"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return run_stream_once(stream, f"st7_{uuid.uuid4().hex[:8]}", output_mode="complete")


@register(
    "st8_stream_stream_join",
    # One AvailableNow batch delivers both sides before any watermark can
    # expire state, so the append-mode streaming join equals the batch
    # interval join exactly; µs interval arithmetic is engine-identical.
    oracle="""
    SELECT a.event_id AS view_id, b.event_id AS purchase_id,
           a.user_id AS user_id,
           epoch_us(b.ts) - epoch_us(a.ts) AS lag_us,
           b.value AS purchase_value
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    WHERE a.event_type = 'view' AND b.event_type = 'purchase'
    """,
)
def st8_stream_stream_join(spark, sf_dir):
    """Watermarked stream-stream inner join: views joined to same-user
    purchases within one hour — the attribution-join shape on live data,
    planned as Spark's StreamingSymmetricHashJoin.  Watermarks on BOTH
    sides plus the event-time range condition bound the join state: a
    view's row is dropped once the purchase watermark passes view_ts + 1h,
    so state is O(events in the trailing window) at any corpus rate —
    the property that makes this run forever on a live ingest."""
    from era_parser_spark.streaming.incremental import attribution_join, run_stream_once

    def _src():
        # watermarks require TIMESTAMP (not NTZ); the tz shift cancels —
        # both sides shift identically and only the µs delta is emitted
        s = _stream(spark, sf_dir, "events", "st8")
        return s.withColumn("ts", F.col("ts").cast("timestamp"))

    views = _src().filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    purchases = _src().filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("purchase_value"),
    )
    joined = attribution_join(views, purchases, window="1 hour")
    return run_stream_once(joined, f"st8_{uuid.uuid4().hex[:8]}")


_ST9_TOK = "regexp_split_to_array(trim(lower(text)), '\\s+')"
_ST9_SHINGLES = (
    f"list_distinct(list_transform(range(1, len({_ST9_TOK}) - 1), "
    f"i -> {_ST9_TOK}[i] || ' ' || {_ST9_TOK}[i+1] || ' ' || {_ST9_TOK}[i+2]))"
)


@register(
    "st9_stream_near_dedup",
    # The dd3 exact-oracle argument carries over: the stream's band
    # buckets are bit-identical to the batch banding (differential-
    # pinned), per-bucket state emits a pair for every colliding doc
    # combination across micro-batches, and the downstream verifier is
    # exact — so with LSH recall 1.0 at the fixture's threshold the
    # output is exactly {pairs with true Jaccard >= 0.5}, and DuckDB
    # needs no xxhash64 twin.
    oracle=f"""
    WITH sh AS (SELECT doc_id, unnest({_ST9_SHINGLES}) AS shingle FROM documents),
         sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id
         )
    SELECT doc_a, doc_b, inter,
           sa.nsh + sb.nsh - inter AS union_sz,
           CAST(inter AS DOUBLE) / (sa.nsh + sb.nsh - inter) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / (sa.nsh + sb.nsh - inter) >= 0.5
    ORDER BY jaccard DESC, doc_a, doc_b
    LIMIT 100
    """,
)
def st9_stream_near_dedup(spark, sf_dir):
    """Streaming near-dedup: MinHash-LSH candidate discovery as a custom
    stateful operator (streaming/incremental.py::band_pair_monitor) over
    row-local band buckets (operators/dedup.py::row_band_buckets — no
    aggregation ahead of the stateful op), exact-verified downstream by
    the same pair-bounded verifier the batch pipeline uses
    (verify_candidate_pairs).  Cross-micro-batch continuity pinned in
    tests/test_round7_ops.py."""
    from era_parser_spark.operators.dedup import (
        doc_shingles,
        row_band_buckets,
        verify_candidate_pairs,
    )
    from era_parser_spark.streaming.incremental import (
        band_pair_monitor,
        run_stream_once,
    )

    stream = (
        _stream(spark, sf_dir, "documents", "st9")
        .select(
            F.col("doc_id"),
            F.explode(row_band_buckets("text")).alias("bb"),
        )
        .select("doc_id", "bb.band", "bb.bucket")
    )
    cands = (
        run_stream_once(band_pair_monitor(stream), f"st9_{uuid.uuid4().hex[:8]}")
        .select("doc_a", "doc_b")
        .distinct()
    )
    docs = table(spark, sf_dir, "documents")
    hashed = doc_shingles(docs, "doc_id", "text").select(
        "doc_id", F.xxhash64("shingle").alias("__sh")
    )
    return (
        verify_candidate_pairs(hashed, cands, "doc_id", threshold=0.5)
        .orderBy(F.desc("jaccard"), "doc_a", "doc_b")
        .limit(100)
    )


@register(
    "st10_stream_watermark_dedup",
    # One AvailableNow batch delivers every row before any state can
    # expire, so the native watermark dedup equals batch DISTINCT on the
    # key exactly; only key columns are emitted, so first-arrival row
    # identity (a processing-order artifact) never reaches the output.
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def st10_stream_watermark_dedup(spark, sf_dir):
    """NATIVE state-bounded streaming dedup: Spark's
    dropDuplicatesWithinWatermark keeps one row per (user_id, event_type)
    while the key's state lives and expires it once the watermark passes
    event_ts + delay — so state is O(keys in the trailing hour) at any
    corpus rate, the property that lets exact dedup run forever on a live
    ingest (st4 is the custom-operator twin that instead keeps counts and
    never expires; this is the operator to reach for first).  Re-emission
    after state expiry is pinned across micro-batches in
    tests/test_round7_ops.py."""
    from era_parser_spark.streaming.incremental import run_stream_once

    s = _stream(spark, sf_dir, "events", "st10")
    # watermarks need TIMESTAMP (not NTZ); identity is unaffected
    s = s.withColumn("ts", F.col("ts").cast("timestamp"))
    dedup = (
        s.select("user_id", "event_type", "ts")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_stream_once(dedup, f"st10_{uuid.uuid4().hex[:8]}")


@register(
    "st11_stream_session_window",
    # Native session_window treats a gap of EXACTLY 30 min as a new
    # session (window end = last_ts + gap is exclusive), so the batch
    # twin marks new_session on diff >= gap — x2's custom rule uses >.
    # window end = max(ts) + gap by the same definition.
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
)
def st11_stream_session_window(spark, sf_dir):
    """NATIVE streaming sessionization: Spark's session_window(ts, gap)
    merges events into dynamic-length sessions inside the engine's own
    stateful aggregation — the built-in operator to reach for before
    st3's applyInPandasWithState twin (which exists to show arbitrary
    custom state).  In production append mode the watermark closes
    sessions and bounds state to the trailing gap; one AvailableNow
    complete-mode snapshot equals the batch gap-rule sessionization
    exactly (with session_window's >=-gap split semantics — see the
    oracle note)."""
    from era_parser_spark.streaming.incremental import run_stream_once

    s = _stream(spark, sf_dir, "events", "st11")
    s = s.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    return run_stream_once(
        agg, f"st11_{uuid.uuid4().hex[:8]}", output_mode="complete"
    )


@register(
    "st12_stream_window_funnel",
    # x30's oracle verbatim: one AvailableNow batch makes every user
    # "new" so each emits its level — the streaming state path must
    # reproduce the batch greedy-DP funnel exactly, level-0 users
    # included.
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
def st12_stream_window_funnel(spark, sf_dir):
    """Streaming windowFunnel driven to completion: per-user O(1) state
    (three longs — the greedy-DP collapse that makes x30 one shuffle
    also makes the stream state constant-size); emits on level change
    (streaming/incremental.py::funnel_monitor)."""
    from era_parser_spark.streaming.incremental import funnel_monitor, run_stream_once

    stream = _stream(spark, sf_dir, "events", "st12").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    return run_stream_once(
        funnel_monitor(stream), f"st12_{uuid.uuid4().hex[:8]}"
    )


def _st13_oracle() -> str:
    from era_parser_spark.queries.similarity import kmeans_lloyd_ctes

    # ts(vec_id) = vec_id * 60 s, so the epoch-aligned hour window start
    # is (vec_id // 60) * 3600 s — positive ids, truncation == floor
    return f"""
    WITH {kmeans_lloyd_ctes(k=8, iters=2, quant=1_000_000)}
    SELECT TIMESTAMP '1970-01-01 00:00:00'
             + to_seconds(CAST((vec_id // 60) * 3600 AS BIGINT))
             AS window_start,
           cid AS cluster, count(*) AS cnt
    FROM a_fin GROUP BY 1, 2
    """


@register("st13_stream_cluster_counts", oracle=_st13_oracle())
def st13_stream_cluster_counts(spark, sf_dir):
    """Model-serving in a stream: s16's exact-integer k-means model is
    TRAINED on the batch table (kmeans_fit — the tiny driver artifact),
    then broadcast into a Structured Streaming pipeline as literal
    centroid columns; every streamed vector is quantized and assigned
    JVM-side (integer zip_with fold per centroid, argmin via array_min
    on (d2, cid) structs — ties to the smallest cid, the s16 rule) and
    counted per tumbling hour window of a deterministic event time
    (ts = vec_id minutes).  Because the model and the assignment are
    both exact integers, the STREAMING result carries a full value
    oracle — the s16 CTE chain grouped by hour window — something no
    float-centroid streaming k-means can offer.  Windowed complete-mode
    agg, Trigger.AvailableNow (the st1 execution shape); at scale the
    same query runs unbounded with a watermark + append sink."""
    from era_parser_spark.operators.similarity import kmeans_fit
    from era_parser_spark.streaming.incremental import run_stream_once

    batch = table(spark, sf_dir, "embeddings")
    cids, C, dim = kmeans_fit(
        batch, "vec_id", "embedding", k=8, iters=2, quant=1_000_000, dim=64
    )
    cents = F.array(
        *[
            F.struct(
                F.lit(int(cid)).cast("int").alias("cid"),
                F.array(*[F.lit(int(x)) for x in vec]).alias("cvec"),
            )
            for cid, vec in zip(cids, C)
        ]
    )

    from era_parser_spark.operators.similarity import _quantized_vectors

    stream = _stream(spark, sf_dir, "embeddings", "st13")
    # the SAME quantize+guard the trainer used (pure filter+select, so it
    # composes with a streaming frame) — one definition, no drift between
    # the model and what it serves
    guarded = _quantized_vectors(stream, "vec_id", "embedding", 1_000_000, 64).select(
        F.col("vec_id"),
        F.col("__q"),
        F.timestamp_micros(F.col("vec_id") * 60_000_000).alias("__ts"),
    )
    best = F.array_min(
        F.transform(
            cents,
            lambda c: F.struct(
                F.aggregate(
                    F.zip_with("__q", c.getField("cvec"), lambda a, b: (a - b) * (a - b)),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("d2"),
                c.getField("cid").alias("cid"),
            ),
        )
    )
    assigned = guarded.withColumn("cluster", best.getField("cid"))
    agg = (
        assigned.groupBy(F.window("__ts", "1 hour"), "cluster")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("window.start").alias("window_start"), "cluster", "cnt")
    )
    return run_stream_once(agg, f"st13_out_{uuid.uuid4().hex[:8]}", "complete")


@register(
    "st14_stream_sequence_count",
    # x36's regex-reduction oracle verbatim: one AvailableNow batch makes
    # every user "new" so each emits its count — the streaming automaton
    # must reproduce the lazy-regex chain count exactly, zero-chain users
    # included.
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
def st14_stream_sequence_count(spark, sf_dir):
    """Streaming sequenceCount driven to completion: the eighth custom
    stateful operator — per-user state is TWO ints (automaton stage +
    chain count), the O(1) collapse of x36's restart-after-match scan
    (streaming/incremental.py::sequence_count_monitor)."""
    from era_parser_spark.streaming.incremental import (
        run_stream_once,
        sequence_count_monitor,
    )

    stream = _stream(spark, sf_dir, "events", "st14").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    return run_stream_once(
        sequence_count_monitor(stream), f"st14_{uuid.uuid4().hex[:8]}"
    )


@register(
    "st15_stream_mad_outlier_counts",
    # x40's exact fence re-derived (same quantization, same lower-median
    # order statistics), then outliers counted per epoch-aligned hour of
    # the event time — the full VALUE oracle a float-quantile fence could
    # never offer.  d carries ts through; referenced twice -> MATERIALIZED.
    oracle="""
    WITH e AS (
      SELECT event_id, event_type, ts,
             CAST(floor(value * CAST(1000000 AS DOUBLE)) AS BIGINT) AS v_us
      FROM events WHERE value IS NOT NULL
    ),
    r1 AS (
      SELECT event_id, event_type, v_us,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY v_us, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM e
    ),
    med AS (SELECT event_type, v_us AS med FROM r1 WHERE rn = (n + 1) // 2),
    d AS MATERIALIZED (
      SELECT e.event_id, e.event_type, e.ts, e.v_us,
             abs(e.v_us - m.med) AS dev
      FROM e JOIN med m USING (event_type)
    ),
    r2 AS (
      SELECT event_id, event_type, dev,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY dev, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM d
    ),
    mad AS (SELECT event_type, dev AS mad FROM r2 WHERE rn = (n + 1) // 2)
    SELECT TIMESTAMP '1970-01-01 00:00:00'
             + to_seconds(CAST(floor(epoch(d.ts) / 3600) * 3600 AS BIGINT))
             AS window_start,
           d.event_type, CAST(count(*) AS BIGINT) AS n_outliers
    FROM d JOIN mad m2 USING (event_type)
    WHERE d.dev > 3 * m2.mad
    GROUP BY 1, 2
    """,
)
def st15_stream_mad_outlier_counts(spark, sf_dir):
    """Robust-fence anomaly monitoring on a stream — the st13
    batch-train/stream-serve pattern applied to x40's median+MAD fence:
    the per-type (median, MAD) pair is computed EXACTLY on the batch
    table (mad_quantized/mad_medians — the same single definition x40
    uses, so model and serving can never drift), collected as the tiny
    trained artifact (one row per event type), and broadcast into a
    Structured Streaming pipeline as a literal CASE; every streamed
    event is quantized identically and flagged JVM-side, outliers
    counted per tumbling hour of event time.  Exact integers end to
    end, so the STREAMING result carries x40's full value oracle.
    Windowed complete-mode agg, Trigger.AvailableNow (the st1 shape);
    unbounded it runs with a watermark + append sink, per-key state =
    open hour windows only — the fence itself is frozen state of size
    O(types), refreshed by re-training (the st13 deployment note)."""
    from era_parser_spark.queries.extended import mad_medians, mad_quantized
    from era_parser_spark.streaming.incremental import run_stream_once

    batch = table(spark, sf_dir, "events")
    med, mad = mad_medians(mad_quantized(batch))
    fence = {
        r["event_type"]: (int(r["med"]), int(r["mad"]))
        for r in med.join(mad, "event_type").collect()
    }

    s = _stream(spark, sf_dir, "events", "st15")
    s = s.withColumn("ts", F.col("ts").cast("timestamp")).filter(
        F.col("value").isNotNull()
    )
    med_c = F.lit(None).cast("long")
    mad_c = F.lit(None).cast("long")
    for t, (m_, d_) in sorted(fence.items()):
        med_c = F.when(F.col("event_type") == t, F.lit(m_)).otherwise(med_c)
        mad_c = F.when(F.col("event_type") == t, F.lit(d_)).otherwise(mad_c)
    # The stream-side projection IS mad_quantized (it works on a streaming
    # DataFrame) — one quantization definition across x40 training and
    # st15 serving, so the fence can never drift from the batch model.
    flagged = (
        mad_quantized(s, keep_cols=("ts",))
        .select("ts", "event_type", "v_us")
        .withColumn("med", med_c)
        .withColumn("mad", mad_c)
        # types unseen at train time have no fence: pass-through, never
        # flagged (med/mad NULL -> predicate NULL -> filtered)
        .filter(F.abs(F.col("v_us") - F.col("med")) > 3 * F.col("mad"))
    )
    agg = (
        flagged.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_outliers"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_outliers",
        )
    )
    return run_stream_once(agg, f"st15_out_{uuid.uuid4().hex[:8]}", "complete")


@register(
    "st16_stream_asof_enrich",
    # x1's as-of derivation restricted to what the stream emits: each
    # purchase picks up the latest strictly-prior-ROW click WITH a value
    # (IGNORE NULLS on the update side), under the (us, event_id) total
    # order; purchases with no prior valued click are absent.  NULL
    # timestamps filtered on both sides (the x41 NULLS FIRST/LAST
    # window-default divergence).
    oracle="""
    WITH e16 AS (
      SELECT event_id, user_id, epoch_us(ts) AS us, value, event_type
      FROM events WHERE ts IS NOT NULL
    ),
    w16 AS (
      SELECT event_id, user_id, us, event_type,
             last_value(CASE WHEN event_type = 'click' AND value IS NOT NULL
                             THEN value END IGNORE NULLS)
               OVER wv AS last_click_value,
             last_value(CASE WHEN event_type = 'click' AND value IS NOT NULL
                             THEN us END IGNORE NULLS)
               OVER wv AS last_click_us
      FROM e16
      WINDOW wv AS (PARTITION BY user_id ORDER BY us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, CAST(us AS BIGINT) AS purchase_us,
           CAST(last_click_us AS BIGINT) AS last_click_us, last_click_value
    FROM w16 WHERE event_type = 'purchase' AND last_click_us IS NOT NULL
    """,
)
def st16_stream_asof_enrich(spark, sf_dir):
    """Streaming as-of enrichment join driven to completion — the ninth
    custom stateful operator and the live twin of x1's batch as-of join:
    per-user O(1) state (latest prior click's µs + value, the locf
    dimension state), each purchase emitted once with that state
    attached.  The carried double is never touched by arithmetic, so the
    streaming result carries a full VALUE oracle; one AvailableNow batch
    equals the batch window formulation exactly.  Cross-micro-batch
    forward-only semantics (a later click never retroactively enriches
    an earlier purchase) pinned in tests/test_round10_ops.py."""
    from era_parser_spark.streaming.incremental import (
        asof_enrich_monitor,
        run_stream_once,
    )

    stream = (
        _stream(spark, sf_dir, "events", "st16")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .filter(F.col("ts").isNotNull())
        .select(
            "user_id",
            "event_id",
            "event_type",
            "value",
            F.unix_micros(F.col("ts")).alias("us"),
        )
    )
    return run_stream_once(
        asof_enrich_monitor(stream), f"st16_{uuid.uuid4().hex[:8]}"
    )


@register(
    "st17_stream_token_budget",
    # p10's exact per-source id-order prefix sum: one AvailableNow batch of
    # the documents stream reproduces the batch budget cap bit-for-bit
    # (integer token counts, doc_id replay order inside the kernel).
    oracle="""
    WITH tc17 AS (
      SELECT source, doc_id,
             CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
      -- defensive NULL filter matching the engine's n_tokens.isNotNull()
      -- projection: sf0.01 has no NULL texts, but the contract must hold
      -- on any corpus (round-12 advice)
      WHERE text IS NOT NULL
    )
    SELECT source, doc_id, n_tokens,
           CAST(sum(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_tokens,
           sum(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) <= 3000 AS kept
    FROM tc17
    """,
)
def st17_stream_token_budget(spark, sf_dir):
    """Streaming per-source token-budget admission control driven to
    completion — the TENTH custom stateful operator, the live twin of
    p10's batch budget cap: per-source O(1) state (one long, the running
    token total), each document admitted once with kept = fits-entirely.
    One AvailableNow batch equals p10's batch prefix sum exactly;
    cross-batch forward-only admission pinned in
    tests/test_round11_ops.py."""
    from era_parser_spark.operators.text import token_count_col
    from era_parser_spark.streaming.incremental import (
        run_stream_once,
        token_budget_monitor,
    )

    stream = _stream(spark, sf_dir, "documents", "st17").select(
        "source", "doc_id", token_count_col("text").cast("long").alias("n_tokens")
    ).filter(F.col("n_tokens").isNotNull())
    return run_stream_once(
        token_budget_monitor(stream, budget=3000), f"st17_{uuid.uuid4().hex[:8]}"
    )
