"""Incremental processing + Structured Streaming surface.

run_incremental() is the reference's remote/batch lifecycle (§3.2) rebuilt
on Spark primitives: inventory -> minus the state store's completed eras (D1) ->
process_eras_batch, the one ingest path: processing -> decode to a staging
parquet -> one fan-out job writes every table -> the driver swaps in each
written era_number partition -> completed/failed per era (D8), so a
re-run replaces exactly the eras it touches (D3).
It takes all pending eras in one batch, or (per_era) one-era batches in
era order that stop at the first failure.  Era archives are closed/past
data, so the reference needs no watermarks — "process new files, skip done
ones" is exactly this.

For live consumption of the *normalized* tables (new eras landing as
parquet), stream_blocks()/windowed_block_rate() give a real Structured
Streaming path (file source + event-time window + watermark), and
slot_gap_monitor() shows a custom stateful operator
(applyInPandasWithState): per-network last-seen-slot state emitting gaps
across micro-batches — something no stateless query can do.
"""

from __future__ import annotations

import traceback
from collections.abc import Iterator
from contextlib import nullcontext

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from era_parser_spark.sources.era import read_era_blocks
from era_parser_spark.state.era_state import EraStateStore


def run_incremental(
    spark: SparkSession,
    era_dir: str,
    out_base: str,
    state_path: str,
    network: str = "gnosis",
    era_range: str | None = None,
    tables: list[str] | None = None,
    force: bool = False,
    per_era: bool = False,
    exclusive: bool = False,
) -> dict[int, dict[str, int]]:
    """Process every not-yet-completed era under era_dir. Returns
    {era_number: {table: rows}} for the eras processed this run.

    Default (batched): ALL pending eras go through one decode job and one
    write job for every table — each parallelized across era files — which
    is the 100 TB shape.  per_era=True runs the same batch path on
    one-era batches in era order, as the reference loops eras serially:
    it stops at the first failure, so the eras before it stay completed,
    the failing era is marked failed and later eras get no status row.
    Idempotency is identical either way: era_number partition replacement +
    status log; a mid-job failure leaves eras 'processing' and the next run
    redoes exactly those partitions.

    `exclusive=True` wraps the whole run in the state store's best-effort
    lock (see EraStateStore.exclusive) — use it when more than one driver
    might target the same state path; raises StateLockHeld if another run
    is live.
    """
    from era_parser_spark.sources.discovery import discover_auto, filter_era_range

    store = EraStateStore(spark, state_path)
    with store.exclusive(owner=f"run_incremental:{network}") if exclusive else nullcontext():
        # era_dir may be a local dir, s3://bucket/prefix, or an http(s) listing
        # URL (the reference's --remote flow); downloads stay task-side either way
        found = filter_era_range(discover_auto(era_dir, network), era_range)
        # one state-log read plans the run and carries each era's retry count
        todo = store.plan_pending(found, network, force=force)
        if not todo:
            return {}
        results: dict[int, dict[str, int]] = {}
        # per_era: one-era batches in era order; the first failure raises
        for batch in [[item] for item in todo] if per_era else [todo]:
            results.update(process_eras_batch(store, network, batch, out_base, tables=tables))
        return results


def process_eras_batch(
    store: EraStateStore,
    network: str,
    todo: list[tuple[int, str, int]],
    out_base: str,
    tables: list[str] | None = None,
) -> dict[int, dict[str, int]]:
    """The one ingest path: one distributed job decodes every era file of
    the batch into a staging parquet, one more writes every table of every
    era from it, the driver swaps in each written (table, era) partition,
    then all statuses flip.

    `todo` is plan_pending's (era_number, path, retry_count) list, or a
    one-era slice of it when run_incremental runs per era.  Between the two
    state appends the batch runs exactly two Spark jobs, whatever the
    table set: the staging write and the fan-out write, whose manifest
    carries each era's row counts.
    """
    from era_parser_spark.operators.normalize import TABLES
    from era_parser_spark.sinks import writers

    spark = store.spark
    # resolved before any state row: an unusable out_base fails the run here
    fs, root = writers.warehouse_fs(out_base)
    eras = [e for e, _, _ in todo]
    # the attempt number each era's transitions carry in this batch
    attempt = {e: r + 1 for e, _, r in todo}
    # one log append for the whole batch (an append per era would be N
    # Spark jobs and N tiny files)
    store.record_many(
        [
            {"network": network, "era_number": era, "status": "processing",
             "retry_count": attempt[era]}
            for era in eras
        ]
    )
    staging, scratch = f"{out_base}/_staging_blocks", f"{root}/_staging_tables"
    try:
        # Materialize the decoded blocks ONCE to a staging parquet instead
        # of cache(): the fan-out job then reads it back as a column-pruned
        # scan with bounded memory.  A cached decoded-blocks DF must hold (or
        # spill fragment-by-fragment) the whole batch in the block manager
        # while the table writes fight it for execution memory — at 512 eras
        # x 4096 blocks on a 16g local JVM that GC-death-spiraled (found by
        # tools/rehearsal.py).  Decoding and writing in one stage instead
        # keeps two Python workers per task (docs/PLANS.md).
        decoded = read_era_blocks(spark, [p for _, p, _ in todo], network=network, tables=tables)
        decoded.write.mode("overwrite").parquet(staging)
        # the schema is known, so reading it back needs no footer-inference job
        blocks = spark.read.schema(decoded.schema).parquet(staging)
        names = tables or list(TABLES)
        # ONE job writes every table: each task streams its rows of each
        # (table, era) to a file under the scratch dir and reports it
        manifest = writers.write_era_tables(
            blocks.select(
                F.expr("slot div 8192").alias("era_number"),
                *[TABLES[name].rows().alias(name) for name in names],
            ),
            names, fs, scratch,
        )
        # each written partition now holds exactly the files the manifest
        # lists (a failed task attempt's files never move); a table with no
        # rows in an era leaves that partition untouched (A13)
        writers.commit_partitions(fs, root, manifest)
        counts = {era: dict.fromkeys(names, 0) for era in eras}
        for r in manifest:
            if r.era_number in counts:  # a block's era is its slot div 8192
                counts[r.era_number][r.table] += r.rows
        store.record_many(
            [
                {"network": network, "era_number": era, "status": "completed",
                 "total_records": sum(counts[era].values()),
                 "datasets": sorted(counts[era]),
                 "retry_count": attempt[era]}
                for era in eras
            ]
        )
        return counts
    except Exception as exc:  # noqa: BLE001 - every era's status must resolve
        store.record_many(
            [
                {"network": network, "era_number": era, "status": "failed",
                 "error_message": f"{type(exc).__name__}: {exc}\n{traceback.format_exc()}"[:2000],
                 "retry_count": attempt[era]}
                for era in eras
            ]
        )
        raise
    finally:
        # both scratch dirs are batch-scoped; on failure the next run
        # rewrites them anyway, so best-effort delete either way
        for d in (f"{root}/_staging_blocks", scratch):
            try:
                writers.remove_tree(fs, d)
            except Exception:  # noqa: BLE001 - cleanup must never mask the result
                pass


# --- Structured Streaming over normalized tables -----------------------------


def stream_blocks(spark: SparkSession, blocks_dir: str, schema: T.StructType) -> DataFrame:
    """File-source stream over a written blocks table (new eras arriving)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 16)
        .parquet(blocks_dir)
    )


def windowed_block_rate(stream: DataFrame, window: str = "1 hour") -> DataFrame:
    """Event-time windowed block counts with late-data watermark."""
    return (
        stream.withWatermark("timestamp_utc", "2 hours")
        .groupBy(F.window("timestamp_utc", window), F.col("version"))
        # streaming forbids exact distinct; approx is the documented swap
        .agg(
            F.count(F.lit(1)).alias("blocks"),
            F.approx_count_distinct("slot").alias("approx_slots"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "version",
            "blocks",
            "approx_slots",
        )
    )


_GAP_OUT_SCHEMA = "network string, gap_start long, gap_end long, missing long"
_GAP_STATE_SCHEMA = "last_slot long"


def _gap_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (network,) = key
    last = state.get[0] if state.exists else None
    rows = []
    slots: list[int] = []
    for pdf in pdfs:
        slots.extend(int(s) for s in pdf["slot"])
    for s in sorted(slots):
        if last is not None and s > last + 1:
            rows.append((network, last + 1, s - 1, s - last - 1))
        if last is None or s > last:
            last = s
    if last is not None:
        state.update((last,))
    yield pd.DataFrame(rows, columns=["network", "gap_start", "gap_end", "missing"])


def slot_gap_monitor(stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: per-network last-slot state,
    emits (gap_start, gap_end, missing) for slots skipped between
    micro-batches — the streaming twin of the E10 batch gap query."""
    return (
        stream.select("network", "slot")
        .groupBy("network")
        .applyInPandasWithState(
            _gap_fn,
            outputStructType=_GAP_OUT_SCHEMA,
            stateStructType=_GAP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def attribution_join(
    views: DataFrame,
    purchases: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: each view row joins same-user
    purchases whose event time falls within ``window`` after it.

    Expects ``views(view_id, v_user, v_ts)`` and ``purchases(purchase_id,
    p_user, p_ts, purchase_value)`` with TIMESTAMP event times.  Watermarks
    on BOTH sides plus the event-time range condition let Spark's
    StreamingSymmetricHashJoin evict a view's row once the purchase
    watermark passes ``v_ts + window`` — state is bounded by the trailing
    window at any ingest rate, which is what makes the join runnable
    forever on a live stream.  Emits the µs lag instead of raw timestamps
    so the result is timezone-shift-free.
    """
    v = views.withWatermark("v_ts", watermark)
    p = purchases.withWatermark("p_ts", watermark)
    return v.join(
        p,
        F.expr(f"v_user = p_user AND p_ts >= v_ts AND p_ts <= v_ts + INTERVAL {window}"),
    ).select(
        "view_id",
        "purchase_id",
        F.col("v_user").alias("user_id"),
        (
            F.unix_micros(F.col("p_ts").cast("timestamp"))
            - F.unix_micros(F.col("v_ts").cast("timestamp"))
        ).alias("lag_us"),
        "purchase_value",
    )


def run_stream_once(query_df: DataFrame, name: str, output_mode: str = "append") -> DataFrame:
    """Drive a streaming DF to completion on currently-available data
    (Trigger.AvailableNow) into an in-memory table; returns the result.

    Windowed aggregations want output_mode='complete' here: in append mode
    the watermark holds back still-open windows at end of input.
    """
    q = (
        query_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return query_df.sparkSession.sql(f"SELECT * FROM {name}")


_SESS_OUT_SCHEMA = "user_id long, session_seq long, n_events long, start_us long, end_us long"
_SESS_STATE_SCHEMA = "last_us long, seq long, start_us long, n_events long"
_SESSION_GAP_US = 1800 * 1_000_000  # 30 min, matching the batch sessionizer


def _sessionize_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user,) = key
    if state.exists:
        last_us, seq, start_us, n_ev = (int(v) for v in state.get)
    else:
        last_us = None
        seq = start_us = n_ev = 0
    events: list[tuple[int, int]] = []
    for pdf in pdfs:
        events.extend(zip((int(t) for t in pdf["ts_us"]), (int(e) for e in pdf["event_id"])))
    events.sort()
    rows = []
    for ts_us, _eid in events:
        if last_us is None:
            seq, start_us, n_ev = 1, ts_us, 1
        elif ts_us - last_us > _SESSION_GAP_US:
            rows.append((user, seq, n_ev, start_us, last_us))
            seq, start_us, n_ev = seq + 1, ts_us, 1
        else:
            n_ev += 1
        last_us = ts_us
    if last_us is not None:
        # snapshot of the still-open session at trigger end: over a single
        # AvailableNow batch this makes the emitted set exactly the batch
        # answer; across batches the open session re-emits with updated
        # stats under the same session_seq (last-write-wins downstream)
        rows.append((user, seq, n_ev, start_us, last_us))
        state.update((last_us, seq, start_us, n_ev))
    yield pd.DataFrame(
        rows, columns=["user_id", "session_seq", "n_events", "start_us", "end_us"]
    )


_DEDUP_OUT_SCHEMA = "digest string, doc_id long, n_copies long"
_DEDUP_STATE_SCHEMA = "keeper long, n long"


def _make_digest_dedup_fn(ttl_ms: int | None):
    def _digest_dedup_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (digest,) = key
        if ttl_ms is not None and state.hasTimedOut:
            # TTL expiry: forget the digest — a duplicate arriving after
            # the window re-keeps under a fresh min-id keeper (timeout
            # invocations carry no data and emit nothing)
            state.remove()
            yield pd.DataFrame([], columns=["digest", "doc_id", "n_copies"])
            return
        ids: list[int] = []
        for pdf in pdfs:
            ids.extend(int(i) for i in pdf["doc_id"])
        if state.exists:
            keeper, n = (int(v) for v in state.get)
        else:
            keeper, n = min(ids), 0
        n += len(ids)
        state.update((keeper, n))
        if ttl_ms is not None:
            # ProcessingTimeTimeout clears on every invocation — re-arm
            state.setTimeoutDuration(ttl_ms)
        # snapshot semantics (like the sessionizer): over one AvailableNow
        # batch the emitted set IS the batch dedup answer; across batches the
        # digest re-emits with an updated copy count under the same keeper
        # (last-write-wins downstream) — the keeper never changes once set,
        # so late duplicates are dropped, not re-kept
        yield pd.DataFrame({"digest": [digest], "doc_id": [keeper], "n_copies": [n]})

    return _digest_dedup_fn


_digest_dedup_fn = _make_digest_dedup_fn(None)  # oracle-path kernel (NoTimeout)


def digest_dedup_monitor(stream: DataFrame, ttl_ms: int | None = None) -> DataFrame:
    """Custom stateful streaming operator #3: exact dedup across
    micro-batches (the streaming twin of dd1).  Per-digest state carries
    (keeper_id, copies_seen); the first-seen batch's min id wins and every
    later duplicate anywhere in the stream folds into its count.  Input
    needs `digest` (compute it JVM-side — md5/xxhash of the content) and
    `doc_id`.  State shards by digest, the same key dd1 shuffles on, so
    the operator scales exactly like the batch op plus O(distinct) state.

    Unlike the O(1)-per-key monitors (st16/st17), per-digest state GROWS
    with the corpus' distinct-content count, so the production TTL matters
    most here: ``ttl_ms`` arms a ProcessingTimeTimeout per digest,
    re-armed on every arrival (the st16 pattern,
    tests/test_round11_ops.py) — a digest idle past the TTL is forgotten
    and a later duplicate re-keeps under a fresh keeper, the standard
    windowed-dedup tradeoff.  The oracle path stays NoTimeout (batch
    equality needs keep-forever state); NEVER combine an armed timeout
    with an availableNow trigger (end-of-input state-cleanup spin — use a
    processingTime trigger, see CLAUDE.md)."""
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        stream.select("digest", "doc_id")
        .groupBy("digest")
        .applyInPandasWithState(
            _make_digest_dedup_fn(ttl_ms),
            outputStructType=_DEDUP_OUT_SCHEMA,
            stateStructType=_DEDUP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=timeout,
        )
    )


def session_monitor(stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator #2: 30-minute-gap sessionization
    (the streaming twin of x2_sessionize).  Per-user state carries the open
    session (last event time, sequence number, start, count); closed
    sessions emit as their gap is observed.  Input needs `user_id`,
    `event_id` and `ts_us` (epoch microseconds — callers convert their
    timestamp once, JVM-side, so the state schema stays tz-free)."""
    return (
        stream.select("user_id", "event_id", "ts_us")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn,
            outputStructType=_SESS_OUT_SCHEMA,
            stateStructType=_SESS_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_KMV_OUT_SCHEMA = (
    "grp string, seq long, n_tracked long, kth_min long, est_distinct double"
)
_KMV_STATE_SCHEMA = "seq long, ks array<bigint>"


def kmv_monitor(stream: DataFrame, k: int = 32) -> DataFrame:
    """Custom stateful streaming operator #4: a per-group KMV distinct
    sketch maintained across micro-batches (the streaming twin of
    x12_kmv_distinct).  State is the k smallest distinct 60-bit hashes
    seen so far — KMV merge is a set-union-then-truncate, associative and
    commutative, so the post-stream state equals the batch sketch no
    matter how arrivals split across batches (pinned in
    tests/test_state_sinks_streaming.py); over one AvailableNow batch the
    snapshot IS the batch answer, giving the exactly-once state path the
    same exact SQL oracle as x12.  Input needs `grp` and `h` (compute the
    hash JVM-side, like st4's digest); state is O(groups * k) longs.
    `seq` counts state updates — downstream takes max(seq) per group for
    the final snapshot."""

    def fn(key, pdfs, state):
        (grp,) = key
        hs: set[int] = set()
        for pdf in pdfs:
            hs.update(int(x) for x in pdf["h"])
        if state.exists:
            seq, ks = state.get
            cur = set(int(x) for x in ks)
        else:
            seq, cur = 0, set()
        cur |= hs
        ks = sorted(cur)[:k]
        seq += 1
        state.update((seq, ks))
        m = len(ks)
        kth = ks[-1] if ks else 0
        # (k-1)*2^60 and any 60-bit hash are exact doubles: one correctly
        # rounded division, identical in the JVM/DuckDB batch twin
        est = float(m) if m < k else float((k - 1) * (1 << 60)) / float(kth)
        yield pd.DataFrame(
            {
                "grp": [grp],
                "seq": [seq],
                "n_tracked": [m],
                "kth_min": [kth],
                "est_distinct": [est],
            }
        )

    # nulls are not values: the batch twin's collect_set drops them, and a
    # null reaching the pandas fn arrives as NaN (int() -> task death) —
    # filter JVM-side so streaming matches batch ignore-null semantics
    return (
        stream.select("grp", "h")
        .where(F.col("h").isNotNull())
        .groupBy("grp")
        .applyInPandasWithState(
            fn,
            outputStructType=_KMV_OUT_SCHEMA,
            stateStructType=_KMV_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_TOPK_OUT_SCHEMA = "grp long, seq long, rank int, vec_id long, cosine_sim double"
_TOPK_STATE_SCHEMA = "seq long, ids array<long>, scores array<double>"


def topk_monitor(stream: DataFrame, k: int = 5) -> DataFrame:
    """Custom stateful streaming operator #5: per-group exact top-k
    maintained across micro-batches (the streaming twin of
    s7_incremental_topk).  State is the k best (score, id) pairs seen so
    far; the merge — concat, sort by (score desc, id asc), truncate —
    is associative and commutative over distinct arrivals, so the final
    snapshot equals the batch answer no matter how arrivals split across
    micro-batches (continuity pinned in tests; over one AvailableNow
    batch the snapshot gets the same exact SQL oracle as a batch
    row_number window).  Input needs `grp`, `vec_id` and a pre-quantized
    `score` (compute it JVM-side — the DECIMAL(10,6) representation is
    what makes cross-engine ordering stable); state is O(groups * k).
    """

    def fn(key, pdfs, state):
        (grp,) = key
        rows: list[tuple[int, float]] = []
        for pdf in pdfs:
            rows.extend(
                (int(i), float(s)) for i, s in zip(pdf["vec_id"], pdf["score"])
            )
        if state.exists:
            seq, ids, scores = state.get
            rows.extend((int(i), float(s)) for i, s in zip(ids, scores))
        else:
            seq = 0
        rows.sort(key=lambda t: (-t[1], t[0]))
        top = rows[:k]
        seq += 1
        state.update((seq, [i for i, _ in top], [s for _, s in top]))
        yield pd.DataFrame(
            {
                "grp": [grp] * len(top),
                "seq": [seq] * len(top),
                "rank": list(range(1, len(top) + 1)),
                "vec_id": [i for i, _ in top],
                "cosine_sim": [s for _, s in top],
            }
        )

    # null scores are not candidates (mirrors the batch twin's NULLS LAST
    # never reaching rank <= k); filter JVM-side like st4/st5
    return (
        stream.select("grp", "vec_id", "score")
        .where(F.col("score").isNotNull())
        .groupBy("grp")
        .applyInPandasWithState(
            fn,
            outputStructType=_TOPK_OUT_SCHEMA,
            stateStructType=_TOPK_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_BAND_OUT_SCHEMA = "doc_a long, doc_b long"
_BAND_STATE_SCHEMA = "ids array<long>, capped boolean"


def _band_pair_fn(max_bucket: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        new: list[int] = []
        for pdf in pdfs:
            new.extend(int(i) for i in pdf["doc_id"])
        new = sorted(set(new))
        if state.exists:
            seen_raw, capped = state.get
            seen = [int(i) for i in seen_raw]
            capped = bool(capped)
        else:
            seen, capped = [], False
        a_out: list[int] = []
        b_out: list[int] = []
        seen_set = set(seen)
        for nid in new:
            if nid in seen_set:
                continue
            if not capped:
                for sid in seen:
                    lo, hi = (sid, nid) if sid < nid else (nid, sid)
                    a_out.append(lo)
                    b_out.append(hi)
            seen.append(nid)
            seen_set.add(nid)
            if len(seen) >= max_bucket:
                # viral-bucket guard (the dd8 max_cell rule): a bucket at
                # the cap stops emitting new pairs — checked PER DOC so a
                # viral bucket arriving inside one batch is still bounded;
                # near-dups this common are caught by the exact-dedup
                # tier, and unbounded emission here would be the streaming
                # analogue of the sum(df^2) blowup
                capped = True
        state.update((sorted(seen_set), capped))
        yield pd.DataFrame({"doc_a": a_out, "doc_b": b_out})

    return fn


def band_pair_monitor(stream: DataFrame, max_bucket: int = 64) -> DataFrame:
    """Custom stateful streaming operator #6: MinHash-LSH candidate
    discovery across micro-batches (the streaming half of dd3/dd11).
    Input needs `band`, `bucket`, `doc_id` — compute them JVM-side with
    `operators.dedup.row_band_buckets` (bit-identical to the batch
    banding; differential-pinned).  Per-(band, bucket) state keeps the
    sorted id set seen so far; each arriving doc emits a candidate pair
    with EVERY resident — so over any micro-batch split the emitted pair
    set equals the batch self-join's colliding pairs (duplicates across
    bands resolved by a downstream distinct), and exact verification
    composes downstream (`verify_candidate_pairs`) exactly as in batch.

    State is bounded by `max_bucket` ids per bucket (the dd8 max_cell
    rule); a capped bucket stops emitting — documented recall trade, the
    alternative is O(bucket^2) emission under viral collisions.
    """
    return (
        stream.select("band", "bucket", "doc_id")
        .groupBy("band", "bucket")
        .applyInPandasWithState(
            _band_pair_fn(max_bucket),
            outputStructType=_BAND_OUT_SCHEMA,
            stateStructType=_BAND_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_FUNNEL_OUT_SCHEMA = "user_id long, funnel_level int"
_FUNNEL_STATE_SCHEMA = "lastv long, best2 long, level int"
_FUNNEL_WIN_US = 21_600_000_000  # 6 h, matching x30's batch funnel


def _funnel_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user,) = key
    if state.exists:
        lastv, best2, level = state.get
        is_new = False
    else:
        lastv, best2, level = -1, -1, 0
        is_new = True
    prev_level = level
    evs: list[tuple[int, int, str]] = []
    for pdf in pdfs:
        evs.extend(
            (int(u), int(e), str(t))
            for u, e, t in zip(pdf["us"], pdf["event_id"], pdf["event_type"])
        )
    # replay the batch in the SAME (us, event_id) total order x30 uses;
    # state updates apply after each event, so "strictly prior" holds
    # within and across micro-batches
    for us, _eid, et in sorted(evs):
        if et == "purchase":
            if best2 >= 0 and us - best2 <= _FUNNEL_WIN_US:
                level = max(level, 3)
        elif et == "click":
            if lastv >= 0 and us - lastv <= _FUNNEL_WIN_US:
                level = max(level, 2)
            if lastv >= 0:
                best2 = max(best2, lastv)
        elif et == "view":
            level = max(level, 1)
            lastv = max(lastv, us)
    state.update((lastv, best2, level))
    if evs and (is_new or level != prev_level):
        yield pd.DataFrame(
            [(user, level)], columns=["user_id", "funnel_level"]
        )
    else:
        yield pd.DataFrame([], columns=["user_id", "funnel_level"])


def funnel_monitor(stream: DataFrame) -> DataFrame:
    """Streaming windowFunnel (the live twin of x30's batch operator):
    per-user state is THREE longs — latest prior view, best chain-2
    start over prior clicks, deepest level reached — because the greedy
    running-max DP that makes x30 one shuffle also makes the funnel's
    whole history collapsible to O(1) state per key.  A user's row is
    re-emitted only when their level deepens (monotone, so downstream
    consumers can MAX-merge).

    Over one AvailableNow batch every seen user is new and emits,
    reproducing x30's batch output exactly (its SQL oracle).  State is
    per-user forever by the funnel's definition (chains have a 6 h
    window but user lifetimes don't); a production deployment bounds it
    with a GroupStateTimeout TTL — kept NoTimeout here to preserve the
    batch-equality contract.
    """
    return (
        stream.select("user_id", "event_id", "event_type", "us")
        .groupBy("user_id")
        .applyInPandasWithState(
            _funnel_fn,
            outputStructType=_FUNNEL_OUT_SCHEMA,
            stateStructType=_FUNNEL_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_SEQCNT_OUT_SCHEMA = "user_id long, n_chains int"
_SEQCNT_STATE_SCHEMA = "stage int, n_chains int"


def _seqcount_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user,) = key
    if state.exists:
        stage, n_chains = state.get
        is_new = False
    else:
        stage, n_chains = 0, 0
        is_new = True
    prev = n_chains
    evs: list[tuple[int, int, str]] = []
    for pdf in pdfs:
        evs.extend(
            (int(u), int(e), str(t))
            for u, e, t in zip(pdf["us"], pdf["event_id"], pdf["event_type"])
        )
    # the leftmost-shortest state machine (== lazy 'v.*?c.*?p' global
    # matching) over INITIAL LETTERS — exactly x36's reduction, so the
    # two stay in lockstep even if a new event-type vocabulary collides
    # on initials (both would change together).  Events are replayed in
    # (us, event_id) order WITHIN each micro-batch; cross-batch equality
    # with the batch oracle holds for event-time-ordered ingest (the
    # AvailableNow single-batch contract always holds) — a live deployment
    # with out-of-order arrival needs a watermarked reorder buffer in
    # front, which an automaton state cannot retro-correct.
    for _us, _eid, et in sorted(evs):
        ch = et[:1]
        if stage == 0 and ch == "v":
            stage = 1
        elif stage == 1 and ch == "c":
            stage = 2
        elif stage == 2 and ch == "p":
            stage = 0
            n_chains += 1
    state.update((stage, n_chains))
    if evs and (is_new or n_chains != prev):
        yield pd.DataFrame([(user, n_chains)], columns=["user_id", "n_chains"])
    else:
        yield pd.DataFrame([], columns=["user_id", "n_chains"])


def sequence_count_monitor(stream: DataFrame) -> DataFrame:
    """Streaming sequenceCount (the live twin of x36): per-user state is
    TWO ints — the current stage of the view->click->purchase machine
    and the completed-chain count — because the greedy restart-after-
    match rule is a finite automaton, the stream needs no history at
    all.  Re-emits a user only when their chain count grows (monotone:
    MAX-mergeable downstream).  One AvailableNow batch reproduces x36's
    batch output exactly (its regex-reduction oracle).  State is O(1)
    per user forever (the st4/st12 keep-forever class; production
    bounds it with a GroupStateTimeout TTL)."""
    return (
        stream.select("user_id", "event_id", "event_type", "us")
        .groupBy("user_id")
        .applyInPandasWithState(
            _seqcount_fn,
            outputStructType=_SEQCNT_OUT_SCHEMA,
            stateStructType=_SEQCNT_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_ASOF_OUT_SCHEMA = (
    "event_id long, user_id long, purchase_us long,"
    " last_click_us long, last_click_value double"
)
_ASOF_STATE_SCHEMA = "last_us long, last_val double"


def _make_asof_fn(ttl_ms: int | None):
    def _asof_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        cols = [
            "event_id",
            "user_id",
            "purchase_us",
            "last_click_us",
            "last_click_value",
        ]
        if ttl_ms is not None and state.hasTimedOut:
            # TTL expiry: drop the stored click — the user re-enriches as
            # no-prior-click (hasTimedOut invocations carry no data)
            state.remove()
            yield pd.DataFrame([], columns=cols)
            return
        (user,) = key
        # no-prior-click is modeled by NOT having state at all (state.update
        # only ever runs after a valued click), never by a sentinel value —
        # a negative-µs click (pre-1970 event time) is a perfectly valid
        # dimension update and must enrich later purchases like any other
        # (the SQL oracle has no epoch restriction).
        if state.exists:
            last_us, last_val = state.get
        else:
            last_us, last_val = None, None
        evs: list[tuple[int, int, str, float | None]] = []
        for pdf in pdfs:
            for eid, et, us, val in zip(
                pdf["event_id"], pdf["event_type"], pdf["us"], pdf["value"]
            ):
                evs.append(
                    (int(us), int(eid), str(et), None if pd.isna(val) else float(val))
                )
        out: list[tuple] = []
        # replay in the (us, event_id) total order — the same strictly-prior-
        # ROW semantics as x1's UNBOUNDED PRECEDING..1 PRECEDING window frame,
        # within and across micro-batches
        for us, eid, et, val in sorted(evs, key=lambda t: (t[0], t[1])):
            if et == "purchase" and last_us is not None:
                out.append((eid, int(user), us, last_us, last_val))
            if et == "click" and val is not None:
                last_us, last_val = us, val
        if last_us is not None:
            state.update((int(last_us), float(last_val)))
            if ttl_ms is not None:
                # ProcessingTimeTimeout clears on every invocation — re-arm
                state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(out, columns=cols) if out else pd.DataFrame([], columns=cols)

    return _asof_fn


_asof_fn = _make_asof_fn(None)  # the oracle-path kernel (NoTimeout)


_BUDGET_OUT_SCHEMA = (
    "source string, doc_id long, n_tokens long, cum_tokens long, kept boolean"
)
_BUDGET_STATE_SCHEMA = "cum long"


def _make_budget_fn(budget: int):
    def _budget_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (source,) = key
        cum = int(state.get[0]) if state.exists else 0
        docs: list[tuple[int, int]] = []
        for pdf in pdfs:
            for did, n in zip(pdf["doc_id"], pdf["n_tokens"]):
                docs.append((int(did), int(n)))
        cols = ["source", "doc_id", "n_tokens", "cum_tokens", "kept"]
        out: list[tuple] = []
        # replay in doc_id order within the batch — the deterministic
        # replay convention (st16), matching the batch oracle's id-order
        # prefix sum over one AvailableNow batch
        for did, n in sorted(docs):
            cum += n
            out.append((str(source), did, n, cum, cum <= budget))
        state.update((cum,))
        yield pd.DataFrame(out, columns=cols) if out else pd.DataFrame([], columns=cols)

    return _budget_fn


def token_budget_monitor(stream: DataFrame, budget: int) -> DataFrame:
    """Streaming per-source token-budget admission control (the TENTH
    custom stateful operator; the live twin of p10's batch budget cap):
    per-source state is ONE long — the running token total — because a
    budget decision needs nothing else.  Each arriving document is
    emitted once with the total at admission and ``kept = cum <=
    budget`` (a doc is kept only if it fits ENTIRELY, p10's rule; docs
    past the cut still advance the total, exactly the batch semantics
    where one huge doc blocks everything after it).

    Within a micro-batch documents replay in doc_id order; across
    batches the total flows FORWARD ONLY — a late-arriving lower doc_id
    appends at the current total rather than re-opening past decisions
    (admission control never retroactively revokes) — so one
    AvailableNow batch reproduces p10's batch prefix sum exactly (the
    st17 oracle), and the cross-batch behavior is the operational
    semantics a live ingest gate actually wants.  State is O(1) per
    source forever (the st4/st12/st16 keep-forever class; production
    adds a GroupStateTimeout TTL).  NULL token counts must be filtered
    upstream (the registry entry's projection has none)."""
    return (
        stream.select("source", "doc_id", "n_tokens")
        .groupBy("source")
        .applyInPandasWithState(
            _make_budget_fn(budget),
            outputStructType=_BUDGET_OUT_SCHEMA,
            stateStructType=_BUDGET_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def asof_enrich_monitor(stream: DataFrame, ttl_ms: int | None = None) -> DataFrame:
    """Streaming AS-OF enrichment join (the NINTH custom stateful
    operator; the live twin of x1's batch as-of join): per-user state is
    TWO scalars — the latest prior click's (event-time µs, value) — the
    locf dimension state a streaming enrichment join actually needs.
    Each purchase is emitted once, enriched with that state; purchases
    with no prior click emit nothing (the strictly-prior contract), and
    a click arriving in a LATER micro-batch never retroactively enriches
    an earlier purchase — state flows forward only, the streaming
    semantics of every locf system.

    Clicks with a NULL value are not dimension updates (x1's IGNORE
    NULLS convention applied to the update side), so last_click_us and
    last_click_value always move together.  The carried value is the raw
    binary64 double, untouched by arithmetic — bit-exact against the SQL
    oracle.  Over one AvailableNow batch the output equals the batch
    window formulation exactly (st16's oracle); with the default
    ``ttl_ms=None`` state is O(1) per user forever (NoTimeout — the
    batch-equality contract the registry oracle gates).

    ``ttl_ms`` is the PRODUCTION bound for unbounded key spaces: a
    ProcessingTimeTimeout of that many ms, re-armed on every invocation
    that stores a click.  A user idle past the TTL has their stored
    click dropped (the timeout invocation carries no data and emits
    nothing), so their next purchase re-enriches as no-prior-click —
    pinned in tests/test_round11_ops.py.  The oracle path stays
    NoTimeout; TTL output is deliberately wall-clock-dependent and has
    no batch twin."""
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        stream.select("user_id", "event_id", "event_type", "us", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_asof_fn(ttl_ms),
            outputStructType=_ASOF_OUT_SCHEMA,
            stateStructType=_ASOF_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=timeout,
        )
    )
