"""End-to-end pipeline tests: sinks, era-state store, incremental runs,
and the Structured Streaming surface."""

from __future__ import annotations

import contextlib
import json
import os
import uuid

import pytest

from pyspark.sql import functions as F

from era_parser_spark.testing.era_gen import era_filename, write_synthetic_era


@pytest.fixture(scope="module")
def era_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("eras_inc")
    for era in (1300, 1301, 1302):
        write_synthetic_era(str(d / era_filename("gnosis", era)), era, "gnosis", blocks=12)
    return str(d)


def test_incremental_run_skips_completed(spark, era_dir, tmp_path_factory):
    from era_parser_spark.state.era_state import EraStateStore
    from era_parser_spark.streaming.incremental import run_incremental

    out = str(tmp_path_factory.mktemp("warehouse"))
    state_path = os.path.join(out, "_era_state")

    first = run_incremental(
        spark, era_dir, out, state_path, "gnosis", tables=["blocks", "attestations"]
    )
    assert sorted(first) == [1300, 1301, 1302]
    assert all(c["blocks"] > 0 for c in first.values())

    # second run: everything completed -> nothing to do (D1 anti-join)
    second = run_incremental(
        spark, era_dir, out, state_path, "gnosis", tables=["blocks", "attestations"]
    )
    assert second == {}

    store = EraStateStore(spark, state_path)
    summary = {r.status: r.era_count for r in store.status_summary("gnosis").collect()}
    assert summary == {"completed": 3}
    assert store.max_retries("gnosis", [1300])[1300] == 1

    # data landed partitioned by era; re-running one era with force replaces
    # exactly that partition (idempotent D3 overwrite), not duplicating rows.
    # per_era=True drives the serial (reference-shaped) path over the same
    # warehouse the batched default wrote — identical layout either way.
    blocks = spark.read.parquet(f"{out}/blocks")
    before = blocks.count()
    third = run_incremental(
        spark, era_dir, out, state_path, "gnosis", era_range="1301",
        tables=["blocks", "attestations"], force=True, per_era=True,
    )
    assert sorted(third) == [1301]
    assert spark.read.parquet(f"{out}/blocks").count() == before
    assert store.max_retries("gnosis", [1301])[1301] == 2


def test_per_era_failure_stops_at_failed_era(spark, era_dir, tmp_path_factory, monkeypatch):
    """D8 per-era status model: a commit failure in the second era, after
    the first era's partition landed, leaves the first completed, marks the
    second failed with the exception type, its message and traceback, gives
    the third no status row, removes both scratch dirs, and raises."""
    import era_parser_spark.sinks.writers as writers
    from era_parser_spark.state.era_state import EraStateStore
    from era_parser_spark.streaming.incremental import run_incremental

    out = str(tmp_path_factory.mktemp("warehouse_fail"))
    state_path = os.path.join(out, "_state")
    real_replace = writers.replace_partition
    calls = {"n": 0}

    def failing_replace(fs, part, files):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("disk full (simulated)")
        return real_replace(fs, part, files)

    monkeypatch.setattr(writers, "replace_partition", failing_replace)
    with pytest.raises(RuntimeError, match="disk full"):
        run_incremental(spark, era_dir, out, state_path, "gnosis",
                        tables=["blocks"], per_era=True)
    latest = {r.era_number: r for r in EraStateStore(spark, state_path).latest_state().collect()}
    assert sorted(latest) == [1300, 1301]
    assert latest[1300].status == "completed"
    assert latest[1301].status == "failed"
    assert "disk full" in latest[1301].error_message
    assert "RuntimeError" in latest[1301].error_message
    assert "Traceback" in latest[1301].error_message
    assert sorted(os.listdir(f"{out}/blocks")) == ["era_number=1300"]
    assert not os.path.exists(f"{out}/_staging_blocks")
    assert not os.path.exists(f"{out}/_staging_tables")


def test_sinks_shapes(spark, era_dir, tmp_path_factory):
    from era_parser_spark.operators.normalize import all_tables
    from era_parser_spark.sinks.writers import (
        export_json_document,
        write_csv,
        write_parquet,
        write_separate_datasets,
    )
    from era_parser_spark.sources.era import read_era_blocks

    out = str(tmp_path_factory.mktemp("sinks"))
    blocks = read_era_blocks(spark, era_dir, glob="*.era").cache()
    tables = all_tables(blocks, ["blocks", "attestations", "withdrawals"])

    # month-partitioned parquet + sidecar
    write_parquet(tables["blocks"], f"{out}/blocks_pq", metadata={"network": "gnosis"})
    back = spark.read.parquet(f"{out}/blocks_pq")
    assert back.count() == tables["blocks"].count()
    assert "month" in back.columns
    sidecar = json.load(open(f"{out}/blocks_pq/_era_metadata.json"))
    assert sidecar["network"] == "gnosis"

    # csv with header (struct-free tables round-trip through csv)
    write_csv(tables["withdrawals"], f"{out}/wd_csv")
    csv_back = spark.read.option("header", True).csv(f"{out}/wd_csv")
    assert int(csv_back.count()) == tables["withdrawals"].count()

    # single-document JSON export (reference A9 shape)
    doc = export_json_document(
        tables["attestations"].filter(F.col("slot") < 1300 * 8192 + 6),
        f"{out}/atts.json",
        era_info={"era_number": 1300, "network": "gnosis"},
        data_type="attestations",
    )
    loaded = json.load(open(f"{out}/atts.json"))
    assert set(loaded) == {"era_info", "data_type", "record_count", "export_timestamp", "data"}
    assert loaded["record_count"] == len(loaded["data"]) == doc["record_count"]

    # separate datasets + SUMMARY.txt
    counts = write_separate_datasets(tables, f"{out}/sep")
    summary = open(f"{out}/sep/SUMMARY.txt").read()
    for name, n in counts.items():
        assert f"{name},{n}" in summary


def test_streaming_window_and_gap_monitor(spark, era_dir, tmp_path_factory):
    from era_parser_spark.sources.era import read_era_blocks
    from era_parser_spark.streaming.incremental import (
        run_stream_once,
        slot_gap_monitor,
        stream_blocks,
        windowed_block_rate,
    )

    out = str(tmp_path_factory.mktemp("stream_src"))
    blocks = read_era_blocks(spark, era_dir, glob="*.era")
    full = blocks.select("network", "slot", "version", "timestamp_utc")
    full.write.mode("overwrite").parquet(f"{out}/blocks")

    stream = stream_blocks(spark, f"{out}/blocks", full.schema)
    rates = run_stream_once(windowed_block_rate(stream, "1 hour"), "rates", "complete")
    total_blocks = full.count()
    got = rates.agg(F.sum("blocks")).first()[0]
    assert got == total_blocks

    gaps = run_stream_once(slot_gap_monitor(stream_blocks(spark, f"{out}/blocks", full.schema)), "gaps")
    # generator skips every 9th slot -> gaps must be reported
    gap_rows = gaps.collect()
    assert len(gap_rows) > 0
    slots = sorted(r.slot for r in full.select("slot").collect())
    expected_missing = (max(slots) - min(slots) + 1) - len(slots)
    assert sum(r.missing for r in gap_rows) == expected_missing


def test_clean_failed_eras_roundtrip(spark, era_dir, tmp_path_factory):
    """fail -> clean (partitions dropped, state reset) -> reprocess green."""
    from era_parser_spark.state.era_state import EraStateStore
    from era_parser_spark.streaming.incremental import run_incremental

    out = str(tmp_path_factory.mktemp("warehouse_clean"))
    state_path = os.path.join(out, "_era_state")
    store = EraStateStore(spark, state_path)

    # complete 1300, then hand-mark 1301 failed with partial data on disk
    run_incremental(spark, era_dir, out, state_path, "gnosis",
                    era_range="1300", tables=["blocks"])
    run_incremental(spark, era_dir, out, state_path, "gnosis",
                    era_range="1301", tables=["blocks"])
    store.record_many([{"network": "gnosis", "era_number": 1301, "status": "failed",
                        "error_message": "simulated", "retry_count": 1}])
    assert [r.era_number for r in store.failed_eras("gnosis").collect()] == [1301]
    part = f"{out}/blocks/era_number=1301"
    assert os.path.isdir(part)

    cleaned = store.clean_failed("gnosis", out_base=out, datasets=["blocks"])
    assert cleaned == [1301]
    assert not os.path.exists(part)  # partial partition dropped
    assert os.path.isdir(f"{out}/blocks/era_number=1300")  # others untouched
    assert store.failed_eras("gnosis").count() == 0
    assert store.clean_failed("gnosis", out_base=out) == []  # idempotent

    # cleaned era is pending again and reprocesses successfully
    redo = run_incremental(spark, era_dir, out, state_path, "gnosis",
                           tables=["blocks"])
    assert sorted(redo) == [1301, 1302]
    assert os.path.isdir(part)
    latest = store.latest_state().filter(F.col("era_number") == 1301).first()
    assert latest.status == "completed"


def test_clean_failed_cli_and_compact(spark, era_dir, tmp_path_factory):
    from era_parser_spark.cli import main
    from era_parser_spark.state.era_state import EraStateStore

    out = str(tmp_path_factory.mktemp("warehouse_cli_clean"))
    state = os.path.join(out, "_state")
    store = EraStateStore(spark, state)
    # two appends, so compaction below has two files to merge
    store.record_many([{"network": "gnosis", "era_number": 7, "status": "failed",
                        "error_message": "boom", "retry_count": 2}])
    store.record_many([{"network": "gnosis", "era_number": 8, "status": "completed",
                        "total_records": 10}])
    assert main(["clean-failed-eras", "--state", state, "--output", out]) == 0
    assert store.failed_eras("gnosis").count() == 0
    assert store.latest_state().filter(F.col("status") == "completed").count() == 1

    # compaction: many tiny appended files -> one, same rows back
    n_before = store.log().count()
    files_before = len([f for f in os.listdir(state) if f.endswith(".parquet")])
    assert main(["compact-state", "--state", state]) == 0
    assert store.log().count() == n_before
    files_after = len([f for f in os.listdir(state) if f.endswith(".parquet")])
    assert files_after < files_before
    assert files_after == 1


class _CrashingFs:
    """A Hadoop FileSystem handle whose `method` raises: a driver that
    dies at that call."""

    def __init__(self, fs, method):
        self._fs, self._method = fs, method

    def __getattr__(self, name):
        if name == self._method:
            def crash(*args):
                raise RuntimeError(f"injected crash in {name}")

            return crash
        return getattr(self._fs, name)


@pytest.mark.parametrize("crash_in", ["rename", "delete"])
def test_compact_log_survives_crash(spark, tmp_path, monkeypatch, crash_in):
    """A crash before the compacted files land ("rename") or after they
    land but before the old files go ("delete") leaves latest_state and
    plan_pending unchanged, and the next compaction returns the original
    row count."""
    from era_parser_spark.state.era_state import EraStateStore

    store = EraStateStore(spark, str(tmp_path / "state"))
    store.record_many([{"network": "gnosis", "era_number": e, "status": "processing"}
                       for e in (1, 2, 3)])
    store.record_many([{"network": "gnosis", "era_number": e, "status": "completed",
                        "total_records": 5} for e in (1, 2)])
    store.record_many([{"network": "gnosis", "era_number": 3, "status": "failed",
                        "error_message": "boom", "retry_count": 1}])
    found = [(e, f"/eras/gnosis-{e:05d}-00000000.era") for e in (1, 2, 3, 4)]

    def snapshot():
        latest = sorted(
            (r.era_number, r.status, r.retry_count, r.insert_version)
            for r in store.latest_state().collect()
        )
        return latest, store.plan_pending(found, "gnosis")

    before = snapshot()
    assert before[1] == [(3, found[2][1], 1), (4, found[3][1], 0)]
    n = store.log().count()
    real = store._fs_and_path

    def crashing(p):
        fs, hp, jvm = real(p)
        return _CrashingFs(fs, crash_in), hp, jvm

    with monkeypatch.context() as m:
        m.setattr(store, "_fs_and_path", crashing)
        with pytest.raises(RuntimeError, match="injected crash"):
            store.compact_log()
    assert snapshot() == before
    # old and compacted files side by side, or the old files alone
    assert store.log().count() == (2 * n if crash_in == "delete" else n)
    assert store.compact_log() == n
    assert snapshot() == before
    assert store.log().count() == n


def test_record_many_batches_one_file(spark, tmp_path_factory):
    from era_parser_spark.state.era_state import EraStateStore

    state = str(tmp_path_factory.mktemp("state_batch") / "log")
    store = EraStateStore(spark, state)
    store.record_many(
        [{"network": "gnosis", "era_number": e, "status": "processing",
          "retry_count": 1} for e in range(50)]
    )
    # one append -> one parquet file for 50 transitions
    assert len([f for f in os.listdir(state) if f.endswith(".parquet")]) == 1
    assert store.log().count() == 50
    # insert_version strictly increasing -> argmax dedup deterministic
    versions = [r.insert_version for r in
                store.log().orderBy("era_number").collect()]
    assert versions == sorted(versions) and len(set(versions)) == 50
    assert store.max_retries("gnosis", [0, 1, 999]) == {0: 1, 1: 1, 999: 0}


def test_state_lock_mutual_exclusion(spark, tmp_path_factory):
    """Best-effort multi-driver guard: second acquire fails with holder info,
    release frees, a stale lock is broken, exclusive() releases on error."""
    import time

    import pytest

    from era_parser_spark.state.era_state import EraStateStore, StateLockHeld

    state = str(tmp_path_factory.mktemp("state_lock") / "log")
    a = EraStateStore(spark, state)
    b = EraStateStore(spark, state)

    a.acquire_lock(owner="driver-a")
    with pytest.raises(StateLockHeld, match="driver-a"):
        b.acquire_lock(owner="driver-b")
    a.release_lock()
    b.acquire_lock(owner="driver-b")  # freed -> acquirable

    # stale break: pretend driver-b died an hour ago
    time.sleep(0.05)
    a.acquire_lock(owner="driver-a2", stale_after_s=0.01)
    a.release_lock()

    # context manager releases even when the batch raises
    with pytest.raises(ValueError):
        with a.exclusive(owner="driver-a3"):
            raise ValueError("batch blew up")
    b.acquire_lock(owner="driver-b2")
    b.release_lock()


def test_session_monitor_state_across_microbatches(spark, tmp_path_factory):
    """The sessionizer's per-user state must survive micro-batch boundaries:
    a session spanning two batches re-emits under the SAME session_seq with
    updated stats (last-write-wins), and a cross-batch gap closes the old
    session and opens seq+1 — behavior no single-batch oracle can check."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from era_parser_spark.streaming.incremental import run_stream_once, session_monitor

    src = tmp_path_factory.mktemp("st_sess_src")
    us = lambda h, m: (h * 3600 + m * 60) * 1_000_000
    # file order == micro-batch order (maxFilesPerTrigger=1, names sorted)
    spark.createDataFrame(
        [(1, 100, us(10, 0)), (2, 200, us(10, 0))],
        "user_id long, event_id long, ts_us long",
    ).coalesce(1).write.parquet(str(src / "a_batch1"))
    spark.createDataFrame(
        [(1, 101, us(10, 10)), (2, 201, us(11, 0))],
        "user_id long, event_id long, ts_us long",
    ).coalesce(1).write.parquet(str(src / "b_batch2"))

    stream = (
        spark.readStream.schema("user_id long, event_id long, ts_us long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = run_stream_once(session_monitor(stream), f"sess_{_uuid.uuid4().hex[:8]}")
    # last-write-wins per (user, session): max n_events carries the final state
    final = {
        (r.user_id, r.session_seq): (r.n_events, r.start_us, r.end_us)
        for r in out.groupBy("user_id", "session_seq")
        .agg(
            F.max("n_events").alias("n_events"),
            F.min("start_us").alias("start_us"),
            F.max("end_us").alias("end_us"),
        )
        .collect()
    }
    assert final[(1, 1)] == (2, us(10, 0), us(10, 10))  # continued across batches
    assert final[(2, 1)] == (1, us(10, 0), us(10, 0))   # closed by the gap
    assert final[(2, 2)] == (1, us(11, 0), us(11, 0))   # new session after gap
    assert (1, 2) not in final


def test_compact_dataset_merges_small_files(spark, tmp_path_factory):
    """Many tiny per-batch files per era partition collapse to a few sized
    files; rows and partition values survive; compact partitions untouched."""
    import glob as _g

    from pyspark.sql import functions as F

    from era_parser_spark.sinks.writers import compact_dataset

    out = str(tmp_path_factory.mktemp("compact_ds") / "blocks")
    # 6 append batches -> 6 files in each of two era partitions
    for i in range(6):
        spark.createDataFrame(
            [(1300, i * 10 + j, "x" * 50) for j in range(10)]
            + [(1301, 1000 + i * 10 + j, "y" * 50) for j in range(10)],
            "era_number long, slot long, payload string",
        ).coalesce(1).write.mode("append").partitionBy("era_number").parquet(out)
    # one already-compact partition (single file, below min_files_to_compact)
    spark.createDataFrame(
        [(1399, 5, "z")], "era_number long, slot long, payload string"
    ).coalesce(1).write.mode("append").partitionBy("era_number").parquet(out)

    before = spark.read.parquet(out)
    rows_before = sorted((r.era_number, r.slot) for r in before.collect())
    files_1399 = set(_g.glob(f"{out}/era_number=1399/*.parquet"))

    done = compact_dataset(spark, out, target_file_bytes=1 << 30)
    assert set(done) == {"1300", "1301"} and all(v >= 6 for v in done.values())

    after = spark.read.parquet(out)
    assert sorted((r.era_number, r.slot) for r in after.collect()) == rows_before
    for era in (1300, 1301):
        files = _g.glob(f"{out}/era_number={era}/*.parquet")
        assert 1 <= len(files) <= 2
    assert set(_g.glob(f"{out}/era_number=1399/*.parquet")) == files_1399
    # idempotent: nothing left to compact
    assert compact_dataset(spark, out) == {}


def test_compact_dataset_sizes_files_per_partition(spark, tmp_path_factory):
    """With many partitions and a small target, each partition ends up with
    ceil(partition_bytes/target) files — NOT the global ceil(total/target)
    (the round-robin-before-partitionBy bug: every output task touches every
    partition, multiplying files).  Also: a session set to static overwrite
    stays static (the rewrite overwrites dynamically by writer option)."""
    import glob as _g
    import math
    import os

    from era_parser_spark.sinks.writers import compact_dataset

    out = str(tmp_path_factory.mktemp("compact_sz") / "events")
    rng_payloads = ["".join(chr(97 + (i * 7 + k) % 26) for k in range(400)) for i in range(60)]
    for i in range(6):  # 6 append batches x 8 partitions
        spark.createDataFrame(
            [
                (era, i * 10 + j, rng_payloads[(era * 6 + i + j) % 60])
                for era in range(8)
                for j in range(10)
            ],
            "era long, seq long, payload string",
        ).coalesce(1).write.mode("append").partitionBy("era").parquet(out)

    part_bytes = {
        era: sum(os.path.getsize(f) for f in _g.glob(f"{out}/era={era}/*.parquet"))
        for era in range(8)
    }
    rows_before = sorted(
        (r.era, r.seq) for r in spark.read.parquet(out).collect()
    )
    # target = half the biggest partition -> each partition needs 1-2 buckets,
    # while the buggy global n_out would be sum(bytes)/target ~ 14-16.
    target = max(part_bytes.values()) // 2 + 1
    expected = {era: max(1, math.ceil(b / target)) for era, b in part_bytes.items()}
    assert sum(expected.values()) >= 8  # the global count the bug would smear

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    done = compact_dataset(spark, out, target_file_bytes=target)
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "static"
    assert set(done) == {str(e) for e in range(8)}

    for era in range(8):
        files = _g.glob(f"{out}/era={era}/*.parquet")
        assert 1 <= len(files) <= expected[era], (
            f"era={era}: {len(files)} files, expected <= {expected[era]}"
        )
    after = sorted((r.era, r.seq) for r in spark.read.parquet(out).collect())
    assert after == rows_before


def test_digest_dedup_state_across_microbatches(spark, tmp_path_factory):
    """st4's per-digest state must survive micro-batch boundaries: a
    duplicate arriving in a LATER batch folds into the first batch's
    keeper — and the keeper is FIRST-SEEN (a later, smaller id cannot
    retroactively win, because the first survivor was already emitted
    downstream).  Behavior no single-batch oracle can check."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from era_parser_spark.streaming.incremental import (
        digest_dedup_monitor,
        run_stream_once,
    )

    src = tmp_path_factory.mktemp("st_dedup_src")
    # file order == micro-batch order (maxFilesPerTrigger=1, names sorted)
    spark.createDataFrame(
        [(10, "aaa"), (11, "bbb"), (12, "aaa")], "doc_id long, digest string"
    ).coalesce(1).write.parquet(str(src / "a_batch1"))
    spark.createDataFrame(
        [(5, "aaa"), (13, "ccc")], "doc_id long, digest string"
    ).coalesce(1).write.parquet(str(src / "b_batch2"))

    stream = (
        spark.readStream.schema("doc_id long, digest string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = run_stream_once(digest_dedup_monitor(stream), f"dd_{_uuid.uuid4().hex[:8]}")
    # last-write-wins per digest: max n_copies carries the final state
    final = {
        r.digest: (r.doc_id, r.n_copies)
        for r in out.groupBy("digest", "doc_id")
        .agg(F.max("n_copies").alias("n_copies"))
        .collect()
    }
    assert final["aaa"] == (10, 3)  # batch-2 dup folded in; keeper unchanged
    assert final["bbb"] == (11, 1)
    assert final["ccc"] == (13, 1)


def test_kmv_state_across_microbatches(spark, tmp_path_factory):
    """st5's KMV state must merge across micro-batch boundaries: splitting
    the same values over two batches (with overlap) yields the identical
    sketch a single batch would — union-then-truncate is order-free —
    and duplicates arriving later never inflate n_tracked."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from era_parser_spark.streaming.incremental import kmv_monitor, run_stream_once

    src = tmp_path_factory.mktemp("st_kmv_src")
    rows1 = [("g", i) for i in range(40)]
    rows2 = [("g", i) for i in range(20, 60)]  # overlaps batch 1
    spark.createDataFrame(rows1, "grp string, v long").coalesce(1).write.parquet(
        str(src / "a_batch1")
    )
    spark.createDataFrame(rows2, "grp string, v long").coalesce(1).write.parquet(
        str(src / "b_batch2")
    )
    h = (
        F.conv(F.substring(F.md5(F.col("v").cast("string").cast("binary")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("h")
    )
    stream = (
        spark.readStream.schema("grp string, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
        .select("grp", h)
    )
    out = run_stream_once(kmv_monitor(stream, k=32), f"kmv_{_uuid.uuid4().hex[:8]}")
    rows = out.orderBy("seq").collect()
    assert [r.seq for r in rows] == [1, 2]
    final = rows[-1]
    # single-batch reference over the union 0..59 (60 distinct values)
    ref = (
        spark.createDataFrame([("g", i) for i in range(60)], "grp string, v long")
        .select("grp", h)
        .groupBy("grp")
        .agg(F.slice(F.array_sort(F.collect_set("h")), 1, 32).alias("ks"))
        .select(F.element_at("ks", 32).alias("kth"), F.size("ks").alias("m"))
        .first()
    )
    assert final.n_tracked == 32 == ref.m
    assert final.kth_min == ref.kth
    assert final.est_distinct == float(31 * (1 << 60)) / float(ref.kth)


def test_topk_state_across_microbatches(spark, tmp_path_factory):
    """st6's top-k state must fold across micro-batch boundaries: a later
    batch displaces carried rows exactly as a single-batch run would, and
    the final snapshot (max seq) equals the all-data top-k."""
    import uuid as _uuid

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from era_parser_spark.streaming.incremental import run_stream_once, topk_monitor

    src = tmp_path_factory.mktemp("st_topk_src")
    # batch1: mediocre scores; batch2 displaces all but one of them
    b1 = [(0, 1, 0.30), (0, 2, 0.20), (0, 3, 0.10), (1, 4, 0.90)]
    b2 = [(0, 5, 0.80), (0, 6, 0.70), (1, 7, 0.10)]
    schema = "grp long, vec_id long, score double"
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "a_b1"))
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "b_b2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = run_stream_once(topk_monitor(stream, k=3), f"tk_{_uuid.uuid4().hex[:8]}")
    mx = F.max("seq").over(W.partitionBy("grp"))
    final = (
        out.withColumn("__mx", mx)
        .filter(F.col("seq") == F.col("__mx"))
        .select("grp", "rank", "vec_id", "cosine_sim")
        .collect()
    )
    got = sorted((r["grp"], r["rank"], r["vec_id"], r["cosine_sim"]) for r in final)
    assert got == [
        (0, 1, 5, 0.80), (0, 2, 6, 0.70), (0, 3, 1, 0.30),
        (1, 1, 4, 0.90), (1, 2, 7, 0.10),
    ]
    # both groups saw two state updates (state genuinely crossed batches)
    assert {r["seq"] for r in out.select("seq").collect()} == {1, 2}


def test_countmin_stream_state_across_microbatches(spark, tmp_path_factory):
    """st7's sketch is a native streaming aggregation — splitting the same
    values over two micro-batches must yield exactly the single-batch
    sketch (cell counts are commutative/associative), pinning the
    mergeability claim through the streaming engine itself."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from era_parser_spark.operators.sketch import countmin_sketch, countmin_cells_expr
    from era_parser_spark.streaming.incremental import run_stream_once

    src = tmp_path_factory.mktemp("st_cm_src")
    rows1 = [(f"u{i % 5}",) for i in range(40)]
    rows2 = [(f"u{i % 7}",) for i in range(30)]
    spark.createDataFrame(rows1, "v string").coalesce(1).write.parquet(str(src / "a1"))
    spark.createDataFrame(rows2, "v string").coalesce(1).write.parquet(str(src / "b2"))
    stream = (
        spark.readStream.schema("v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
        .filter(F.col("v").isNotNull())
        .select(F.explode(countmin_cells_expr("v", 4, 64)).alias("c"))
        .groupBy(F.col("c.row").alias("row"), F.col("c.col").alias("col"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    got = {
        (r["row"], r["col"]): r["cnt"]
        for r in run_stream_once(
            stream, f"cm_{_uuid.uuid4().hex[:8]}", output_mode="complete"
        ).collect()
    }
    ref = {
        (r["row"], r["col"]): r["cnt"]
        for r in countmin_sketch(
            spark.createDataFrame(rows1 + rows2, "v string"), "v"
        ).collect()
    }
    assert got == ref and len(got) > 0


def test_attribution_join_state_across_microbatches(spark, tmp_path_factory):
    """st8's stream-stream join must hold view rows in join state across
    micro-batch boundaries: purchases arriving in a LATER batch join views
    from an earlier one, and the event-time range condition still filters.
    """
    import uuid as _uuid
    from datetime import datetime, timedelta

    from era_parser_spark.streaming.incremental import attribution_join, run_stream_once

    src = tmp_path_factory.mktemp("st8_src")
    t0 = datetime(2024, 1, 1, 12, 0, 0)

    def ts(mins):
        return t0 + timedelta(minutes=mins)

    # batch1: two views (user 1 and 2); batch2: three purchases —
    # one in-range for user 1 (+30 min), one out-of-range for user 2
    # (+90 min > 1h window), one for an unseen user 3
    v_schema = "view_id long, v_user long, v_ts timestamp"
    p_schema = "purchase_id long, p_user long, p_ts timestamp, purchase_value double"
    b1 = [(100, 1, ts(0)), (101, 2, ts(5))]
    b2 = [(200, 1, ts(30), 9.5), (201, 2, ts(95), 1.0), (202, 3, ts(10), 2.0)]
    spark.createDataFrame(b1, v_schema).coalesce(1).write.parquet(str(src / "a_views"))
    spark.createDataFrame(b2, p_schema).coalesce(1).write.parquet(str(src / "b_purch"))

    views = (
        spark.readStream.schema(v_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/a_views")
    )
    purchases = (
        spark.readStream.schema(p_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b_purch")
    )
    out = run_stream_once(
        attribution_join(views, purchases, window="1 hour"),
        f"st8t_{_uuid.uuid4().hex[:8]}",
    )
    got = sorted(
        (r["view_id"], r["purchase_id"], r["user_id"], r["lag_us"], r["purchase_value"])
        for r in out.collect()
    )
    assert got == [(100, 200, 1, 30 * 60 * 1_000_000, 9.5)]


@pytest.fixture(scope="module")
def chaos_era_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("eras_chaos")
    for era in (1400, 1401):
        write_synthetic_era(str(d / era_filename("gnosis", era)), era, "gnosis", blocks=12)
    return str(d)


def test_mid_write_kill_recovery_per_era(spark, chaos_era_dir, tmp_path_factory, monkeypatch):
    """Chaos pin (round-7 verdict item 6): a hard kill mid-commit — the
    first partition of the era (its attestations) lands, the process dies
    before its blocks partition and before any failed-status record can be
    written (BaseException, so process_eras_batch's except-Exception never
    runs) — leaves the era 'processing' and half written.  The restarted
    run must re-process exactly that era, the partition swap must replace
    what landed (no duplicate and no missing rows), and log compaction
    must preserve the recovered state."""
    import era_parser_spark.sinks.writers as writers
    from era_parser_spark.state.era_state import EraStateStore
    from era_parser_spark.streaming.incremental import run_incremental

    out = str(tmp_path_factory.mktemp("warehouse_chaos"))
    state_path = os.path.join(out, "_era_state")
    tables = ["attestations", "blocks"]
    real_replace = writers.replace_partition
    calls = {"n": 0}

    def killing_replace(fs, part, files):
        calls["n"] += 1
        real_replace(fs, part, files)  # the partition really lands
        if calls["n"] == 1:
            raise KeyboardInterrupt("simulated mid-commit kill")

    monkeypatch.setattr(writers, "replace_partition", killing_replace)
    with pytest.raises(KeyboardInterrupt):
        run_incremental(spark, chaos_era_dir, out, state_path, "gnosis",
                        tables=tables, per_era=True)

    store = EraStateStore(spark, state_path)
    latest = store.latest_state().filter(F.col("era_number") == 1400).first()
    assert latest.status == "processing"  # kill == no failed record
    landed = spark.read.parquet(f"{out}/attestations").count()
    assert landed > 0 and not os.path.exists(f"{out}/blocks")  # the partial era
    assert not os.path.exists(f"{out}/_staging_blocks")
    assert not os.path.exists(f"{out}/_staging_tables")

    # restart: both eras pend (processing is not completed), each processed
    # exactly once, and the landed partition is REPLACED, not appended to
    second = run_incremental(spark, chaos_era_dir, out, state_path, "gnosis",
                             tables=tables, per_era=True)
    assert sorted(second) == [1400, 1401]
    assert second[1400]["attestations"] == landed
    for t, key in (("blocks", ["slot"]), ("attestations", ["slot", "attestation_index"])):
        df = spark.read.parquet(f"{out}/{t}")
        per_era = {r.era_number: r.cnt for r in df.groupBy("era_number")
                   .agg(F.count(F.lit(1)).alias("cnt")).collect()}
        assert per_era == {1400: second[1400][t], 1401: second[1401][t]}, t
        assert df.select(*key).distinct().count() == df.count(), t
    assert store.max_retries("gnosis", [1400])[1400] == 2  # killed attempt counted

    # third run: a no-op; then the log compacts without changing state
    assert run_incremental(spark, chaos_era_dir, out, state_path, "gnosis",
                           tables=tables, per_era=True) == {}
    before = sorted(
        (r.era_number, r.status) for r in store.latest_state().collect()
    )
    store.compact_log()
    after_store = EraStateStore(spark, state_path)
    assert sorted(
        (r.era_number, r.status) for r in after_store.latest_state().collect()
    ) == before == [(1400, "completed"), (1401, "completed")]


def test_mid_write_kill_recovery_batched(spark, chaos_era_dir, tmp_path_factory, monkeypatch):
    """Same chaos on the batched (100 TB-shaped) path: the kill lands the
    first era's partition of the batch and not the second; the whole batch
    stays 'processing', both scratch dirs are gone, and the restarted batch
    rewrites every touched partition exactly."""
    import era_parser_spark.sinks.writers as writers

    from era_parser_spark.state.era_state import EraStateStore
    from era_parser_spark.streaming.incremental import run_incremental

    out = str(tmp_path_factory.mktemp("warehouse_chaos_b"))
    state_path = os.path.join(out, "_era_state")
    real_replace = writers.replace_partition
    calls = {"n": 0}

    def killing_replace(fs, part, files):
        calls["n"] += 1
        real_replace(fs, part, files)
        if calls["n"] == 1:
            raise KeyboardInterrupt("simulated mid-commit kill")

    monkeypatch.setattr(writers, "replace_partition", killing_replace)
    with pytest.raises(KeyboardInterrupt):
        run_incremental(spark, chaos_era_dir, out, state_path, "gnosis",
                        tables=["blocks"])

    store = EraStateStore(spark, state_path)
    statuses = {r.era_number: r.status for r in store.latest_state().collect()}
    assert statuses == {1400: "processing", 1401: "processing"}
    assert sorted(os.listdir(f"{out}/blocks")) == ["era_number=1400"]
    landed = spark.read.parquet(f"{out}/blocks").count()
    # scratch must not leak past the failed batch (finally-cleanup)
    assert not os.path.exists(f"{out}/_staging_blocks")
    assert not os.path.exists(f"{out}/_staging_tables")

    second = run_incremental(spark, chaos_era_dir, out, state_path, "gnosis",
                             tables=["blocks"])
    assert sorted(second) == [1400, 1401]
    assert second[1400]["blocks"] == landed
    blocks = spark.read.parquet(f"{out}/blocks")
    total = second[1400]["blocks"] + second[1401]["blocks"]
    assert blocks.count() == total > landed  # the missing partition landed
    assert blocks.select("slot").distinct().count() == total
    assert {r.era_number: r.status for r in store.latest_state().collect()} == {
        1400: "completed", 1401: "completed"
    }


def test_commit_moves_only_manifest_files(spark, chaos_era_dir, tmp_path_factory, monkeypatch):
    """A file in the scratch dir that no manifest row lists — a failed task
    attempt's output — never reaches the warehouse: each partition holds
    exactly the files the tasks reported."""
    import shutil

    import era_parser_spark.sinks.writers as writers
    from era_parser_spark.streaming.incremental import run_incremental

    out = str(tmp_path_factory.mktemp("warehouse_stray"))
    real_write = writers.write_era_tables
    listed = []

    def write_with_stray(frame, names, fs, scratch):
        manifest = real_write(frame, names, fs, scratch)
        listed.extend(os.path.basename(r.file) for r in manifest)
        for r in manifest:
            shutil.copy(r.file, os.path.join(os.path.dirname(r.file), "stray-attempt.parquet"))
        return manifest

    monkeypatch.setattr(writers, "write_era_tables", write_with_stray)
    result = run_incremental(spark, chaos_era_dir, out, f"{out}_state", "gnosis",
                             tables=["blocks"])
    files = sorted(
        name for d in os.listdir(f"{out}/blocks") for name in os.listdir(f"{out}/blocks/{d}")
    )
    assert files == sorted(listed) and len(files) >= 2
    assert spark.read.parquet(f"{out}/blocks").count() == sum(
        c["blocks"] for c in result.values()
    )
    assert not os.path.exists(f"{out}/_staging_tables")


def test_unopenable_warehouse_scheme_raises_before_processing(spark, chaos_era_dir, tmp_path):
    """The warehouse filesystem is resolved before the batch records
    'processing': an out_base pyarrow cannot open fails the run and
    leaves no state row."""
    from era_parser_spark.state.era_state import EraStateStore
    from era_parser_spark.streaming.incremental import run_incremental

    state = str(tmp_path / "state")
    with pytest.raises(Exception, match="nosuch"):
        run_incremental(spark, chaos_era_dir, "nosuch://bucket/wh", state, "gnosis",
                        tables=["blocks"])
    assert EraStateStore(spark, state).latest_state().collect() == []


# --- bookkeeping jobs of the batched run -------------------------------------


@contextlib.contextmanager
def _job_group(spark, name):
    """Tag every Spark job the block submits with job group `name`."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)


def _job_ids(spark, name) -> list[int]:
    # drain the listener bus so the status tracker has seen every job
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(name))


def _run_counting_jobs(spark, era_dir, out, state, tables=None, per_era=False):
    """run_incremental's result and the ids of every Spark job it ran."""
    from era_parser_spark.streaming.incremental import run_incremental

    run = f"run_{uuid.uuid4().hex}"
    with _job_group(spark, run):
        result = run_incremental(spark, era_dir, out, state, "gnosis", tables=tables,
                                 per_era=per_era)
    return result, _job_ids(spark, run)


def test_batched_run_job_counts(spark, chaos_era_dir, tmp_path_factory):
    """Job-count pin for the batched run.  A fresh run over 2 eras runs the
    same four jobs for all 15 tables as for one — the staging write, the
    one fan-out write of every table, two state appends — and no state
    read (the state path does not exist yet); a resume over the completed
    state runs one job, the state read.  A per-era run is the same batch
    once per era: 4 jobs each."""
    from era_parser_spark.operators.normalize import TABLES

    base = tmp_path_factory.mktemp("jobs_pin")
    one, one_run = _run_counting_jobs(
        spark, chaos_era_dir, str(base / "one"), str(base / "one_state"), tables=["blocks"],
    )
    out, state = str(base / "all"), str(base / "all_state")
    fresh, run_jobs = _run_counting_jobs(spark, chaos_era_dir, out, state)
    assert sorted(fresh) == sorted(one) == [1400, 1401]
    assert fresh[1400]["blocks"] == one[1400]["blocks"]
    assert set(fresh[1400]) == set(TABLES)
    nonempty = [t for t in TABLES if fresh[1400][t] + fresh[1401][t] > 0]
    assert sorted(os.listdir(out)) == sorted(nonempty)
    # staging write + fan-out write + 2 appends
    assert len(run_jobs) == len(one_run) == 4

    again, resume_jobs = _run_counting_jobs(spark, chaos_era_dir, out, state)
    assert again == {}
    assert len(resume_jobs) == 1

    out, state = str(base / "per_era"), str(base / "per_era_state")
    serial, serial_jobs = _run_counting_jobs(spark, chaos_era_dir, out, state, per_era=True)
    assert serial == fresh
    assert len(serial_jobs) == 8
    again, resume_jobs = _run_counting_jobs(spark, chaos_era_dir, out, state, per_era=True)
    assert again == {}
    assert len(resume_jobs) == 1


def test_repeat_pass_compiles_no_new_classes(spark, chaos_era_dir, tmp_path_factory):
    """Codegen-cache pin.  A pass is the product loop: run_incremental into
    a fresh warehouse and state path, then the beacon queries over what it
    wrote (~165 generated classes here).  A second identical pass must find
    every class in the session's cache; with Spark's default 100 entries it
    recompiled ~160 of them.  A failure here after adding operators means
    the per-pass class set grew past CODEGEN_CACHE_MAX_ENTRIES: raise the
    constant."""
    from era_parser_spark.operators.beacon_analytics import BEACON_QUERIES
    from era_parser_spark.session import CODEGEN_CACHE_MAX_ENTRIES
    from era_parser_spark.streaming.incremental import run_incremental

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    base = tmp_path_factory.mktemp("codegen_pin")

    def one_pass(tag):
        out = str(base / tag)
        result = run_incremental(spark, chaos_era_dir, out, f"{out}_state", "gnosis")
        answers = {
            q: sorted(fn(*[spark.read.parquet(f"{out}/{t}") for t in tables]).collect())
            for q, (fn, tables) in BEACON_QUERIES.items()
            if all(os.path.isdir(f"{out}/{t}") for t in tables)
        }
        return result, answers

    first = one_pass("a")
    before = compiles.getCount()
    second = one_pass("b")
    recompiled = compiles.getCount() - before
    assert second == first
    assert sorted(second[0]) == [1400, 1401] and len(second[1]) >= 5
    assert recompiled <= 5, f"{recompiled} classes recompiled on a repeat pass"
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_MAX_ENTRIES
    )


def test_ingest_leaves_partition_overwrite_mode_alone(
    spark, chaos_era_dir, tmp_path_factory
):
    """The era writes replace partitions without touching the session
    conf: after an ingest a session set to static still reads static, and
    a one-era re-run keeps the other era's partition."""
    from era_parser_spark.streaming.incremental import run_incremental

    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        base = tmp_path_factory.mktemp("overwrite_mode")
        out, state = str(base / "wh"), str(base / "state")
        first = run_incremental(spark, chaos_era_dir, out, state, "gnosis",
                                tables=["blocks"])
        assert spark.conf.get(key) == "static"
        again = run_incremental(spark, chaos_era_dir, out, state, "gnosis",
                                era_range="1401", tables=["blocks"], force=True)
        assert sorted(again) == [1401]
        assert spark.conf.get(key) == "static"
        per_era = {
            r.era_number: r.cnt
            for r in spark.read.parquet(f"{out}/blocks").groupBy("era_number")
            .agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        assert per_era == {e: first[e]["blocks"] for e in (1400, 1401)}
    finally:
        spark.conf.set(key, prev)


def test_plan_on_missing_state_path_runs_no_job(spark, tmp_path):
    from era_parser_spark.state.era_state import STATE_SCHEMA, EraStateStore

    store = EraStateStore(spark, str(tmp_path / "never_written"))
    group = f"plan_{uuid.uuid4().hex}"
    found = [(7, "b.era"), (3, "a.era")]
    with _job_group(spark, group):
        planned = store.plan_pending(found, "gnosis")
        assert store.max_retries("gnosis", [3, 7]) == {3: 0, 7: 0}
    assert planned == [(3, "a.era", 0), (7, "b.era", 0)]
    assert _job_ids(spark, group) == []
    assert store.log().schema == STATE_SCHEMA


def test_unreadable_state_path_raises(spark, era_dir, tmp_path):
    """A state path that cannot be listed must fail the run, not read as an
    empty log: "nothing completed" would reprocess the whole archive."""
    from py4j.protocol import Py4JJavaError

    from era_parser_spark.state.era_state import EraStateStore
    from era_parser_spark.streaming.incremental import run_incremental

    state = "nosuchfs://bucket/_era_state"
    with pytest.raises(Py4JJavaError, match="nosuchfs"):
        EraStateStore(spark, state).log()
    out = str(tmp_path / "wh")
    with pytest.raises(Py4JJavaError, match="nosuchfs"):
        run_incremental(spark, era_dir, out, state, "gnosis", tables=["blocks"])
    assert not os.path.exists(out)  # nothing was planned, decoded or written
