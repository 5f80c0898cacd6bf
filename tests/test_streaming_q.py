"""Streaming registry entries (queries/streaming_q.py): every entry reads
its table through the one stream source, which applies the registry's
nanosecond-timestamp rule itself instead of relying on an earlier batch
read in the session to have set the conf."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from tests.conftest import SF_SMALL

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def test_stream_entries_read_nanosecond_events(spark, tmp_path):
    """st2 (reads no timestamp) and st10 (watermarks on `ts`) over a copy
    of `events` whose `ts` is TIMESTAMP(NANOS), each run first in a session
    with the nanos conf unset, return the rows they return over the µs
    table."""
    from era_parser_spark.queries.registry import QUERIES, load_all

    load_all()
    events = pq.read_table(f"{SF_SMALL}/events.parquet")
    ts = events.schema.get_field_index("ts")
    ns_dir = tmp_path / "ns"
    ns_dir.mkdir()
    pq.write_table(
        events.set_column(ts, "ts", events["ts"].cast(pa.timestamp("ns"))),
        ns_dir / "events.parquet",
    )
    assert pq.read_schema(ns_dir / "events.parquet").field("ts").type == pa.timestamp("ns")

    prior = spark.conf.get(NANOS_AS_LONG)
    try:
        for name in ("st2_stateful_gap_monitor", "st10_stream_watermark_dedup"):
            spark.conf.unset(NANOS_AS_LONG)
            got = sorted(map(tuple, QUERIES[name](spark, str(ns_dir)).collect()))
            want = sorted(map(tuple, QUERIES[name](spark, SF_SMALL).collect()))
            assert got == want and want, name
    finally:
        spark.conf.set(NANOS_AS_LONG, prior)
