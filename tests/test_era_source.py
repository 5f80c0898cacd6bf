"""Era source + normalizer tests: synthetic era files -> Spark pipeline,
verified against the generator's own documents (the ground truth) and via
DuckDB SQL over the written parquet (the oracle pattern from SURVEY §5).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from era_parser_spark.config.networks import slot_timestamp
from era_parser_spark.testing.era_gen import era_filename, write_synthetic_era

# gnosis eras per fork (epoch boundaries / 16 slots-per-epoch / 8192 per era)
ERA_FORKS = {0: "phase0", 1: "altair", 800: "bellatrix", 1300: "capella", 1800: "deneb", 2700: "electra"}


@pytest.fixture(scope="module")
def era_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("eras")
    docs = {}
    for era in ERA_FORKS:
        docs[era] = write_synthetic_era(
            str(d / era_filename("gnosis", era)), era, "gnosis", blocks=24
        )
    return str(d), docs


@pytest.fixture(scope="module")
def blocks_df(spark, era_dir):
    from era_parser_spark.sources.era import read_era_blocks

    d, _ = era_dir
    return read_era_blocks(spark, d, glob="*.era").cache()


def test_block_counts_and_versions(blocks_df, era_dir):
    _, docs = era_dir
    got = {
        r.era_number: (r.cnt, r.version)
        for r in blocks_df.groupBy("era_number")
        .agg(F.count(F.lit(1)).alias("cnt"), F.first("version").alias("version"))
        .collect()
    }
    for era, fork in ERA_FORKS.items():
        assert got[era] == (len(docs[era]), fork)


def test_header_fields_match_generator(blocks_df, era_dir):
    _, docs = era_dir
    rows = {r.slot: r for r in blocks_df.collect()}
    for era, dlist in docs.items():
        for doc in dlist:
            msg = doc["message"]
            r = rows[msg["slot"]]
            assert r.proposer_index == msg["proposer_index"]
            assert r.parent_root == msg["parent_root"]
            assert r.state_root == msg["state_root"]
            assert r.signature == doc["signature"]
            assert r.network == "gnosis"


def test_timestamps(blocks_df):
    for r in blocks_df.select("slot", "timestamp_utc").collect():
        expected = slot_timestamp(r.slot, "gnosis")
        assert int(r.timestamp_utc.timestamp()) == expected


def test_normalized_counts_match_docs(blocks_df, era_dir):
    from era_parser_spark.operators.normalize import all_tables

    _, docs = era_dir
    alldocs = [d for lst in docs.values() for d in lst]
    tables = all_tables(blocks_df)

    def total(key, sub=None):
        n = 0
        for d in alldocs:
            v = d["message"]["body"].get(key)
            if sub is not None:
                v = (v or {}).get(sub)
            n += len(v) if v else 0
        return n

    assert tables["blocks"].count() == len(alldocs)
    assert tables["attestations"].count() == total("attestations")
    assert tables["deposits"].count() == total("deposits")
    assert tables["voluntary_exits"].count() == total("voluntary_exits")
    assert tables["proposer_slashings"].count() == total("proposer_slashings")
    assert tables["attester_slashings"].count() == total("attester_slashings")
    assert tables["bls_changes"].count() == total("bls_to_execution_changes")
    assert tables["blob_commitments"].count() == total("blob_kzg_commitments")
    assert tables["deposit_requests"].count() == total("execution_requests", "deposits")
    assert tables["withdrawal_requests"].count() == total("execution_requests", "withdrawals")
    assert tables["consolidation_requests"].count() == total("execution_requests", "consolidations")
    n_payload_blocks = sum(1 for d in alldocs if "execution_payload" in d["message"]["body"])
    assert tables["execution_payloads"].count() == n_payload_blocks
    assert tables["sync_aggregates"].count() == sum(
        1 for d in alldocs if "sync_aggregate" in d["message"]["body"]
    )
    ntx = sum(
        len(d["message"]["body"].get("execution_payload", {}).get("transactions", []))
        for d in alldocs
    )
    assert tables["transactions"].count() == ntx


ALL_TABLES = [
    "blocks",
    "sync_aggregates",
    "execution_payloads",
    "transactions",
    "withdrawals",
    "attestations",
    "deposits",
    "voluntary_exits",
    "proposer_slashings",
    "attester_slashings",
    "bls_changes",
    "blob_commitments",
    "deposit_requests",
    "withdrawal_requests",
    "consolidation_requests",
]


def test_rows_per_block_matches_builders(spark, blocks_df, tmp_path):
    """Differential pin for run_incremental's one count aggregate: per era,
    summing TABLES[t].rows_per_block() over the blocks frame equals the
    built table's groupBy(era).count(), for all 15 tables over a phase0 ->
    electra corpus (null payloads and sync aggregates before their forks,
    empty lists, electra execution requests).  Both sides read a parquet
    copy of the blocks, as the batch path reads its staging parquet."""
    from era_parser_spark.operators.normalize import TABLES

    staging = str(tmp_path / "staging")
    blocks_df.write.parquet(staging)
    blocks = spark.read.parquet(staging)
    era = F.expr("slot div 8192").alias("era_number")
    summed = blocks.groupBy(era).agg(
        *[F.sum(table.rows_per_block()).alias(t) for t, table in TABLES.items()]
    ).collect()
    assert sorted(r.era_number for r in summed) == sorted(ERA_FORKS)
    assert list(TABLES) == ALL_TABLES
    for t, table in TABLES.items():
        built = table.build(blocks).groupBy(era).count().collect()
        built = {r.era_number: r["count"] for r in built}
        got = {r.era_number: r[t] for r in summed}
        assert got == {e: built.get(e, 0) for e in ERA_FORKS}, t
        assert sum(got.values()) > 0, t  # every table is exercised
    # the corpus holds the degenerate shapes the null tests guard
    per_era = {r.era_number: r for r in summed}
    assert per_era[0]["execution_payloads"] == per_era[0]["sync_aggregates"] == 0
    assert per_era[1300]["deposit_requests"] == 0


def test_pruned_tables_equal_full_scan(spark, blocks_df, era_dir):
    """Each of the 15 tables built from a scan pruned to its own body
    fields (`read_era_blocks(tables=[t])`) equals the table built from the
    full scan, schema and rows, over the phase0 -> electra corpus: a
    pruning set that misses a field the table reads would leave that
    column null."""
    from collections import Counter

    from era_parser_spark.operators.normalize import TABLES
    from era_parser_spark.sources.era import read_era_blocks

    d, _ = era_dir
    for t in ALL_TABLES:
        pruned = TABLES[t].build(read_era_blocks(spark, d, glob="*.era", tables=[t]))
        full = TABLES[t].build(blocks_df)
        assert pruned.schema == full.schema, t
        rows = Counter(map(tuple, full.collect()))
        assert Counter(map(tuple, pruned.collect())) == rows and rows, t


def test_attester_slashing_invariants(blocks_df, era_dir):
    from era_parser_spark.operators.normalize import TABLES

    _, docs = era_dir
    rows = TABLES["attester_slashings"].build(blocks_df).collect()
    by_key = {(r.slot, r.slashing_index): r for r in rows}
    import json as _json

    for era, dlist in docs.items():
        for doc in dlist:
            for i, sl in enumerate(doc["message"]["body"].get("attester_slashings", [])):
                r = by_key[(doc["message"]["slot"], i)]
                i1 = sl["attestation_1"]["attesting_indices"]
                i2 = sl["attestation_2"]["attesting_indices"]
                assert _json.loads(r.att_1_attesting_indices) == i1
                assert r.att_1_validator_count == len(i1)
                assert r.att_2_validator_count == len(i2)
                assert r.total_slashed_validators == len(set(i1) | set(i2))


def test_participating_validators_popcount(blocks_df):
    from era_parser_spark.operators.normalize import popcount_hex

    df = blocks_df.sparkSession.createDataFrame(
        [(1, "0x" + "ff" * 64), (2, "0x" + "00" * 64), (3, "0x0f03"), (4, None)],
        ["id", "bits"],
    ).select("id", popcount_hex(F.col("bits")).alias("pc"))
    got = {r.id: r.pc for r in df.collect()}
    assert got == {1: 512, 2: 0, 3: 6, 4: None}

    from era_parser_spark.operators.normalize import TABLES

    for r in TABLES["sync_aggregates"].build(blocks_df).limit(20).collect():
        expected = bin(int(r.sync_committee_bits[2:], 16)).count("1")
        assert r.participating_validators == expected


def test_pruned_scan(spark, era_dir):
    from era_parser_spark.sources.era import read_era_blocks

    d, docs = era_dir
    df = read_era_blocks(spark, d, glob="*.era", tables=["attestations"])
    row = df.filter(F.col("era_number") == 2700).first()
    assert row.body.attestations is not None or True  # may be empty list
    assert row.body.execution_payload is None  # pruned away
    n_atts = sum(len(x["message"]["body"]["attestations"]) for x in docs[2700])
    from era_parser_spark.operators.normalize import TABLES

    assert (
        TABLES["attestations"].build(df.filter(F.col("era_number") == 2700)).count() == n_atts
    )


def test_stats_inventory_lookup(spark, blocks_df, era_dir):
    from era_parser_spark.sources.era import era_file_inventory, lookup_block, scan_stats

    d, docs = era_dir
    stats = {r.era_number: r for r in scan_stats(blocks_df).collect()}
    assert stats[0].block_count == len(docs[0])
    assert stats[0].min_slot == 0
    inv = {r.era_number: r for r in era_file_inventory(spark, d, glob="*.era").collect()}
    assert set(inv) == set(ERA_FORKS)
    assert inv[1300].network == "gnosis"
    one = lookup_block(blocks_df, 8192).collect()
    assert len(one) == 1 and one[0].version == "altair"


def test_wide_blocks(blocks_df, era_dir):
    from era_parser_spark.operators.normalize import wide_blocks_table

    _, docs = era_dir
    wide = wide_blocks_table(blocks_df)
    assert wide.count() == sum(len(v) for v in docs.values())
    r = {x.slot: x for x in wide.collect()}
    for doc in docs[1800]:
        msg = doc["message"]
        w = r[msg["slot"]]
        assert w.attestation_count == len(msg["body"]["attestations"])
        assert w.execution_block_number == msg["body"]["execution_payload"]["block_number"]


def test_inventory_md5(spark, era_dir):
    import hashlib

    from era_parser_spark.sources.era import era_file_inventory

    d, _ = era_dir
    inv = {r.era_number: r for r in era_file_inventory(spark, d, glob="*.era", with_md5=True).collect()}
    path = inv[0].path.replace("file:", "")
    expected = hashlib.md5(open(path, "rb").read()).hexdigest()
    assert inv[0].file_md5 == expected


def test_corrupt_block_isolation(spark, tmp_path):
    """One corrupt block record must not kill the scan (on_error='skip');
    on_error='fail' must surface it."""
    import struct

    from era_parser_spark.parsing import snappy as snappy_mod
    from era_parser_spark.parsing.beacon import encode_signed_block
    from era_parser_spark.sources.era import read_era_blocks
    from era_parser_spark.testing.era_gen import make_block_doc

    good = [
        snappy_mod.frame_compress(encode_signed_block(make_block_doc(s, "gnosis"), "phase0"))
        for s in (300, 301)
    ]
    # corrupt: valid snappy, truncated SSZ that still slot-peeks as 302
    bad_ssz = struct.pack("<I", 100) + b"\x00" * 96 + struct.pack("<Q", 302)
    bad = snappy_mod.frame_compress(bad_ssz)

    header = struct.Struct("<2sIH")
    out = bytearray(header.pack(b"e2", 0, 0))
    for payload in (good[0], bad, good[1]):
        out += header.pack(b"\x01\x00", len(payload), 0) + payload
    p = tmp_path / "gnosis-00000-deadbeef.era"
    p.write_bytes(bytes(out))

    df = read_era_blocks(spark, str(p))
    assert sorted(r.slot for r in df.select("slot").collect()) == [300, 301]

    import pytest as _pytest

    with _pytest.raises(Exception):
        read_era_blocks(spark, str(p), on_error="fail").collect()


def test_truncated_era_file_isolation(spark, tmp_path):
    """A truncated era file (partial download — the record stream itself dies
    mid-file) must yield the blocks parsed so far and skip the remainder under
    on_error='skip', not kill the task; other files in the same scan are
    unaffected.  on_error='fail' surfaces it."""
    import struct

    from era_parser_spark.parsing import snappy as snappy_mod
    from era_parser_spark.parsing.beacon import encode_signed_block
    from era_parser_spark.sources.era import read_era_blocks
    from era_parser_spark.testing.era_gen import make_block_doc

    payloads = [
        snappy_mod.frame_compress(encode_signed_block(make_block_doc(s, "gnosis"), "phase0"))
        for s in (300, 301, 302)
    ]
    header = struct.Struct("<2sIH")
    out = bytearray(header.pack(b"e2", 0, 0))
    out += header.pack(b"\x01\x00", len(payloads[0]), 0) + payloads[0]
    # second record's header declares the full length but the file ends
    # halfway through the payload
    out += header.pack(b"\x01\x00", len(payloads[1]), 0) + payloads[1][: len(payloads[1]) // 2]
    p_trunc = tmp_path / "gnosis-00000-deadbeef.era"
    p_trunc.write_bytes(bytes(out))

    # a healthy sibling file in the same scan
    out2 = bytearray(header.pack(b"e2", 0, 0))
    out2 += header.pack(b"\x01\x00", len(payloads[2]), 0) + payloads[2]
    p_ok = tmp_path / "gnosis-00001-deadbeef.era"
    p_ok.write_bytes(bytes(out2))

    df = read_era_blocks(spark, [str(p_trunc), str(p_ok)])
    assert sorted(r.slot for r in df.select("slot").collect()) == [300, 302]

    import pytest as _pytest

    with _pytest.raises(Exception):
        read_era_blocks(spark, str(p_trunc), on_error="fail").collect()


def test_content_riding_branch_matches_paths_only(spark, blocks_df, era_dir):
    """A8: remote schemes (s3a/hdfs) keep binaryFile's content column and
    the kernel parses the bytes that rode through the JVM->Arrow boundary.
    No object store here, so drive that branch directly: path+content in,
    and assert identical output to the local paths-only branch."""
    from era_parser_spark.sources.era import _PARSE_OUT_SCHEMA, _parser

    d, _ = era_dir
    src = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.era")
        .load(d)
        .select("path", "content")  # what a remote read keeps
    )
    parsed = src.mapInArrow(_parser(None, None), _PARSE_OUT_SCHEMA)
    got = sorted(
        (r.slot, r.version, r.block.signature)
        for r in parsed.select("slot", "version", "block").collect()
    )
    want = sorted(
        (r.slot, r.version, r.signature)
        for r in blocks_df.select("slot", "version", "signature").collect()
    )
    assert got == want


def test_slot_range_pushdown(spark, blocks_df, era_dir):
    """slot_range: same rows as a post-filter, era files pruned from the
    listing, and (per test_parse_kernel's index test) non-matching blocks
    inside surviving files are never snappy-decompressed."""
    from era_parser_spark.sources.era import _era_path_filter, read_era_blocks

    d, _ = era_dir
    all_slots = sorted(r.slot for r in blocks_df.select("slot").collect())
    lo, hi = all_slots[3], all_slots[-4]
    pushed = read_era_blocks(spark, d, glob="*.era", slot_range=(lo, hi))
    got = sorted(r.slot for r in pushed.select("slot").collect())
    assert got == [s for s in all_slots if lo <= s <= hi]

    # file-level pruning predicate: only eras overlapping the range survive
    paths = spark.createDataFrame(
        [(f"/x/gnosis-{e:05d}-aabbccdd.era",) for e in (1, 2, 3)]
        + [("/x/not-an-era-file.bin",)],
        "path string",
    )
    kept = sorted(
        r.path for r in paths.filter(_era_path_filter((2 * 8192, 2 * 8192 + 10))).collect()
    )
    assert kept == ["/x/gnosis-00002-aabbccdd.era", "/x/not-an-era-file.bin"]


def test_validate_era_files_and_corruption(spark, tmp_path):
    """validate: clean files pass every check; a flipped payload byte is
    caught by CRC; a truncated tail is flagged; CLI exit mirrors it."""
    import json as _json

    from era_parser_spark.cli import main as cli_main
    from era_parser_spark.sources.era import validate_era_files
    from era_parser_spark.testing.era_gen import era_filename, write_synthetic_era

    d = tmp_path / "val_eras"
    d.mkdir()
    for era in (1500, 1501):
        write_synthetic_era(str(d / era_filename("gnosis", era)), era, "gnosis", blocks=8)

    reports = {r.path.rsplit("/", 1)[-1]: r.asDict()
               for r in validate_era_files(spark, str(d)).collect()}
    assert len(reports) == 2 and all(r["ok"] for r in reports.values())
    good = next(iter(reports.values()))
    assert good["has_version_header"] and good["has_block_index"]
    assert good["bad_crc"] == 0 and good["index_mismatches"] == 0
    assert good["min_slot"] == 1500 * 8192 or good["min_slot"] == 1501 * 8192

    # corrupt one block payload byte (inside the first block record body)
    f = d / era_filename("gnosis", 1500)
    blob = bytearray(f.read_bytes())
    blob[8 + 8 + 40] ^= 0xFF  # version rec + block header + 40 into payload
    f.write_bytes(bytes(blob))
    # truncate the other file's tail
    f2 = d / era_filename("gnosis", 1501)
    f2.write_bytes(f2.read_bytes()[:-13])

    reports = {r.path.rsplit("/", 1)[-1]: r.asDict()
               for r in validate_era_files(spark, str(d)).collect()}
    r1500 = reports[era_filename("gnosis", 1500)]
    r1501 = reports[era_filename("gnosis", 1501)]
    assert not r1500["ok"] and r1500["bad_crc"] >= 1
    assert not r1501["ok"] and r1501["truncated"]

    assert cli_main(["validate", str(d)]) == 1


def test_validate_reads_content_for_remote_schemes(spark, tmp_path, monkeypatch):
    """Sources that are neither local nor http(s) (s3a, hdfs) hand the
    bytes over in binaryFile's `content` column; validate must check
    those bytes, not try a task-side fetch.  Emulated by making the
    driver see every path as non-local."""
    import era_parser_spark.sources.era as era
    from era_parser_spark.testing.era_gen import era_filename, write_synthetic_era

    d = tmp_path / "remote_eras"
    d.mkdir()
    for era_no in (1510, 1511):
        write_synthetic_era(str(d / era_filename("gnosis", era_no)), era_no,
                            "gnosis", blocks=6)
    f = d / era_filename("gnosis", 1511)
    f.write_bytes(f.read_bytes()[:-13])  # one report must say not ok

    def reports():
        return {
            r.path.rsplit("/", 1)[-1]: r.asDict()
            for r in era.validate_era_files(spark, str(d)).collect()
        }

    by_path = reports()
    monkeypatch.setattr(era, "_local_path", lambda path: None)
    assert era._source_rows(spark, str(d), "*.era").columns == ["path", "content"]
    assert reports() == by_path
    assert by_path[era_filename("gnosis", 1510)]["ok"]
    assert by_path[era_filename("gnosis", 1511)]["truncated"]


def test_parse_error_counter_accumulator(spark, tmp_path):
    """on_error='skip' + error_counter: corrupt SSZ blocks count task-side
    without failing the scan (CRC intact, body undecodable)."""
    from era_parser_spark.parsing import snappy as _snappy
    from era_parser_spark.parsing.e2store import (
        _HEADER, TYPE_COMPRESSED_BLOCK, iter_records,
    )
    from era_parser_spark.sources.era import parse_error_counter, read_era_blocks
    from era_parser_spark.testing.era_gen import era_filename, write_synthetic_era

    d = tmp_path / "acc_eras"
    d.mkdir()
    path = str(d / era_filename("gnosis", 1600))
    write_synthetic_era(path, 1600, "gnosis", blocks=8)

    # replace one block's payload with valid-snappy garbage: CRC passes,
    # SSZ decode fails -> exercises the skip path, not the CRC path
    blob = bytearray(open(path, "rb").read())
    rec = next(r for r in iter_records(bytes(blob)) if r.record_type == TYPE_COMPRESSED_BLOCK)
    garbage = _snappy.frame_compress(b"\x01" * 40)
    new = (
        bytes(blob[: rec.offset])
        + _HEADER.pack(TYPE_COMPRESSED_BLOCK, len(garbage), 0)
        + garbage
        + bytes(blob[rec.offset + _HEADER.size + len(rec.payload):])
    )
    open(path, "wb").write(new)

    acc = parse_error_counter(spark)
    got = read_era_blocks(spark, str(d), error_counter=acc).count()
    assert got == 7  # 8 blocks, 1 skipped
    assert acc.value == 1
