"""The columnar block decoder generated from the SSZ schema
(parsing/arrow_direct.py): Arrow output equal to the generic walk's on every
fork and body_include, atomic error behaviour on malformed input, the
uint64 range rule, and the Spark scan against `parse_block`.  The generic
walk (`Container.decode`, behind `decode_signed_block`/`parse_block`) is the
oracle throughout."""

from __future__ import annotations

import functools
import os

import pyarrow as pa
import pytest

from era_parser_spark.config.networks import FORKS, fork_at_slot
from era_parser_spark.parsing.arrow_direct import ColumnarBlockCollector
from era_parser_spark.parsing.beacon import (
    BODY_SCHEMAS,
    decode_signed_block,
    encode_signed_block,
    parse_block,
)
from era_parser_spark.parsing.ssz import SSZError
from era_parser_spark.sources.era import _PARSE_OUT_ARROW
from era_parser_spark.testing.era_gen import era_filename, make_block_doc, write_synthetic_era

BLOCK_TYPE = _PARSE_OUT_ARROW.field("block").type

# one gnosis era per fork: phase0, altair, bellatrix, capella, deneb, electra
FORK_ERAS = [0, 1, 800, 1600, 1800, 2905]

_BLOCKS_FIELDS = {"eth1_data", "graffiti", "randao_reveal"}
# the body fields the 15 tables read: each table's body path, plus the
# three the blocks table names
_ALL_TABLES_FIELDS = _BLOCKS_FIELDS | {
    "sync_aggregate",
    "execution_payload",
    "attestations",
    "deposits",
    "voluntary_exits",
    "proposer_slashings",
    "attester_slashings",
    "bls_to_execution_changes",
    "blob_kzg_commitments",
    "execution_requests",
}
ALL_INCLUDES = [
    None,  # full bodies
    _ALL_TABLES_FIELDS,  # all 15 tables
    {"attestations"},
    _BLOCKS_FIELDS,
    _BLOCKS_FIELDS | {"attestations"},
    {"execution_payload"},
]


def _include_id(include) -> str:
    if include is None:
        return "full"
    if include == ALL_INCLUDES[1]:
        return "all_tables"
    return "+".join(sorted(include))


# body lists the generator fills only sometimes; _era_blocks keeps drawing
# slots until each has shown up non-empty at least once
_SPARSE_LISTS = (
    "proposer_slashings", "attester_slashings", "deposits", "voluntary_exits",
    "bls_to_execution_changes",
)


@functools.lru_cache(maxsize=None)
def _era_blocks(era: int) -> tuple[tuple[bytes, ...], str]:
    """SSZ blocks of one era's fork: 24 consecutive slots plus extra slots
    until every sparse body list has been non-empty at least once."""
    start = era * 8192
    fork = fork_at_slot(start, "gnosis")
    docs = [make_block_doc(start + i, "gnosis") for i in range(24)]
    missing = {
        k for k in _SPARSE_LISTS
        if k in docs[0]["message"]["body"]
        and not any(d["message"]["body"][k] for d in docs)
    }
    slot = start + 24
    while missing:
        doc = make_block_doc(slot, "gnosis")
        got = {k for k in missing if doc["message"]["body"][k]}
        if got:
            docs.append(doc)
            missing -= got
        slot += 1
    return tuple(encode_signed_block(d, fork) for d in docs), fork


def _oracle(raws, fork: str, include) -> pa.Array:
    docs = [decode_signed_block(r, fork, body_include=include) for r in raws]
    return pa.array(docs, type=BLOCK_TYPE)


def test_fork_schemas_pinned_to_networks():
    """Every fork the network config can name has a body schema; a new
    fork without one would be skipped block by block as unparseable."""
    assert set(BODY_SCHEMAS) == set(FORKS)


@pytest.mark.parametrize("era", FORK_ERAS)
@pytest.mark.parametrize("include", ALL_INCLUDES, ids=_include_id)
def test_columnar_equals_dict_ir_per_fork(era, include):
    """Arrow output must EQUAL pa.array over the generic walk's documents
    (pa.Array.equals is a deep compare) for every fork and pruning set."""
    raws, fork = _era_blocks(era)
    coll = ColumnarBlockCollector(BLOCK_TYPE, include)
    for raw in raws:
        coll.append(raw, fork)
    got = coll.flush()
    assert got.equals(_oracle(raws, fork, include))
    assert len(coll) == 0  # flush resets
    # the collector is reusable after a flush
    coll.append(raws[0], fork)
    assert coll.flush().equals(_oracle(raws[:1], fork, include))


def test_mixed_forks_in_one_batch():
    """One batch spanning every fork: fields a fork lacks are null rows."""
    raws, forks = [], []
    for era in FORK_ERAS:
        blocks, fork = _era_blocks(era)
        raws += blocks[:3]
        forks += [fork] * 3
    for include in (None, {"attestations", "sync_aggregate"}):
        coll = ColumnarBlockCollector(BLOCK_TYPE, include)
        for raw, fork in zip(raws, forks):
            coll.append(raw, fork)
        want = pa.array(
            [decode_signed_block(r, f, body_include=include) for r, f in zip(raws, forks)],
            type=BLOCK_TYPE,
        )
        assert coll.flush().equals(want)


def test_append_returns_payload_timestamp():
    """append returns the payload timestamp (derive_timestamp's first
    choice), or 0 when there is none: pre-merge, or payload pruned."""
    for era in (0, 2905):
        raws, fork = _era_blocks(era)
        doc = parse_block(raws[0], "gnosis", is_compressed=False)
        payload = doc["data"]["message"]["body"].get("execution_payload")
        want = payload["timestamp"] if payload else 0
        assert ColumnarBlockCollector(BLOCK_TYPE).append(raws[0], fork) == want
        pruned = ColumnarBlockCollector(BLOCK_TYPE, {"attestations"})
        assert pruned.append(raws[0], fork) == 0


def _valid_block(era: int = 1600) -> tuple[bytes, str]:
    """Encode one valid block via the schema encoder (the same round-trip
    machinery the SSZ suite pins); returns (bytes, fork)."""
    slot = era * 8192
    fork = fork_at_slot(slot, "gnosis")
    return encode_signed_block(make_block_doc(slot, "gnosis"), fork), fork


def _attestations_span(raw: bytes) -> tuple[int, int]:
    """Absolute [start, end) of the body's attestations list payload (body
    var offsets #2 and #3 sit at 208 and 212 on every fork)."""
    msg_off = int.from_bytes(raw[0:4], "little")
    body = msg_off + int.from_bytes(raw[msg_off + 80 : msg_off + 84], "little")
    lo = int.from_bytes(raw[body + 208 : body + 212], "little")
    hi = int.from_bytes(raw[body + 212 : body + 216], "little")
    return body + lo, body + hi


def test_append_is_atomic_on_malformed_input():
    """A failed append leaves no partial state: the flushed batch equals
    the good blocks alone, even when the failure comes after many columns
    (header, earlier body fields, earlier attestations) were appended."""
    raws, fork = _era_blocks(2905)
    good = next(
        r for r in raws
        if len(decode_signed_block(r, fork)["message"]["body"]["attestations"]) > 1
    )
    # the last attestation's bitlist becomes empty (no sentinel bit): the
    # error is raised after every earlier column of the block was appended
    lo, hi = _attestations_span(good)
    n_att = int.from_bytes(good[lo : lo + 4], "little") // 4
    last = lo + int.from_bytes(good[lo + 4 * (n_att - 1) : lo + 4 * n_att], "little")
    late = bytearray(good)
    late[last : last + 4] = (hi - last).to_bytes(4, "little")
    with pytest.raises(SSZError, match="sentinel"):
        decode_signed_block(bytes(late), fork)
    # message offset beyond the buffer
    far = bytearray(good)
    far[0:4] = (len(good) + 100).to_bytes(4, "little")
    for include in (None, {"attestations"}):
        coll = ColumnarBlockCollector(BLOCK_TYPE, include)
        coll.append(good, fork)
        for bad in (good[:50], bytes(far), bytes(late)):
            with pytest.raises(SSZError):
                coll.append(bad, fork)
        assert len(coll) == 1
        coll.append(good, fork)
        assert coll.flush().equals(_oracle([good, good], fork, include)), include


def test_malformed_attestation_list_raises_like_generic():
    """The same malformed attestation payloads must fail BOTH paths."""
    good, fork = _valid_block()
    raw = bytearray(good)
    att_abs, _ = _attestations_span(good)
    raw[att_abs : att_abs + 4] = (3).to_bytes(4, "little")  # head not %4
    coll = ColumnarBlockCollector(BLOCK_TYPE, {"attestations"})
    with pytest.raises(SSZError):
        coll.append(bytes(raw), fork)
    with pytest.raises(SSZError):
        decode_signed_block(bytes(raw), fork, body_include={"attestations"})


def test_pruned_field_offsets_still_checked():
    """A broken offset chain in a field the scan does not decode still
    rejects the block, as the generic walk does."""
    good, fork = _valid_block(2905)
    raw = bytearray(good)
    msg_off = int.from_bytes(raw[0:4], "little")
    body_abs = msg_off + int.from_bytes(raw[msg_off + 80 : msg_off + 84], "little")
    # deposits offset (body var #3) far past the end of the body
    raw[body_abs + 212 : body_abs + 216] = (1 << 30).to_bytes(4, "little")
    with pytest.raises(SSZError):
        decode_signed_block(bytes(raw), fork, body_include={"graffiti"})
    with pytest.raises(SSZError):
        ColumnarBlockCollector(BLOCK_TYPE, {"graffiti"}).append(bytes(raw), fork)


def test_uint64_beyond_int64_raises_at_append():
    """A valid uint64 the LongType column cannot hold is rejected at
    append, as SSZError, for leaves and List[uint64] elements alike."""
    slot = 1800 * 8192
    fork = fork_at_slot(slot, "gnosis")
    doc = make_block_doc(slot, "gnosis")
    doc["message"]["proposer_index"] = 2**63 + 5
    coll = ColumnarBlockCollector(BLOCK_TYPE, {"graffiti"})
    with pytest.raises(SSZError, match="int64"):
        coll.append(encode_signed_block(doc, fork), fork)
    assert len(coll) == 0 and len(coll.flush()) == 0

    raws, fork = _era_blocks(1800)
    docs = [decode_signed_block(r, fork) for r in raws]
    doc = next(d for d in docs if d["message"]["body"]["attester_slashings"])
    doc["message"]["body"]["attester_slashings"][0]["attestation_1"][
        "attesting_indices"
    ][-1] = 2**64 - 1
    with pytest.raises(SSZError, match="int64"):
        ColumnarBlockCollector(BLOCK_TYPE).append(encode_signed_block(doc, fork), fork)


def _write_era(path: str, docs: list[dict]) -> None:
    from era_parser_spark.parsing.e2store import write_era

    payloads = [
        encode_signed_block(d, fork_at_slot(d["message"]["slot"], "gnosis")) for d in docs
    ]
    with open(path, "wb") as f:
        f.write(write_era(payloads))


def test_uint64_block_skipped_alone_in_spark_scan(spark, tmp_path):
    """One block whose proposer_index is 2**63 + 5 (valid SSZ, too wide for
    LongType) costs that block only under on_error='skip' and fails the
    scan under on_error='fail'."""
    from era_parser_spark.sources.era import parse_error_counter, read_era_blocks

    era = 1800
    docs = [make_block_doc(era * 8192 + i, "gnosis") for i in range(10)]
    docs[4]["message"]["proposer_index"] = 2**63 + 5
    d = str(tmp_path)
    _write_era(os.path.join(d, era_filename("gnosis", era)), docs)
    for tables in (None, ["blocks"]):
        counter = parse_error_counter(spark)
        df = read_era_blocks(spark, d, glob="*.era", tables=tables, error_counter=counter)
        assert df.count() == 9, tables
        assert counter.value == 1
    with pytest.raises(Exception, match="int64"):
        read_era_blocks(spark, d, glob="*.era", on_error="fail").count()


def _expected_rows(paths: list[str], include) -> list[tuple]:
    """Scan rows built from parse_block, the generic walk's envelope."""
    from era_parser_spark.parsing import snappy
    from era_parser_spark.parsing.e2store import TYPE_COMPRESSED_BLOCK, iter_records

    parsed = []
    for path in paths:
        for rec in iter_records(open(path, "rb").read()):
            if rec.record_type == TYPE_COMPRESSED_BLOCK:
                raw = snappy.decompress(rec.payload)
                parsed.append(parse_block(raw, "gnosis", is_compressed=False, body_include=include))
    bodies = pa.array(
        [p["data"]["message"]["body"] for p in parsed],
        type=BLOCK_TYPE.field("message").type.field("body").type,
    ).to_pylist()
    return sorted(
        (
            p["data"]["message"]["slot"],
            p["version"],
            p["timestamp_utc"],
            p["data"]["message"]["proposer_index"],
            p["data"]["message"]["parent_root"],
            p["data"]["message"]["state_root"],
            p["data"]["signature"],
            body,
            p["metadata"]["decompressed_size"],
        )
        for p, body in zip(parsed, bodies)
    )


def test_spark_scan_differential(spark, tmp_path):
    """read_era_blocks rows equal rows built from parse_block, full and
    pruned, with three forks in one directory."""
    from pyspark.sql import functions as F

    from era_parser_spark.sources.era import read_era_blocks

    d = str(tmp_path)
    paths = []
    for era in (0, 1600, 2905):
        paths.append(os.path.join(d, era_filename("gnosis", era)))
        write_synthetic_era(paths[-1], era, "gnosis", blocks=12)
    for tables, include in (
        (None, None),
        (["blocks", "attestations"], _BLOCKS_FIELDS | {"attestations"}),
        (["execution_payloads"], {"execution_payload"}),
    ):
        rows = read_era_blocks(spark, d, glob="*.era", tables=tables).select(
            "slot", "version", F.col("timestamp_utc").cast("long"), "proposer_index",
            "parent_root", "state_root", "signature", "body", "decompressed_size",
        ).collect()
        got = sorted(
            tuple(r[:7]) + (r["body"].asDict(recursive=True), r[8]) for r in rows
        )
        assert got == _expected_rows(paths, include) and len(got) > 0, tables


def test_corrupt_blocks_skipped_identically_in_spark_scan(spark, tmp_path):
    """on_error='skip' keeps the scan alive: of ten blocks, one is cut
    short and one has its body offset past the end.  The scan keeps exactly
    the blocks the generic walk decodes and counts the other two."""
    from era_parser_spark.parsing import snappy
    from era_parser_spark.parsing.e2store import TYPE_COMPRESSED_BLOCK, iter_records, write_era
    from era_parser_spark.sources.era import parse_error_counter, read_era_blocks

    era = 1600
    fork = fork_at_slot(era * 8192, "gnosis")
    payloads = [
        encode_signed_block(make_block_doc(era * 8192 + i, "gnosis"), fork) for i in range(10)
    ]
    payloads[3] = payloads[3][: len(payloads[3]) // 2]
    bad = bytearray(payloads[7])
    body_off_at = int.from_bytes(bad[0:4], "little") + 80
    bad[body_off_at : body_off_at + 4] = b"\xff" * 4
    payloads[7] = bytes(bad)
    path = os.path.join(str(tmp_path), era_filename("gnosis", era))
    with open(path, "wb") as f:
        f.write(write_era(payloads))
    n_ok = 0
    for rec in iter_records(open(path, "rb").read()):
        if rec.record_type == TYPE_COMPRESSED_BLOCK:
            raw = snappy.decompress(rec.payload)
            try:
                decode_signed_block(raw, fork, body_include={"attestations"})
                n_ok += 1
            except SSZError:
                pass
    assert n_ok == 8
    counter = parse_error_counter(spark)
    n = read_era_blocks(
        spark, str(tmp_path), glob="*.era", tables=["attestations"], error_counter=counter
    ).count()
    assert n == n_ok and counter.value == 10 - n_ok
