"""Parse-kernel tests: differential parity against the reference's RPC
fixtures (its own oracle strategy, SURVEY §5), synthetic round-trips for the
forks the fixtures don't cover (bellatrix, electra), snappy codec vectors,
and the SSZ edge cases from the risk register (empty lists, pruned decode).
"""

from __future__ import annotations

import json
import os

import pytest

from era_parser_spark.config.networks import (
    detect_network,
    era_slot_range,
    fork_at_slot,
    parse_era_filename,
    slot_timestamp,
)
from era_parser_spark.parsing import snappy
from era_parser_spark.parsing.beacon import (
    decode_signed_block,
    derive_timestamp,
    encode_signed_block,
    parse_block,
    peek_slot,
    stringify,
)
from era_parser_spark.parsing.e2store import era_stats, iter_block_payloads, write_era
from era_parser_spark.testing.era_gen import make_block_doc

FIXTURE_DIR = "/root/reference/tests/test_data"
FIXTURES = {
    "gnosis_300": "phase0",
    "gnosis_98300": "altair",
    "gnosis_10379290": "capella",
    "gnosis_12678717": "capella",
    "gnosis_16383000": "deneb",
}


@pytest.mark.parametrize("name,fork", sorted(FIXTURES.items()))
def test_rpc_fixture_roundtrip(name, fork):
    """encode(rpc_doc) then decode must reproduce the RPC document exactly
    (field-for-field, the reference's DeepDiff parity bar)."""
    if not os.path.exists(f"{FIXTURE_DIR}/{name}_rpc.json"):
        pytest.skip("reference fixtures unavailable")
    rpc = json.load(open(f"{FIXTURE_DIR}/{name}_rpc.json"))["data"]
    ssz = encode_signed_block(rpc, fork)
    assert stringify(decode_signed_block(ssz, fork)) == rpc


@pytest.mark.parametrize("name,fork", sorted(FIXTURES.items()))
def test_fixture_slot_fork_dispatch(name, fork):
    slot = int(name.split("_")[1])
    assert fork_at_slot(slot, "gnosis") == fork


@pytest.mark.parametrize("fork_slot", [(0, "phase0"), (8200, "altair"), (6500000, "bellatrix"), (10400000, "capella"), (14300000, "deneb"), (21500000, "electra")])
def test_synthetic_roundtrip_all_forks(fork_slot):
    """Synthetic docs cover bellatrix/electra, which have no RPC fixture."""
    slot, fork = fork_slot
    assert fork_at_slot(slot, "gnosis") == fork
    doc = make_block_doc(slot, "gnosis")
    ssz = encode_signed_block(doc, fork)
    assert peek_slot(ssz) == slot
    assert decode_signed_block(ssz, fork) == doc


def test_parse_block_envelope():
    slot = 21500000  # electra on gnosis
    doc = make_block_doc(slot, "gnosis")
    payload = snappy.frame_compress(encode_signed_block(doc, "electra"))
    out = parse_block(payload, "gnosis")
    assert out["version"] == "electra"
    assert out["data"] == doc
    assert out["metadata"]["compressed_size"] == len(payload)
    # payload timestamp (>0) wins over genesis math — and equals it here
    assert out["timestamp_utc"] == slot_timestamp(slot, "gnosis")


def test_pruned_decode_matches_full():
    doc = make_block_doc(21500000, "gnosis")
    ssz = encode_signed_block(doc, "electra")
    pruned = decode_signed_block(ssz, "electra", body_include={"attestations", "eth1_data"})
    body = pruned["message"]["body"]
    assert set(body) == {"attestations", "eth1_data"}
    assert body["attestations"] == doc["message"]["body"]["attestations"]
    assert pruned["message"]["slot"] == doc["message"]["slot"]
    assert pruned["signature"] == doc["signature"]


def test_empty_lists_and_empty_extra_data():
    """Risk register: equal offsets => empty fields; '0x' byte lists."""
    doc = make_block_doc(10400000, "gnosis")
    body = doc["message"]["body"]
    for key in ("proposer_slashings", "attester_slashings", "attestations", "deposits", "voluntary_exits", "bls_to_execution_changes"):
        body[key] = []
    body["execution_payload"]["transactions"] = []
    body["execution_payload"]["withdrawals"] = []
    body["execution_payload"]["extra_data"] = "0x"
    ssz = encode_signed_block(doc, "capella")
    assert decode_signed_block(ssz, "capella") == doc


def test_timestamp_fallback_pre_merge():
    doc = make_block_doc(300, "gnosis")  # phase0: no payload
    assert derive_timestamp(doc, "gnosis") == 1638993340 + 300 * 5


def test_snappy_crc32c_vector():
    # published CRC-32C check value for '123456789'
    assert snappy.crc32c(b"123456789") == 0xE3069283


@pytest.mark.parametrize("blob", [b"", b"a", b"ab" * 40000, bytes(range(256)) * 123])
def test_snappy_roundtrips(blob):
    assert snappy.decompress_raw(snappy.compress_raw(blob)) == blob
    assert snappy._decompress_raw_py(snappy.compress_raw(blob)) == blob
    assert snappy.frame_decompress(snappy.frame_compress(blob), verify_crc=True) == blob
    assert snappy.decompress(snappy.frame_compress(blob)) == blob


def test_snappy_copy_tags():
    """Hand-built raw stream exercising copy-with-overlap (RLE) decoding —
    the C fast path and the pure-Python fallback must agree."""
    # varint(9), literal 'abc', copy1 offset=3 len=6 -> 'abcabcabc'
    stream = bytes([9, (3 - 1) << 2]) + b"abc" + bytes([((6 - 4) << 2) | 1, 3])
    assert snappy.decompress_raw(stream) == b"abcabcabc"
    assert snappy._decompress_raw_py(stream) == b"abcabcabc"


def test_e2store_roundtrip_and_stats():
    docs = [make_block_doc(s, "gnosis") for s in (300, 301, 303)]
    payloads = [encode_signed_block(d, "phase0") for d in docs]
    era = write_era(payloads, state=b"state-bytes")
    got = list(iter_block_payloads(era))
    assert [s for s, _ in got] == [300, 301, 303]
    assert [snappy.decompress(p) for _, p in got] == payloads
    stats = era_stats(era)
    assert stats["block_count"] == 3
    assert stats["min_slot"] == 300 and stats["max_slot"] == 303
    assert stats["record_counts"] == {"version": 1, "block": 3, "state": 1, "slot_index": 1}


def test_slot_index_bytes_match_per_slot_packing():
    """write_era packs the SlotIndex payload in one call; its bytes equal
    the per-slot form: start slot, one signed little-endian offset per
    slot (relative to the index record, 0 for an empty slot), count."""
    import struct

    from era_parser_spark.parsing.e2store import (
        TYPE_COMPRESSED_BLOCK,
        TYPE_SLOT_INDEX,
        iter_records,
    )

    slots = (300, 301, 303)
    payloads = [encode_signed_block(make_block_doc(s, "gnosis"), "phase0") for s in slots]
    recs = list(iter_records(write_era(payloads, state=b"state-bytes")))
    blocks = [r.offset for r in recs if r.record_type == TYPE_COMPRESSED_BLOCK]
    (index,) = [r for r in recs if r.record_type == TYPE_SLOT_INDEX]
    rel = [0] * 4
    for slot, off in zip(slots, blocks):
        rel[slot - 300] = off - index.offset
    want = (
        struct.pack("<q", 300)
        + b"".join(struct.pack("<q", r) for r in rel)
        + struct.pack("<q", 4)
    )
    assert bytes(index.payload) == want


def test_slot_index_pushdown_skips_decompression(monkeypatch):
    """slot_range over a real index must not snappy-decompress non-matches."""
    from era_parser_spark.parsing import e2store

    docs = [make_block_doc(s, "gnosis") for s in (300, 301, 303)]
    payloads = [encode_signed_block(d, "phase0") for d in docs]
    era = write_era(payloads, state=b"state-bytes")

    idx = e2store.find_block_index(era)
    assert idx is not None
    assert dict(idx.entries()).keys() == {300, 301, 303}

    calls = []
    real = snappy.decompress
    monkeypatch.setattr(e2store.snappy, "decompress", lambda b: calls.append(1) or real(b))
    got = list(iter_block_payloads(era, slot_range=(301, 301)))
    assert calls == []  # slot came from the index, nothing decompressed
    assert [s for s, _ in got] == [301]
    assert real(got[0][1]) == payloads[1]

    # A file without a readable index falls back to scan-and-filter.
    truncated = era[: len(era) - (8 + 16 + 8 * 4)]  # strip the i2 record
    assert e2store.find_block_index(truncated) is None
    got_fb = list(iter_block_payloads(truncated, slot_range=(301, 303)))
    assert [s for s, _ in got_fb] == [301, 303]


def test_slot_index_spec_byte_fixture():
    """Reader vs the e2store spec itself, not vs our own writer.

    Hand-assembled byte-literal era layout (reference docs/ERA_FILE_FORMAT.md
    :27-40): version | block | block | state | block-SlotIndex | state-
    SlotIndex.  Unlike write_era output this has the real-archive trailing
    *state* index after the block index (write_era emits only the block
    index), so the backward two-record walk and the points-at-blocks
    discrimination are both exercised against spec-derived bytes that the
    writer couldn't have co-invented.  SlotIndex payload per spec:
    start_slot i64 | offset i64 x count | count i64, offsets relative to the
    start of the index record header, 0 = empty slot.
    """
    import struct

    from era_parser_spark.parsing.e2store import find_block_index

    def rec(rtype: bytes, payload: bytes) -> bytes:
        return rtype + struct.pack("<IH", len(payload), 0) + payload

    q = lambda v: struct.pack("<q", v)

    out = bytearray()
    out += rec(b"e2", b"")                              # version @ 0
    blk_a = len(out)                                    # 8
    out += rec(b"\x01\x00", b"AAAA")                    # block @ 8, len 4
    blk_b = len(out)                                    # 20
    out += rec(b"\x01\x00", b"BBBBBB")                  # block @ 20, len 6
    state_off = len(out)                                # 34
    out += rec(b"\x02\x00", b"SSSSS")                   # state @ 34
    blk_idx_off = len(out)                              # 47
    # slots 100..102, slot 101 empty (offset 0)
    out += rec(
        b"i2",
        q(100) + q(blk_a - blk_idx_off) + q(0) + q(blk_b - blk_idx_off) + q(3),
    )
    st_idx_off = len(out)
    out += rec(b"i2", q(100) + q(state_off - st_idx_off) + q(1))

    idx = find_block_index(bytes(out))
    assert idx is not None
    assert idx.start_slot == 100
    # absolute offsets resolved, empty slot skipped, state index rejected
    assert list(idx.entries()) == [(100, blk_a), (102, blk_b)]

    # corrupt the trailing count -> no index, reader must signal fallback
    bad = bytes(out[:-8]) + struct.pack("<q", 999)
    assert find_block_index(bad) is None


def test_filename_and_era_math():
    meta = parse_era_filename("/data/gnosis-01267-0a1b2c3d.era")
    assert meta == {"network": "gnosis", "era_number": 1267, "short_hash": "0a1b2c3d"}
    assert detect_network("s3://bucket/mainnet-00001-aaaaaaaa.era") == "mainnet"
    assert detect_network("unknown-thing.era") == "mainnet"
    assert era_slot_range(1) == (8192, 16383)
